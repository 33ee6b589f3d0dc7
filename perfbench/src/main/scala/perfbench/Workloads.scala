package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.builders.Tpch
import graft.model.DataCube
import graft.operators.AggregateNavigator.NavMeasure
import graft.query.dsl._

/** One operation of a workload: `construct` is the call into the engine
  * that returns a DataFrame (or runs a build and returns None); the
  * benchmark then collects the DataFrame as the action. */
final case class Op(key: String, kind: String,
                    construct: SparkSession => Option[DataFrame])

/** What a workload builds once per session, before its timed section. */
final case class Built(cube: Option[DataCube], timings: Seq[(String, Double)])

object Workloads {

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** The navigator summaries `olap_star` writes once per set-up (q81's). */
  val SummarySets = Seq(
    "seg_year_region" -> Seq("c_mktsegment", "d_year", "r_name"),
    "seg_year" -> Seq("c_mktsegment", "d_year"))
  val SummaryMeasures = Seq(NavMeasure("sum", "sum_qty", "sum_qty"),
    NavMeasure("sum", "n", "n"))

  private def dbl(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("double")))

  /** The star-request templates of `olap_star`, each a public DSL or cube
    * call with literals from the request. */
  def olap(c: DataCube, navRoot: String, template: String,
           a: Map[String, Seq[Any]]): DataFrame = {
    def one(k: String): Any = a(k).head
    template match {
      case "slice_dice" =>
        dbl(c.q(Seq(
          dim("order").where("c_mktsegment" -> a("segment")),
          dim("part").where("p_brand" -> a("brands"))), drop = false)
          .aggregate(Seq("p_brand", "d_year")).fact.data
          .select("p_brand", "d_year", "sum_qty", "sum_price", "n"), "sum_price")
      case "collapse" =>
        dbl(c.q(
          dim("date").where("d_year" -> a("years")).collapse(),
          dim("supplier").collapse(), dim("order").collapse())
          .aggregate(Seq("p_brand")).fact.data
          .select("p_brand", "sum_qty", "sum_disc_price", "n"), "sum_disc_price")
      case "aggregate" =>
        dbl(c.aggregate(Seq("c_mktsegment", "d_year", "r_name"),
          filters = Map("part" -> Map("p_type" -> a("types")))).fact.data
          .select("c_mktsegment", "d_year", "r_name", "sum_qty", "sum_price", "n"),
          "sum_price")
      case "rollup" =>
        c.q(Seq(dim("supplier").where("r_name" -> a("region"))), drop = false)
          .rollupFlat(Seq("d_year", "d_quarter", "d_month"))
          .select("d_year", "d_quarter", "d_month", "sum_qty", "n", "level")
      case "cube" =>
        dbl(c.q(Seq(dim("part").where("p_type" -> a("type"))), drop = false)
          .cubeFlat(Seq("c_mktsegment", "d_year"))
          .select("c_mktsegment", "d_year", "sum_qty", "sum_price", "level"),
          "sum_price")
      case "grouping_sets" =>
        c.q(Seq(dim("order").where("c_mktsegment" -> a("segment"))), drop = false)
          .groupingSetsFlat(Seq("d_year", "p_brand", "c_mktsegment"),
            Seq(Seq("d_year", "p_brand"), Seq("d_year"), Seq.empty))
          .select("d_year", "p_brand", "c_mktsegment", "sum_qty", "n", "level")
      case "denormalize" =>
        dbl(c.q(Seq(dim("part").where("p_brand" -> a("brand")),
          dim("supplier").where("r_name" -> a("region"))), drop = false)
          .denormalize()
          .select("o_orderkey", "p_partkey", "s_suppkey", "d_date", "p_brand",
            "p_name", "n_name", "c_mktsegment", "sum_qty", "sum_price", "n"),
          "sum_price")
      case "pivot" =>
        c.aggregate(Seq("d_year", "c_mktsegment"),
          filters = Map("supplier" -> Map("r_name" -> a("region")))).fact.data
          .groupBy("d_year").pivot("c_mktsegment", Segments)
          .agg(first(col("sum_qty"))).na.fill(0.0, Segments)
      case "topk" =>
        val k = one("k").asInstanceOf[Number].intValue
        val w = Window.partitionBy("p_brand")
          .orderBy(col("revenue").desc, col("p_partkey").asc)
        c.aggregate(Seq("p_brand", "p_partkey"),
          filters = Map("order" -> Map("c_mktsegment" -> a("segment")))).fact.data
          .withColumn("revenue", col("sum_disc_price").cast("double"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .select("p_brand", "p_partkey", "revenue", "rk")
      case "time_intelligence" =>
        c.aggregate(Seq("c_mktsegment", "d_year"),
          filters = Map("supplier" -> Map("r_name" -> a("region"))))
          .timeIntelligence("d_year")
          .select("c_mktsegment", "d_year", "sum_qty", "cum_sum_qty",
            "prev_sum_qty", "delta_sum_qty", "n", "cum_n")
      case "share_along" =>
        c.aggregate(Seq("d_year", "c_mktsegment"),
          filters = Map("part" -> Map("p_type" -> a("type"))))
          .shareAlong("c_mktsegment")
          .select("d_year", "c_mktsegment", "sum_qty", "share_sum_qty", "n",
            "share_n")
      case "routed" =>
        val (ans, via) = c.aggregateRouted(Seq("c_mktsegment"), navRoot,
          filters = Map("d_year" -> a("years")))
        ans.withColumn("routed_via", lit(via))
      case other =>
        throw new IllegalArgumentException(s"unknown template $other")
    }
  }

  /** The catalogue name of query `name` (e.g. `q137` -> `q137_html_extract`). */
  def catalogueKey(name: String): String =
    graft.SparkEntry.queries.keys.find(_.startsWith(name + "_")).getOrElse(name)

  /** A catalogue query (`SparkEntry.queries`) by its number. */
  def catalogue(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(catalogueKey(name),
      throw new IllegalArgumentException(s"no catalogue query $name"))

  def oracleFor(name: String): Option[String] =
    graft.SparkEntry.oracleSql.get(catalogueKey(name))

  /** The v4 curation chain rebuilt from scratch: the first part of every
    * `curation_batch` pass. */
  def rebuildV4(spark: SparkSession, dir: String): Unit = {
    graft.queries.ExtensionQueries.invalidateV4(spark, dir)
    graft.queries.ExtensionQueries.warmV4(spark, dir)
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The once-per-session state each workload builds in set-up. */
  def setup(workload: String, spark: SparkSession, dir: String,
            navRoot: String): Built = workload match {
    case "olap_star" =>
      val (_, cubeS) = timed(Tpch.warm(spark, dir))
      val c = Tpch.cube(spark, dir)
      val (_, sumS) = timed(c.summarize(navRoot, SummarySets, SummaryMeasures))
      Built(Some(c), Seq("cube_build_s" -> cubeS, "summaries_build_s" -> sumS))
    case "curation_batch" =>
      val (n, readS) = timed(spark.read.parquet(s"$dir/documents.parquet").count())
      val (_, v4S) = timed(rebuildV4(spark, dir))
      Built(None, Seq("corpus_read_s" -> readS, "corpus_docs" -> n.toDouble,
        "v4_build_s" -> v4S))
    case "store_maintenance" =>
      val (_, readS) = timed(Seq("customer", "orders", "lineitem", "documents",
        "embeddings").foreach(t => spark.read.parquet(s"$dir/$t.parquet").count()))
      val (_, cubeS) = timed(Tpch.warm(spark, dir))
      Built(Some(Tpch.cube(spark, dir)),
        Seq("inputs_read_s" -> readS, "cube_build_s" -> cubeS))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
