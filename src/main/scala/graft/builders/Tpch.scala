package graft.builders

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model._
import graft.util.SessionMemo

/** Adapter from the driver's TPC-H-ish parquet star schema
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §5) to a [[DataCube]]
  * — the equivalent of the reference's `populate_star` + `as.data.cube.list`
  * entry (R/populate.R:17-115, R/as.data.cube.R:144-162), but reading real
  * parquet instead of generating in memory.
  *
  * Cube shape: lineitem fact at grain (order, part, supplier, ship-date) with
  * snowflaked dimensions —
  *  - part:      p_type -> p_brand -> p_partkey            (product h.)
  *  - supplier:  r_name -> n_name -> s_suppkey             (geo h., snowflaked
  *               through nation/region like the reference's geography,
  *               R/populate.R:84-93)
  *  - order:     c_mktsegment -> c_custkey -> o_orderkey   (customer h.)
  *               and c_nation -> c_custkey -> o_orderkey
  *  - date:      d_year -> d_quarter -> d_month -> d_date  (monthly h.) and
  *               d_year -> d_week -> d_date                (weekly h.) —
  *               the reference time dimension's two hierarchies
  *               (R/populate.R:96-109)
  *
  * Measures: sum(qty), exact decimal sums for money (deterministic and
  * engine-portable, unlike double summation order), and an additive row
  * count `n` (the cranlogs `.N` pattern, inst/cubes/cranlogs.R:56-83).
  */
object Tpch {

  /** The input table `name` of a fixture directory. A `read.parquet`
    * without a schema runs one Spark job on every call to infer it from
    * the footers; this reader infers it once per (session, path,
    * modification time) and reads with `.schema`, which runs none. The
    * modification time is part of the key, so a table rewritten under
    * the same path is inferred again. A missing table fails by name. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"$path does not exist — not an input table")
    val stamp = fs.getFileStatus(p).getModificationTime
    spark.read.schema(schemas.get(spark, s"$stamp|$path")).parquet(path)
  }

  private val schemas = new SessionMemo[StructType]("input_schemas",
    build = (s, key) => s.read.parquet(key.substring(key.indexOf('|') + 1)).schema,
    fill = _ => (), release = _ => ())

  /** The fact input: FKs renamed to dimension key names (the reference
    * requires fact id.vars == dimension keys, R/data.cube.R:46-59) plus a
    * daily-grain date key and exact-decimal money columns. */
  def factInput(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .withColumnRenamed("l_orderkey", "o_orderkey")
      .withColumnRenamed("l_partkey", "p_partkey")
      .withColumnRenamed("l_suppkey", "s_suppkey")
      .withColumn("d_date", to_date(col("l_shipdate")))
      .withColumn("l_extendedprice", col("l_extendedprice").cast("decimal(18,2)"))
      .withColumn("disc_price",
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)"))
      .withColumn("n", lit(1L))

  val idVars: Seq[String] = Seq("o_orderkey", "p_partkey", "s_suppkey", "d_date")

  val measures: Seq[Measure] = Seq(
    Measure.sum("l_quantity", "sum_qty"),
    Measure.sum("l_extendedprice", "sum_price"),
    Measure.sum("disc_price", "sum_disc_price"),
    Measure.sum("n", "n") // additive count: ingest .N pattern, SUM re-agg
  )

  def partDim(spark: SparkSession, dir: String): Dimension =
    Dimension.build("part", "p_partkey",
      ListMap("product" -> Hierarchy(
        "p_type" -> Seq.empty,
        "p_brand" -> Seq.empty,
        "p_partkey" -> Seq("p_name", "p_size", "p_retailprice"))),
      table(spark, dir, "part"))

  def supplierDim(spark: SparkSession, dir: String): Dimension = {
    val flat = table(spark, dir, "supplier")
      .join(broadcast(table(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"), col("r_name"))
    Dimension.build("supplier", "s_suppkey",
      ListMap("geo" -> Hierarchy(
        "r_name" -> Seq.empty,
        "n_name" -> Seq.empty,
        "s_suppkey" -> Seq("s_name", "s_acctbal"))),
      flat)
  }

  def orderDim(spark: SparkSession, dir: String): Dimension = {
    // customer is SF-proportional (fact-scale at 100 TB) — size-guarded
    // hint only; nation is a 25-row constant, safe to force.
    val flat = table(spark, dir, "orders")
      .join(Joins.maybeBroadcast(table(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"), col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_mktsegment"), col("n_name").as("c_nation"))
    Dimension.build("order", "o_orderkey",
      ListMap(
        "customer" -> Hierarchy(
          "c_mktsegment" -> Seq.empty,
          "c_custkey" -> Seq("c_name", "c_acctbal"),
          "o_orderkey" -> Seq("o_orderstatus", "o_totalprice", "o_orderpriority")),
        "geo" -> Hierarchy(
          "c_nation" -> Seq.empty,
          "c_custkey" -> Seq.empty,
          "o_orderkey" -> Seq.empty)),
      flat)
  }

  /** Date dimension from a distinct-dates DataFrame — the reference's
    * two-hierarchy time dimension (R/populate.R:28-37, 96-109), derived
    * from the (persisted) fact's ship dates instead of a second lineitem
    * scan. */
  def dateDimFrom(dates: DataFrame): Dimension = {
    val flat = dates
      .withColumn("d_year", year(col("d_date")))
      .withColumn("d_quarter", quarter(col("d_date")))
      .withColumn("d_month", month(col("d_date")))
      .withColumn("d_week", weekofyear(col("d_date")))
      .withColumn("d_weekday", date_format(col("d_date"), "EEEE"))
    Dimension.build("date", "d_date",
      ListMap(
        "monthly" -> Hierarchy(
          "d_year" -> Seq.empty,
          "d_quarter" -> Seq.empty,
          "d_month" -> Seq.empty,
          "d_date" -> Seq("d_weekday")),
        "weekly" -> Hierarchy(
          "d_year" -> Seq.empty,
          "d_week" -> Seq.empty,
          "d_date" -> Seq.empty)),
      flat)
  }

  /** The full cube over a testdata directory — memoized per (session, dir)
    * and persisted: the reference's usage model is build-once-query-many
    * (an in-memory cube object), so the grain aggregation and dimension
    * dedups are paid once, not per query. MEMORY_AND_DISK: spills instead
    * of OOM when the fact outgrows executor memory. */
  def cube(spark: SparkSession, dir: String): DataCube = memo.get(spark, dir)

  /** Force-fill the persisted caches (fact grain aggregation + dimension
    * dedups + denormalized views). The cube's usage model is build-once-
    * query-many, so benchmarks should account this cost on its own line
    * rather than inside whichever query happens to run first. */
  def warm(spark: SparkSession, dir: String): Unit = memo.warm(spark, dir)

  private[graft] val memo = new SessionMemo[DataCube]("cube", build, fill, release)

  // The fact and each dimension are INDEPENDENT cache subtrees (dims
  // don't read the fact; the date dim scans the raw file), so their
  // fill jobs run concurrently — local[32] is far from saturated by any
  // one of these small-stage jobs, and on a cluster concurrent jobs
  // pipeline through the scheduler. WITHIN a dimension the denormalized
  // view reads the dim cache, so data fills strictly before denorm
  // (concurrent counts over one unfilled cache duplicate its work).
  private def fill(c: DataCube): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fills = Future(c.fact.data.count(): Unit) +:
      c.dimensions.values.toSeq.map { d =>
        Future {
          d.data.count()
          d.denormalized.count(): Unit
        }
      }
    Await.result(Future.sequence(fills), Duration.Inf): Unit
  }

  private def release(c: DataCube): Unit = {
    c.fact.data.unpersist()
    c.dimensions.values.foreach { d => d.data.unpersist(); d.denormalized.unpersist() }
  }

  private def build(spark: SparkSession, dir: String): DataCube = {
    val fact = Fact.build(factInput(spark, dir), idVars, measures)
    // date dim from a 1-column pruned scan of the raw file, NOT from
    // fact.data: deriving it from the fact serializes its (cached)
    // materialization behind the grain aggregation; as an independent
    // subtree it runs in parallel with the fact stages
    val c = DataCube.build(fact, Seq(
      orderDim(spark, dir), partDim(spark, dir),
      supplierDim(spark, dir),
      dateDimFrom(table(spark, dir, "lineitem")
        .select(to_date(col("l_shipdate")).as("d_date")).distinct())))
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // lazy materialization: caches fill as the first query's stages run
    // (eager parallel counts were measured slower — concurrent counts of
    // DataFrames sharing unfilled upstream caches duplicate the work)
    c.fact.data.persist(MEMORY_AND_DISK)
    c.dimensions.values.foreach { d =>
      d.data.persist(MEMORY_AND_DISK)
      d.denormalized.persist(MEMORY_AND_DISK)
    }
    c
  }
}
