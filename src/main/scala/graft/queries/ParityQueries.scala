package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.builders.Tpch
import graft.queries.ExtensionQueries.sorted
import graft.model._
import graft.query.dsl._

/** Reference-parity queries: one per operator family in SURVEY §2, each with
  * a DuckDB oracle (SparkEntry.oracleSql). Conventions for engine-portable
  * determinism:
  *  - money aggregates run in exact decimal and are cast to double at the
  *    end — double summation order would differ between engines;
  *  - every output is explicitly ordered by all of its columns with NULLS
  *    FIRST on both sides;
  *  - oracle types are cast to the Spark output types (year -> INT, etc).
  */
object ParityQueries {

  /** Shared oracle prelude: the cube's fact grain as SQL — mirrors
    * Fact.build's aggregate-to-grain invariant (R/fact.R:40-44) so oracle
    * queries that are sensitive to two-stage aggregation can reproduce it. */
  val factCte: String =
    """WITH fact AS (
      |  SELECT l_orderkey AS o_orderkey, l_partkey AS p_partkey,
      |         l_suppkey AS s_suppkey, CAST(l_shipdate AS DATE) AS d_date,
      |         SUM(l_quantity) AS sum_qty,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price,
      |         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))) AS sum_disc_price,
      |         COUNT(*) AS n
      |  FROM lineitem GROUP BY 1, 2, 3, 4
      |)""".stripMargin

  private def money(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d.withColumn(c, col(c).cast("double")) else d)

  private def out(df: DataFrame): DataFrame =
    sorted(money(df, "sum_qty", "sum_price", "sum_disc_price"))

  // -------------------------------------------------------------------
  // q01 — slice/dice + chained attribute aggregation (F1-F6, J1, A4)
  // -------------------------------------------------------------------
  def q01(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val sliced = c.q(Seq(
      dim("order").where("c_mktsegment" -> Seq("BUILDING")),
      dim("part").where("p_brand" -> Seq("Brand#1", "Brand#2"))
    ), drop = false)
    out(sliced.aggregate(Seq("p_brand", "d_year"))
      .fact.data.select("p_brand", "d_year", "sum_qty", "sum_price", "n"))
  }

  val q01Sql: String =
    """SELECT p_brand, CAST(year(l_shipdate) AS INT) AS d_year,
      |       SUM(l_quantity) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       COUNT(*) AS n
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |WHERE c_mktsegment = 'BUILDING' AND p_brand IN ('Brand#1', 'Brand#2')
      |GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q02 — collapse dimensions, keep date key grain (A2, A3)
  // -------------------------------------------------------------------
  def q02(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val collapsed = c.q(
      dim("part").collapse(), dim("supplier").collapse(), dim("order").collapse())
    out(collapsed.fact.data.select("d_date", "sum_qty", "sum_price", "n"))
  }

  val q02Sql: String =
    """SELECT CAST(l_shipdate AS DATE) AS d_date,
      |       SUM(l_quantity) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       COUNT(*) AS n
      |FROM lineitem GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q03 — collapse with pre-filter: `-`(d_year=1995:1996) (A3/F3)
  // -------------------------------------------------------------------
  def q03(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val r = c.q(
      dim("date").where("d_year" -> Seq(1995, 1996)).collapse(),
      dim("supplier").collapse(), dim("order").collapse())
    out(r.aggregate(Seq("p_brand"))
      .fact.data.select("p_brand", "sum_qty", "sum_disc_price", "n"))
  }

  val q03Sql: String =
    """SELECT p_brand,
      |       SUM(l_quantity) AS sum_qty,
      |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |       COUNT(*) AS n
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE year(l_shipdate) IN (1995, 1996)
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q04 — attribute-grain group-by across snowflaked hierarchies with a
  //        dimension pre-filter (A4, J4, P5)
  // -------------------------------------------------------------------
  def q04(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val r = c.aggregate(
      by = Seq("c_mktsegment", "d_year", "r_name"),
      filters = Map("part" -> Map("p_type" -> Seq("ECONOMY", "PROMO"))))
    out(r.fact.data
      .select("c_mktsegment", "d_year", "r_name", "sum_qty", "sum_price", "n"))
  }

  val q04Sql: String =
    """SELECT c_mktsegment, CAST(year(l_shipdate) AS INT) AS d_year, r_name,
      |       SUM(l_quantity) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       COUNT(*) AS n
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |WHERE p_type IN ('ECONOMY', 'PROMO')
      |GROUP BY 1, 2, 3
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q05 — grand total: 0-dim cube (A5, capply MARGIN=character())
  // -------------------------------------------------------------------
  def q05(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    out(c.applyMargin(Seq.empty).fact.data
      .select("sum_qty", "sum_price", "sum_disc_price", "n"))
  }

  val q05Sql: String =
    """SELECT SUM(l_quantity) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |       COUNT(*) AS n
      |FROM lineitem""".stripMargin

  // -------------------------------------------------------------------
  // q06 — ROLLUP over the time hierarchy with the reference's level
  //        contract: 0=leaf..n=grand total (G1, G2, G3)
  // -------------------------------------------------------------------
  def q06(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    out(c.rollupFlat(Seq("d_year", "d_quarter", "d_month"))
      .select("d_year", "d_quarter", "d_month", "sum_qty", "n", "level"))
  }

  val q06Sql: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS d_year,
      |       CAST(quarter(l_shipdate) AS INT) AS d_quarter,
      |       CAST(month(l_shipdate) AS INT) AS d_month,
      |       SUM(l_quantity) AS sum_qty,
      |       COUNT(*) AS n,
      |       CAST(GROUPING(year(l_shipdate)) + GROUPING(quarter(l_shipdate)) + GROUPING(month(l_shipdate)) AS INT) AS level
      |FROM lineitem
      |GROUP BY ROLLUP(year(l_shipdate), quarter(l_shipdate), month(l_shipdate))
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q07 — CUBE (2^n grouping sets): the `^` op the reference never
  //        finished (G4, G5)
  // -------------------------------------------------------------------
  def q07(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    out(c.cubeFlat(Seq("c_mktsegment", "d_year"))
      .select("c_mktsegment", "d_year", "sum_qty", "sum_price", "level"))
  }

  val q07Sql: String =
    """SELECT c_mktsegment, CAST(year(l_shipdate) AS INT) AS d_year,
      |       SUM(l_quantity) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       CAST(GROUPING(c_mktsegment) + GROUPING(year(l_shipdate)) AS INT) AS level
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |GROUP BY CUBE(c_mktsegment, year(l_shipdate))
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q08 — arbitrary GROUPING SETS (the reference's INDEX, generalized)
  // -------------------------------------------------------------------
  def q08(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    out(c.groupingSetsFlat(
      margin = Seq("d_year", "p_brand", "c_mktsegment"),
      sets = Seq(Seq("d_year", "p_brand"), Seq("d_year"), Seq.empty))
      .select("d_year", "p_brand", "c_mktsegment", "sum_qty", "n", "level"))
  }

  val q08Sql: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS d_year, p_brand,
      |       CAST(NULL AS VARCHAR) AS c_mktsegment,
      |       SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
      |       CAST(GROUPING(year(l_shipdate)) + GROUPING(p_brand) + 1 AS INT) AS level
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |GROUP BY GROUPING SETS ((year(l_shipdate), p_brand), (year(l_shipdate)), ())
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q09 — denormalize a diced cube: grain rows + dimension attributes
  //        (X1, X2, J2; two-stage aggregation visible -> fact CTE oracle)
  // -------------------------------------------------------------------
  def q09(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val sliced = c.q(Seq(dim("part").where("p_brand" -> Seq("Brand#3"))), drop = false)
    out(sliced.denormalize()
      .select("o_orderkey", "p_partkey", "s_suppkey", "d_date",
        "p_brand", "p_name", "n_name", "c_mktsegment", "sum_qty", "sum_price", "n"))
  }

  val q09Sql: String = factCte +
    """
      |SELECT o_orderkey, p_partkey, s_suppkey, d_date,
      |       p_brand, p_name, n_name, c_mktsegment,
      |       sum_qty, CAST(sum_price AS DOUBLE) AS sum_price, n
      |FROM fact
      |JOIN part USING (p_partkey)
      |JOIN supplier USING (s_suppkey)
      |JOIN nation ON n_nationkey = s_nationkey
      |JOIN orders USING (o_orderkey)
      |JOIN customer ON c_custkey = o_custkey
      |WHERE p_brand = 'Brand#3'
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q10 — pivot: long -> wide by mktsegment (X4, dcast)
  // -------------------------------------------------------------------
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def q10(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val long = c.aggregate(Seq("d_year", "c_mktsegment")).fact.data
    // explicit pivot values: no discovery job, stable column order
    val wide = long.groupBy("d_year")
      .pivot("c_mktsegment", segments)
      .agg(first(col("sum_qty")))
    sorted(wide.na.fill(0.0, segments))
  }

  val q10Sql: String = {
    val cases = segments.map(seg =>
      s"COALESCE(SUM(CASE WHEN c_mktsegment = '$seg' THEN l_quantity END), 0) AS \"$seg\"")
      .mkString(",\n      |       ")
    s"""SELECT CAST(year(l_shipdate) AS INT) AS d_year,
      |       $cases
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST""".stripMargin
  }

  // -------------------------------------------------------------------
  // q11 — top-k per group via window (SURVEY §2.8, cranlogs pattern)
  // -------------------------------------------------------------------
  def q11(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val byPart = c.aggregate(Seq("p_brand", "p_partkey")).fact.data
      .withColumn("revenue", col("sum_disc_price").cast("double"))
    val w = Window.partitionBy("p_brand")
      .orderBy(col("revenue").desc, col("p_partkey").asc)
    sorted(byPart
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("p_brand", "p_partkey", "revenue", "rk"))
  }

  val q11Sql: String =
    """WITH byp AS (
      |  SELECT p_brand, p_partkey,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY 1, 2
      |), rk AS (
      |  SELECT p_brand, p_partkey, revenue,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey ASC) AS INT) AS rk
      |  FROM byp
      |)
      |SELECT * FROM rk WHERE rk <= 3
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q12 — single-value slice with array-compatible drop (F6): the
  //        supplier dimension is pinned to one key and removed
  // -------------------------------------------------------------------
  def q12(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val r = c.q(dim("supplier").where("s_suppkey" -> Seq(3L)))
    assert(!r.dimensions.contains("supplier"), "supplier should be dropped")
    out(r.aggregate(Seq("d_year")).fact.data
      .select("d_year", "sum_qty", "sum_price", "n"))
  }

  val q12Sql: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS d_year,
      |       SUM(l_quantity) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       COUNT(*) AS n
      |FROM lineitem WHERE l_suppkey = 3
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q13 — dense export with na.fill (X5 as.array semantics): full
  //        year × segment grid, absent cells filled with 0
  // -------------------------------------------------------------------
  def q13(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val agg = c.aggregate(Seq("d_year", "c_mktsegment"))
    // dense cross product of the (small) aggregated dimension key sets,
    // left-join the measure, fill absent cells (R/data.table.R:44-83)
    val years = agg.dimension("date").keyValues
    val segs = agg.dimension("order").keyValues
    val dense = years.crossJoin(segs)
      .join(agg.fact.data.select("d_year", "c_mktsegment", "sum_qty"),
        Seq("d_year", "c_mktsegment"), "left")
      .na.fill(0.0, Seq("sum_qty"))
    sorted(dense)
  }

  val q13Sql: String =
    """WITH ys AS (SELECT DISTINCT CAST(year(l_shipdate) AS INT) AS d_year FROM lineitem),
      |     ss AS (SELECT DISTINCT c_mktsegment FROM orders JOIN customer ON c_custkey = o_custkey),
      |     agg AS (
      |       SELECT CAST(year(l_shipdate) AS INT) AS d_year, c_mktsegment,
      |              SUM(l_quantity) AS s
      |       FROM lineitem
      |       JOIN orders ON o_orderkey = l_orderkey
      |       JOIN customer ON c_custkey = o_custkey
      |       GROUP BY 1, 2)
      |SELECT ys.d_year, ss.c_mktsegment, COALESCE(agg.s, 0) AS sum_qty
      |FROM ys CROSS JOIN ss
      |LEFT JOIN agg ON agg.d_year = ys.d_year AND agg.c_mktsegment = ss.c_mktsegment
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q14 — surrogate keys (S11, add.surrogate.key): dense integer id by
  //        natural key order. Scale-safe formulation: dense_rank over an
  //        unpartitioned window funnels its INPUT through one task, so the
  //        window runs over the distinct natural keys only (dimension-
  //        cardinality — tiny by star-schema assumption) and joins back;
  //        the table-scale side never sees a single-partition shuffle.
  //        Semantically identical to dense_rank over the full table.
  // -------------------------------------------------------------------
  def q14(s: SparkSession, dir: String): DataFrame = {
    val part = Tpch.table(s, dir, "part")
    val w = Window.orderBy(col("p_brand").asc)
    val brandIds = part.select("p_brand").distinct()
      .withColumn("brand_id", dense_rank().over(w))
    sorted(part
      .select("p_partkey", "p_brand")
      .join(Joins.maybeBroadcast(brandIds), Seq("p_brand"))
      .select("p_partkey", "p_brand", "brand_id"))
  }

  val q14Sql: String =
    """SELECT p_partkey, p_brand,
      |       CAST(DENSE_RANK() OVER (ORDER BY p_brand ASC) AS INT) AS brand_id
      |FROM part
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q15 — the double-counting law made queryable (G3): rollup, then sum
  //        each level — every level row must carry the same grand totals
  // -------------------------------------------------------------------
  def q15(s: SparkSession, dir: String): DataFrame = {
    val c = Tpch.cube(s, dir)
    val rolled = c.rollupFlat(Seq("d_year", "d_quarter"))
    sorted(rolled.groupBy("level")
      .agg(sum(col("sum_qty")).as("level_qty"), sum(col("n")).as("level_n")))
  }

  val q15Sql: String =
    """WITH r AS (
      |  SELECT SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
      |         CAST(GROUPING(year(l_shipdate)) + GROUPING(quarter(l_shipdate)) AS INT) AS level
      |  FROM lineitem
      |  GROUP BY ROLLUP(year(l_shipdate), quarter(l_shipdate))
      |)
      |SELECT level, SUM(sum_qty) AS level_qty, CAST(SUM(n) AS BIGINT) AS level_n
      |FROM r GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  /** name -> (query fn, oracle SQL or null). */
  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("q01_slice_dice", q01 _, q01Sql),
    ("q02_collapse", q02 _, q02Sql),
    ("q03_collapse_prefilter", q03 _, q03Sql),
    ("q04_attr_aggregate", q04 _, q04Sql),
    ("q05_grand_total", q05 _, q05Sql),
    ("q06_rollup_time", q06 _, q06Sql),
    ("q07_cube_2d", q07 _, q07Sql),
    ("q08_grouping_sets", q08 _, q08Sql),
    ("q09_denormalize", q09 _, q09Sql),
    ("q10_pivot", q10 _, q10Sql),
    ("q11_topk_window", q11 _, q11Sql),
    ("q12_slice_drop", q12 _, q12Sql),
    ("q13_dense_nafill", q13 _, q13Sql),
    ("q14_surrogate_key", q14 _, q14Sql),
    ("q15_rollup_double_count", q15 _, q15Sql)
  )
}
