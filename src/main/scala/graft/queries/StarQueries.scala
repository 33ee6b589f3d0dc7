package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.builders.Tpch
import graft.functions.TextFunctions
import graft.model.{DataCube, Hierarchy, Measure}
import graft.operators.{Dedup, Events, Sampling, Similarity}

/** Star-schema / cube / warehouse queries: single-table and star cubes,
  * SCD1/SCD2, as-of + range joins, drill-across, time intelligence, sketch
  * + histogram cubes, the aggregate navigator family, events
  * windows/sessions/funnels, profiler.
  * Part of the [[ExtensionQueries]] surface (see its scaladoc for the
  * portability conventions every oracle follows).
  */
private[queries] trait StarQueries { self: ExtensionQueryHelpers =>

  // -------------------------------------------------------------------
  // q24 — tumbling-window event aggregation (batch form of the
  //       Structured Streaming path; exact decimal sums)
  // -------------------------------------------------------------------
  def q24(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("value", col("value").cast("decimal(14,2)"))
    sorted(Events.tumbling(ev, "1 hour")
      .withColumn("sum_value", col("sum_value").cast("double")))
  }

  val q24Sql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q25 — per-user sessionization (30-min inactivity gap)
  // -------------------------------------------------------------------
  def q25(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("value", col("value").cast("decimal(14,2)"))
    sorted(Events.sessionsSql(ev, gapMinutes = 30)
      .drop("session_no")
      .withColumn("sum_value", col("sum_value").cast("double")))
  }

  val q25Sql: String =
    """WITH m AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |               OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |), g AS (
      |  SELECT user_id, ts, value,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM m
      |)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, session_no
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q26 — single-table cube constructor (as.data.cube.data.table, S3):
  //       documents as a denormalized table → cube keyed by (lang, source)
  // -------------------------------------------------------------------
  def q26(s: SparkSession, dir: String): DataFrame = {
    val cube = DataCube.fromTable(
      docs(s, dir).withColumn("one", lit(1L)),
      measures = Seq(Measure.sum("n_chars", "sum_chars"), Measure.sum("one", "n_docs")),
      dims = Seq(
        ("lang", "lang", ListMap("default" -> Hierarchy.flat("lang")), Seq.empty),
        ("source", "source", ListMap("default" -> Hierarchy.flat("source")), Seq.empty)))
    sorted(cube.q(Seq(graft.query.dsl.dim("lang")
        .where("lang" -> Seq("en", "de"))), drop = false)
      .fact.data.select("lang", "source", "sum_chars", "n_docs"))
  }

  val q26Sql: String =
    """SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, COUNT(*) AS n_docs
      |FROM documents WHERE lang IN ('en', 'de')
      |GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q27 — distinct-count measure (A7/A8 extension): orders per year
  // -------------------------------------------------------------------
  def q27(s: SparkSession, dir: String): DataFrame = {
    val denorm = Tpch.cube(s, dir).denormalize(dims = Seq("date"))
    sorted(denorm.groupBy("d_year")
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        sum(col("n")).as("n_lineitems")))
  }

  val q27Sql: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS d_year,
      |       COUNT(DISTINCT l_orderkey) AS n_orders,
      |       COUNT(*) AS n_lineitems
      |FROM lineitem GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q30 — JSON scalar functions over the events props column
  // -------------------------------------------------------------------
  def q30(s: SparkSession, dir: String): DataFrame =
    sorted(events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count("*").as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k")))

  val q30Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      |       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q31 — approx_count_distinct (HLL++): the raw sketch estimate has no
  //       cross-engine oracle (different algorithms), so the query outputs
  //       the EXACT distinct count plus a tolerance verdict — approx_ok =
  //       1 iff |approx - exact| <= 5% of exact (rsd is 1%, so 5% is a
  //       deterministic-pass margin). The oracle computes the exact count
  //       and asserts the verdict column is literally 1: the hash compare
  //       becomes a real accuracy check instead of rows-only.
  // -------------------------------------------------------------------
  def q31(s: SparkSession, dir: String): DataFrame = {
    val denorm = Tpch.cube(s, dir).denormalize(dims = Seq("date"))
    sorted(denorm.groupBy("d_year")
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        approx_count_distinct(col("o_orderkey"), 0.01).as("approx"))
      .select(col("d_year"), col("n_orders"),
        (abs(col("approx") - col("n_orders"))
          <= col("n_orders") * lit(0.05)).cast("int").as("approx_ok")))
  }

  val q31Sql: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS d_year,
      |       COUNT(DISTINCT l_orderkey) AS n_orders,
      |       1 AS approx_ok
      |FROM lineitem GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q32 — sliding windows (1h width, 30m slide): every event lands in
  //       exactly width/slide = 2 windows; the oracle spells that out as
  //       a UNION ALL of two shifted time_buckets
  // -------------------------------------------------------------------
  def q32(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("value", col("value").cast("decimal(14,2)"))
    sorted(graft.streaming.EventsStreaming.slidingCounts(ev, "1 hour", "30 minutes",
      lateness = "0 seconds")
      .drop("window_end")
      .withColumn("sum_value", col("sum_value").cast("double")))
  }

  val q32Sql: String =
    """WITH b AS (
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value FROM events
      |)
      |SELECT ws AS window_start, event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM b GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q33 — SQL interop: the cube's views queried with plain Spark SQL
  // -------------------------------------------------------------------
  def q33(s: SparkSession, dir: String): DataFrame = {
    Tpch.cube(s, dir).createViews("graft_")
    sorted(s.sql(
      """SELECT p.p_type, SUM(f.sum_qty) AS sum_qty, CAST(SUM(f.n) AS BIGINT) AS n
        |FROM graft_fact f JOIN graft_part p USING (p_partkey)
        |GROUP BY 1""".stripMargin))
  }

  val q33Sql: String =
    """SELECT p_type, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q36 — exact distribution quantiles per group: Spark `percentile`
  //       (exact linear interpolation) ≡ DuckDB `quantile_cont`. On a
  //       quantity column holding small integers the interpolation
  //       arithmetic is exact in both engines — safe to hash-compare.
  // -------------------------------------------------------------------
  def q36(s: SparkSession, dir: String): DataFrame =
    sorted(Tpch.table(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"),
        percentile(col("l_quantity"), lit(0.99)).as("p99")))

  val q36Sql: String =
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.5) AS p50,
      |       quantile_cont(l_quantity, 0.9) AS p90,
      |       quantile_cont(l_quantity, 0.99) AS p99
      |FROM lineitem GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q37 — skew-safe salted join: Joins.saltedJoin(lineitem, part) must
  //       be RESULT-identical to the plain join (the oracle is the plain
  //       SQL join) while spreading each part key over 8 salted sub-keys.
  //       l_linenumber varies within an order; (orderkey, linenumber)
  //       varies within a part key group — a proper salt source.
  // -------------------------------------------------------------------
  def q37(s: SparkSession, dir: String): DataFrame = {
    val li = Tpch.table(s, dir, "lineitem")
      .select(col("l_partkey").as("p_partkey"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
    val part = Tpch.table(s, dir, "part").select("p_partkey", "p_brand")
    sorted(graft.model.Joins
      .saltedJoin(li, part, "p_partkey", salts = 8,
        saltSource = struct(col("l_orderkey"), col("l_linenumber")))
      .groupBy("p_brand")
      .agg(sum("l_quantity").as("sum_qty"), count("*").as("n")))
  }

  val q37Sql: String =
    """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q41 — ordered conversion funnel view → click → purchase by first
  //       qualifying occurrence (greedy-earliest is optimal for strict
  //       ordering); per-stage distinct-user counts, non-increasing.
  // -------------------------------------------------------------------
  def q41(s: SparkSession, dir: String): DataFrame =
    sorted(Events.funnel(events(s, dir), Seq("view", "click", "purchase")))

  val q41Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
      |), s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
      |)
      |SELECT 1 AS stage_no, 'view' AS stage, (SELECT count(*) FROM s1) AS n_users
      |UNION ALL
      |SELECT 2, 'click', (SELECT count(*) FROM s2)
      |UNION ALL
      |SELECT 3, 'purchase', (SELECT count(*) FROM s3)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q49 — last-touch attribution: every purchase joined to the most
  //       recent view by the same user within 30 minutes (NULL when
  //       unattributed). Raw-timestamp output is hash-safe: the fixture's
  //       ns timestamps are micros-aligned (verified), so Spark's µs
  //       truncation is value-identical to DuckDB's ns reads.
  // -------------------------------------------------------------------
  def q49(s: SparkSession, dir: String): DataFrame =
    sorted(Events.attribution(events(s, dir), "view", "purchase",
      within = "30 minutes"))

  val q49Sql: String =
    """WITH f AS (
      |  SELECT user_id, ts FROM events WHERE event_type = 'view'
      |), t AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |)
      |SELECT t.event_id, t.user_id, t.ts AS to_ts, max(f.ts) AS from_ts
      |FROM t LEFT JOIN f
      |  ON f.user_id = t.user_id
      | AND f.ts <= t.ts
      | AND f.ts >= t.ts - INTERVAL '30 minutes'
      |GROUP BY 1, 2, 3
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q50 — approx quantiles (the sketch path you actually run at 100 TB):
  //       exact interpolated percentiles plus a percentile_approx verdict
  //       column, q31-style — the approx sketch has no cross-engine
  //       oracle, so the hash pins the exact values and the assertion
  //       that the sketch landed within tolerance. l_quantity is an
  //       integer grid, so |approx - exact| <= 2 is a deterministic-pass
  //       margin at accuracy 10000.
  // -------------------------------------------------------------------
  def q50(s: SparkSession, dir: String): DataFrame = {
    val li = Tpch.table(s, dir, "lineitem")
    sorted(li.groupBy("l_returnflag")
      .agg(percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("a50"),
        percentile_approx(col("l_quantity"), lit(0.9), lit(10000)).as("a90"))
      .select(col("l_returnflag"), col("p50"), col("p90"),
        (abs(col("a50") - col("p50")) <= 2.0 &&
          abs(col("a90") - col("p90")) <= 2.0).cast("int").as("approx_ok")))
  }

  val q50Sql: String =
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.5) AS p50,
      |       quantile_cont(l_quantity, 0.9) AS p90,
      |       1 AS approx_ok
      |FROM lineitem GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q51 — per-event trailing 1-hour rate (RANGE frame over event time):
  //       the bot/rate-limit signal. Value-based frames make equal-ts
  //       bursts peers in both engines — the frame SET is pinned by the
  //       hash, so any tie-handling divergence fails loudly.
  // -------------------------------------------------------------------
  def q51(s: SparkSession, dir: String): DataFrame =
    sorted(Events.trailingCount(events(s, dir), widthSeconds = 3600)
      .select("event_id", "user_id", "ts", "n_window"))

  val q51Sql: String =
    """SELECT event_id, user_id, ts,
      |       count(*) OVER (PARTITION BY user_id ORDER BY ts
      |         RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
      |         AS n_window
      |FROM events
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q52 — NATIVE session_window sessionization (q25 is the SQL
  //       gaps-and-islands twin): same inactivity islands, but
  //       session_end is padded by the gap (window close time) — the
  //       oracle mirrors that as max(ts) + 30 minutes. This makes the
  //       operator actually used in streaming (session_window runs
  //       unchanged under readStream) oracle-checked in batch.
  // -------------------------------------------------------------------
  def q52(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("value", col("value").cast("decimal(14,2)"))
    sorted(Events.sessions(ev, gap = "30 minutes")
      .withColumn("sum_value", col("sum_value").cast("double")))
  }

  val q52Sql: String =
    """WITH m AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |               OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |), g AS (
      |  SELECT user_id, ts, value,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM m
      |)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL '30 minutes' AS session_end,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, session_no
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q54 — key-skew report (the pre-salting diagnostic): top-20 heaviest
  //       l_suppkey values with row share. TakeOrdered top-k (no global
  //       sort/window); ties broken by key for determinism.
  // -------------------------------------------------------------------
  def q54(s: SparkSession, dir: String): DataFrame =
    sorted(graft.model.Joins.skewReport(
      Tpch.table(s, dir, "lineitem"), "l_suppkey", k = 20))

  val q54Sql: String =
    """WITH c AS (
      |  SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1
      |), t AS (
      |  SELECT count(*) AS total FROM lineitem
      |), r AS (
      |  SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rnk
      |  FROM c
      |)
      |SELECT CAST(r.rnk AS INT) AS rank, r.key, r.n,
      |       round(r.n * 1.0 / t.total, 6) AS share
      |FROM r, t
      |WHERE r.rnk <= 20
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q60 — AS-OF JOIN: every purchase joined to the user's most recent
  //       click at-or-before it (NULLs when none) — the point-in-time
  //       lookup the reference cannot express (SURVEY §2.4: equi-joins
  //       only). Union + keyed running window: ONE user-keyed shuffle,
  //       O(1) per row however far back the match lies. The right side
  //       is pre-aggregated to unique (user, ts) with max_by — the
  //       operator's determinism contract. Oracle: DuckDB's native
  //       ASOF LEFT JOIN, an independent implementation of the same
  //       semantics.
  // -------------------------------------------------------------------
  def q60(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    sorted(Events.asofJoin(purchases, clicks, Seq("user_id"), "ts",
      payloadCols = Seq("click_id", "click_value")))
  }

  val q60Sql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, ts, value FROM events
      |  WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id, ts, max(event_id) AS click_id,
      |         arg_max(value, event_id) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |)
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |       c.ts AS asof_ts, c.click_id AS asof_click_id,
      |       c.click_value AS asof_click_value
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST, 6 NULLS FIRST, 7 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q61 — RANGE (interval) JOIN: lineitem quantities against OVERLAPPING
  //       price-band intervals [lo, hi), bucket-decomposed into an
  //       equi-join (graft.model.Joins.rangeJoin) — no
  //       BroadcastNestedLoopJoin, no cartesian (PlanSpec pins it).
  //       Money summed as exact cents (BIGINT) so the hash compare never
  //       rides on float summation order.
  // -------------------------------------------------------------------
  def q61(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tpch.table(s, dir, "lineitem")
    val bands = Seq(
      ("low", 0.0, 15.0), ("mid", 10.0, 30.0),
      ("high", 25.0, 51.0), ("all", 0.0, 51.0)
    ).toDF("band", "lo", "hi")
    val joined = graft.model.Joins.rangeJoin(
      li, bands, "l_quantity", "lo", "hi", bucketWidth = 5.0)
    sorted(joined.groupBy("band", "l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents")))
  }

  val q61Sql: String =
    """SELECT b.band, l.l_returnflag,
      |       CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |         AS sum_cents
      |FROM lineitem l
      |JOIN (VALUES ('low', 0, 15), ('mid', 10, 30),
      |             ('high', 25, 51), ('all', 0, 51)) b(band, lo, hi)
      |  ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
      |GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q62 — INCREMENTAL CUBE REFRESH end-to-end: build a stored star from
  //       the orders fact pre-1998 partitioned by year, then ingest a
  //       raw delta (everything from 1997-07-01 on) with
  //       CubeIO.ingestIntoStar — the delta merges INTO existing 1997
  //       grain rows AND opens new 1998–2001 partitions, and only the
  //       touched partitions are rewritten (RoundTripSpec pins the
  //       byte-identical untouched files; this query oracle-checks the
  //       merged VALUES against a from-scratch recompute). Money as
  //       exact cents: additive longs keep the stored schema stable
  //       across re-ingests.
  // -------------------------------------------------------------------
  def q62(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{Dimension, Fact}
    import graft.io.CubeIO
    val orders = Tpch.table(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    val base = orders.filter(col("o_orderdate") < "1998-01-01")
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("one", lit(1L))
    val delta = orders.filter(col("o_orderdate") >= "1997-07-01")
      .select(col("o_year"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("sum_cents"),
        lit(1L).as("n_orders"))
    // dimensions span the FULL key domain (base + delta years): loadStar
    // conforms the fact to its dimensions, so a delta-opened 1999
    // partition must already have a matching dimension row
    val cube = DataCube.build(
      Fact.build(base, Seq("o_year", "o_orderpriority"),
        Seq(Measure.sum("cents", "sum_cents"), Measure.sum("one", "n_orders"))),
      Seq(
        Dimension.build("year", "o_year", ListMap.empty,
          orders.select("o_year").distinct()),
        Dimension.build("priority", "o_orderpriority", ListMap.empty,
          orders.select("o_orderpriority").distinct())))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q62_star_" +
      Integer.toHexString(dir.hashCode)
    // full overwrite each call: ingest is (by design) not idempotent, so
    // the query rebuilds its fixture star rather than double-ingesting
    // across bench reps
    CubeIO.saveStar(cube, path, partitionFact = Seq("o_year"))
    CubeIO.ingestIntoStar(s, path, delta)
    sorted(CubeIO.loadStar(s, path).fact.data
      .select("o_year", "o_orderpriority", "n_orders", "sum_cents"))
  }

  val q62Sql: String =
    """WITH merged AS (
      |  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |  UNION ALL
      |  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      |)
      |SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS sum_cents
      |FROM merged GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q63 — TEMPORAL DIMENSION (SCD2 + point-in-time lookup): signup
  //       events become a versioned user-state dimension
  //       (Sources.scd2: [valid_from, valid_to) intervals via one keyed
  //       lead window), then every purchase joins to the version valid
  //       AT ITS OWN TIMESTAMP via Events.asofJoin. The oracle is an
  //       INDEPENDENT formulation — an interval-containment join on the
  //       LEAD-derived intervals — so a hash match proves the scd2
  //       intervals tile gap- and overlap-free AND the as-of pick
  //       equals interval membership.
  // -------------------------------------------------------------------
  def q63(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Sources
    val ev = events(s, dir)
    val changes = ev.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts")
      .agg(max_by(col("value"), col("event_id")).as("state"))
    val versions = Sources.scd2(changes, Seq("user_id"), "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    sorted(Events.asofJoin(purchases,
      versions.select("user_id", "ts", "state"),
      Seq("user_id"), "ts", payloadCols = Seq("state")))
  }

  val q63Sql: String =
    """WITH ch AS (
      |  SELECT user_id, ts, arg_max(value, event_id) AS state
      |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
      |), v AS (
      |  SELECT user_id, ts, state,
      |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
      |  FROM ch
      |), p AS (
      |  SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id, p.ts,
      |       v.ts AS asof_ts, v.state AS asof_state
      |FROM p LEFT JOIN v ON p.user_id = v.user_id
      |  AND p.ts >= v.ts AND (v.valid_to IS NULL OR p.ts < v.valid_to)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q64 — STAR RETRACTION (the delete half of incremental maintenance,
  //       q62 being the upsert half): build the full-history star, then
  //       retract (a) EVERY 1992 order — the o_year=1992 partition must
  //       physically disappear, which dynamic partition overwrite alone
  //       cannot do — and (b) only the 1-URGENT slice of 1996 — a
  //       partial merge inside a surviving partition. The post-retraction
  //       star is read back via loadStar, so stale files from an
  //       un-deleted partition would resurface as extra rows and fail
  //       the hash. Oracle: from-scratch recompute over the non-retracted
  //       raw rows.
  // -------------------------------------------------------------------
  def q64(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{Dimension, Fact}
    import graft.io.CubeIO
    val orders = Tpch.table(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    val base = orders
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("one", lit(1L))
    val retraction = orders
      .filter(col("o_year") === 1992 ||
        (col("o_year") === 1996 && col("o_orderpriority") === "1-URGENT"))
      .select(col("o_year"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("sum_cents"),
        lit(1L).as("n_orders"))
    val cube = DataCube.build(
      Fact.build(base, Seq("o_year", "o_orderpriority"),
        Seq(Measure.sum("cents", "sum_cents"), Measure.sum("one", "n_orders"))),
      Seq(
        Dimension.build("year", "o_year", ListMap.empty,
          orders.select("o_year").distinct()),
        Dimension.build("priority", "o_orderpriority", ListMap.empty,
          orders.select("o_orderpriority").distinct())))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q64_star_" +
      Integer.toHexString(dir.hashCode)
    // full overwrite each call: retraction is (by design) not idempotent,
    // so the query rebuilds its fixture star rather than double-retracting
    // across bench reps
    CubeIO.saveStar(cube, path, partitionFact = Seq("o_year"))
    CubeIO.retractFromStar(s, path, retraction, supportCol = "n_orders")
    sorted(CubeIO.loadStar(s, path).fact.data
      .select("o_year", "o_orderpriority", "n_orders", "sum_cents"))
  }

  val q64Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS sum_cents
      |FROM orders
      |WHERE NOT (year(o_orderdate) = 1992
      |           OR (year(o_orderdate) = 1996 AND o_orderpriority = '1-URGENT'))
      |GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q66 — DRILL-ACROSS (Kimball multi-fact): a customer cube and a
  //       supplier cube, both on the conformed nation dimension, merged
  //       at nation grain (full-outer: nations with customers but no
  //       suppliers keep NULL supplier measures) and then re-aggregated
  //       BY REGION through the merged cube's dimension — proving both
  //       the fact merge and that the conformed dimension still answers
  //       queries afterwards. Oracle: FULL JOIN of two GROUP BYs, then
  //       the region rollup.
  // -------------------------------------------------------------------
  def q66(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{Dimension, Fact, Hierarchy}
    val nation = Tpch.table(s, dir, "nation")
    val region = Tpch.table(s, dir, "region")
    val nd = nation.join(region, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("nationkey"), col("n_name"), col("r_name"))
    def nationDim = Dimension.build("nation", "nationkey",
      ListMap("geo" -> Hierarchy(
        "r_name" -> Seq.empty,
        "nationkey" -> Seq("n_name"))), nd)
    val custCube = DataCube.build(
      Fact.build(
        Tpch.table(s, dir, "customer")
          .select(col("c_nationkey").as("nationkey"),
            round(col("c_acctbal") * 100).cast("long").as("cbal"),
            lit(1L).as("one")),
        Seq("nationkey"),
        Seq(Measure.sum("cbal", "cust_bal_cents"), Measure.sum("one", "n_cust"))),
      Seq(nationDim))
    val suppCube = DataCube.build(
      Fact.build(
        Tpch.table(s, dir, "supplier")
          .select(col("s_nationkey").as("nationkey"),
            round(col("s_acctbal") * 100).cast("long").as("sbal"),
            lit(1L).as("one")),
        Seq("nationkey"),
        Seq(Measure.sum("sbal", "supp_bal_cents"), Measure.sum("one", "n_supp"))),
      Seq(nationDim))
    sorted(custCube.drillAcross(suppCube)
      .aggregate(Seq("r_name")).fact.data
      .select("r_name", "n_cust", "cust_bal_cents", "n_supp", "supp_bal_cents"))
  }

  val q66Sql: String =
    """WITH c AS (
      |  SELECT c_nationkey AS nationkey,
      |         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |           AS cust_bal_cents,
      |         CAST(count(*) AS BIGINT) AS n_cust
      |  FROM customer GROUP BY 1
      |), s AS (
      |  SELECT s_nationkey AS nationkey,
      |         CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
      |           AS supp_bal_cents,
      |         CAST(count(*) AS BIGINT) AS n_supp
      |  FROM supplier GROUP BY 1
      |), merged AS (
      |  SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
      |         cust_bal_cents, n_cust, supp_bal_cents, n_supp
      |  FROM c FULL JOIN s ON c.nationkey = s.nationkey
      |)
      |SELECT r_name,
      |       CAST(sum(n_cust) AS BIGINT) AS n_cust,
      |       CAST(sum(cust_bal_cents) AS BIGINT) AS cust_bal_cents,
      |       CAST(sum(n_supp) AS BIGINT) AS n_supp,
      |       CAST(sum(supp_bal_cents) AS BIGINT) AS supp_bal_cents
      |FROM merged
      |JOIN nation ON n_nationkey = nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q67 — SEMI-ADDITIVE MEASURE (monthly balance): events.value as a
  //       per-user balance reading — the monthly figure per event_type
  //       is the sum over users of each user's LAST reading in the month
  //       (additive across users, last-along-time). Two grouped stages
  //       through the cube API: Measure.lastBy at (type, user, month)
  //       ingest grain, Measure.sum entity-out — no window. Oracle:
  //       row_number()-picked last reading, then the same sum.
  // -------------------------------------------------------------------
  def q67(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{Dimension, Fact}
    val base = events(s, dir)
      .withColumn("month", date_trunc("month", col("ts")))
    val fact = Fact.build(base, Seq("event_type", "user_id", "month"),
      Seq(Measure.lastBy("value", "last_value",
        struct(col("ts"), col("event_id")))))
    val cube = DataCube.build(fact, Seq(
      Dimension.build("etype", "event_type", ListMap.empty,
        base.select("event_type").distinct()),
      Dimension.build("user", "user_id", ListMap.empty,
        base.select("user_id").distinct()),
      Dimension.build("month", "month", ListMap.empty,
        base.select("month").distinct())))
    // exact cents at the additive stage: double summation order differs
    // across engines at the 1e-12 level, cents are engine-portable
    sorted(cube.aggregate(Seq("event_type", "month"),
        measures = Seq(
          Measure("last_value", "balance_cents",
            c => sum(round(c * 100).cast("long"))),
          Measure.count("last_value", "n_users")))
      .fact.data.select("event_type", "month", "n_users", "balance_cents"))
  }

  val q67Sql: String =
    """WITH g AS (
      |  SELECT event_type, user_id, date_trunc('month', ts) AS month, value,
      |         row_number() OVER (
      |           PARTITION BY event_type, user_id, date_trunc('month', ts)
      |           ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |)
      |SELECT event_type, month,
      |       CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |         AS balance_cents
      |FROM g WHERE rn = 1
      |GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q68 — TIME INTELLIGENCE: monthly order revenue per priority with
  //       period-to-date running totals and month-over-month deltas
  //       (DataCube.timeIntelligence: one keyed window partitioned by
  //       the non-time grain, exact cents). Oracle: the same grouped
  //       base + window SUM/LAG in DuckDB.
  // -------------------------------------------------------------------
  def q68(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{Dimension, Fact}
    val base = Tpch.table(s, dir, "orders")
      .withColumn("month", date_trunc("month", col("o_orderdate")))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    val cube = DataCube.build(
      Fact.build(base, Seq("month", "o_orderpriority"),
        Seq(Measure.sum("cents", "sum_cents"))),
      Seq(
        Dimension.build("month", "month", ListMap.empty,
          base.select("month").distinct()),
        Dimension.build("priority", "o_orderpriority", ListMap.empty,
          base.select("o_orderpriority").distinct())))
    sorted(cube.timeIntelligence("month")
      .select("month", "o_orderpriority", "sum_cents",
        "cum_sum_cents", "prev_sum_cents", "delta_sum_cents"))
  }

  val q68Sql: String =
    """WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS sum_cents
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT month, o_orderpriority, sum_cents,
      |       CAST(sum(sum_cents) OVER (PARTITION BY o_orderpriority
      |         ORDER BY month) AS BIGINT) AS cum_sum_cents,
      |       lag(sum_cents) OVER (PARTITION BY o_orderpriority
      |         ORDER BY month) AS prev_sum_cents,
      |       sum_cents - lag(sum_cents) OVER (PARTITION BY o_orderpriority
      |         ORDER BY month) AS delta_sum_cents
      |FROM m
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST, 6 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q69 — RATIO-TO-PARENT: each priority's share of its year's revenue
  //       (DataCube.shareAlong — one keyed window over the at-grain
  //       fact). Exact-cents numerators/denominators make the single
  //       double division engine-portable. Oracle: value / window SUM.
  // -------------------------------------------------------------------
  def q69(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{Dimension, Fact}
    val base = Tpch.table(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    val cube = DataCube.build(
      Fact.build(base, Seq("o_year", "o_orderpriority"),
        Seq(Measure.sum("cents", "sum_cents"))),
      Seq(
        Dimension.build("year", "o_year", ListMap.empty,
          base.select("o_year").distinct()),
        Dimension.build("priority", "o_orderpriority", ListMap.empty,
          base.select("o_orderpriority").distinct())))
    sorted(cube.shareAlong("o_orderpriority")
      .select("o_year", "o_orderpriority", "sum_cents", "share_sum_cents"))
  }

  val q69Sql: String =
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS sum_cents
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT o_year, o_orderpriority, sum_cents,
      |       CAST(sum_cents AS DOUBLE) /
      |         CAST(sum(sum_cents) OVER (PARTITION BY o_year) AS DOUBLE)
      |         AS share_sum_cents
      |FROM m
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q70 — TOP-K + OTHER: per year, the top-3 priorities by revenue and
  //       one OTHER row aggregating the tail (DataCube.topKOther: keyed
  //       rank window + one grouped re-aggregation with the measures'
  //       own functions). Oracle: row_number + CASE relabel + group.
  // -------------------------------------------------------------------
  def q70(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{Dimension, Fact}
    val base = Tpch.table(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("one", lit(1L))
    val cube = DataCube.build(
      Fact.build(base, Seq("o_year", "o_orderpriority"),
        Seq(Measure.sum("cents", "sum_cents"), Measure.sum("one", "n_orders"))),
      Seq(
        Dimension.build("year", "o_year", ListMap.empty,
          base.select("o_year").distinct()),
        Dimension.build("priority", "o_orderpriority", ListMap.empty,
          base.select("o_orderpriority").distinct())))
    sorted(cube.topKOther("o_orderpriority", k = 3, rankMeasure = "sum_cents")
      .select("o_year", "o_orderpriority", "n_orders", "sum_cents"))
  }

  val q70Sql: String =
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS sum_cents,
      |         CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1, 2
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_year
      |    ORDER BY sum_cents DESC, o_orderpriority ASC) AS rn
      |  FROM m
      |)
      |SELECT o_year,
      |       CASE WHEN rn <= 3 THEN o_orderpriority ELSE 'OTHER' END
      |         AS o_orderpriority,
      |       CAST(sum(n_orders) AS BIGINT) AS n_orders,
      |       CAST(sum(sum_cents) AS BIGINT) AS sum_cents
      |FROM ranked
      |GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q71 — TOLERANCE-BOUNDED AS-OF: every purchase joins to the latest
  //       same-user click, but only if it happened within the last 15
  //       minutes (the trades-to-quotes staleness guard). The oracle is
  //       an INDEPENDENT formulation — arg_max over an interval-bounded
  //       join — while the operator is the O(1)-per-row running window
  //       with a post-filter on the matched timestamp.
  // -------------------------------------------------------------------
  def q71(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("click_id"))
    sorted(Events.asofJoin(purchases, clicks, Seq("user_id"), "ts",
      payloadCols = Seq("click_id"), tolerance = Some("15 minutes")))
  }

  val q71Sql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id, ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), matched AS (
      |  SELECT p.event_id, arg_max(c.ts, c.ts) AS asof_ts,
      |         arg_max(c.click_id, c.ts) AS asof_click_id
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 15 MINUTE
      |  GROUP BY 1
      |)
      |SELECT p.event_id, p.user_id, p.ts, m.asof_ts, m.asof_click_id
      |FROM p LEFT JOIN matched m ON p.event_id = m.event_id
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q72 — SCD1 DIMENSION UPDATE end-to-end: save a customer star on the
  //       nation dimension, correct the dimension IN PLACE (merge the
  //       regions of nationkeys 0-9 into one 'MERGED' region —
  //       CubeIO.updateDimensionInStar, orphan-guarded), reload, and
  //       aggregate by the UPDATED region attribute. Oracle recomputes
  //       with the same CASE mapping from the raw tables — a stale or
  //       partially-written dimension fails the hash.
  // -------------------------------------------------------------------
  def q72(s: SparkSession, dir: String): DataFrame = {
    import graft.model.{Dimension, Fact, Hierarchy}
    import graft.io.CubeIO
    val nation = Tpch.table(s, dir, "nation")
    val region = Tpch.table(s, dir, "region")
    val flat = nation.join(region, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("nationkey"), col("n_name"), col("r_name"))
    def dimOf(d: DataFrame) = Dimension.build("nation", "nationkey",
      ListMap("geo" -> Hierarchy(
        "r_name" -> Seq.empty,
        "nationkey" -> Seq("n_name"))), d)
    val cube = DataCube.build(
      Fact.build(
        Tpch.table(s, dir, "customer")
          .select(col("c_nationkey").as("nationkey"),
            round(col("c_acctbal") * 100).cast("long").as("bal"),
            lit(1L).as("one")),
        Seq("nationkey"),
        Seq(Measure.sum("bal", "bal_cents"), Measure.sum("one", "n_cust"))),
      Seq(dimOf(flat)))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q72_star_" +
      Integer.toHexString(dir.hashCode)
    // rebuild per call so bench reps don't double-apply the correction
    CubeIO.saveStar(cube, path)
    val corrected = flat.withColumn("r_name",
      when(col("nationkey") < 10, lit("MERGED")).otherwise(col("r_name")))
    CubeIO.updateDimensionInStar(s, path, "nation", corrected)
    sorted(CubeIO.loadStar(s, path).aggregate(Seq("r_name")).fact.data
      .select("r_name", "n_cust", "bal_cents"))
  }

  val q72Sql: String =
    """SELECT CASE WHEN n_nationkey < 10 THEN 'MERGED' ELSE r_name END
      |         AS r_name,
      |       CAST(count(*) AS BIGINT) AS n_cust,
      |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |         AS bal_cents
      |FROM customer
      |JOIN nation ON n_nationkey = c_nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q73 — MERGEABLE SKETCH CUBE: distinct customers per year answered
  //       from STORED per-(year, priority) HLL sketches by union
  //       (Sketches.distinctSketchAtGrain + rollupDistinct — the fact
  //       is scanned once for the sketch table, never for the rollup;
  //       COUNT DISTINCT is otherwise the one non-additive aggregate a
  //       cube can't roll up). Emits the exact count plus a 5% sketch
  //       verdict, q31-style; oracle = exact + verdict 1.
  // -------------------------------------------------------------------
  def q73(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val orders = Tpch.table(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    val sketches = Sketches.distinctSketchAtGrain(orders,
      Seq("o_year", "o_orderpriority"), "o_custkey")
    val approx = Sketches.rollupDistinct(sketches, Seq("o_year"),
      "o_custkey_sketch")
    val exact = orders.groupBy("o_year")
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
    sorted(exact.join(approx, Seq("o_year"))
      .select(col("o_year"), col("n_cust"),
        (abs(col("approx_distinct") - col("n_cust"))
          <= col("n_cust") * lit(0.05)).cast("int").as("approx_ok")))
  }

  val q73Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |       COUNT(DISTINCT o_custkey) AS n_cust,
      |       1 AS approx_ok
      |FROM orders GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q74 — RETENTION COHORTS: users grouped by first-event week, distinct
  //       active users per (cohort, week offset) — the growth triangle
  //       (Events.retentionCohorts: one user-keyed shuffle building first
  //       period + distinct-period set in the same agg, window only on
  //       the aggregated matrix). Exact counts, exact oracle.
  // -------------------------------------------------------------------
  def q74(s: SparkSession, dir: String): DataFrame =
    sorted(Events.retentionCohorts(events(s, dir)))

  val q74Sql: String =
    """WITH f AS (
      |  SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE) AS cohort_period
      |  FROM events GROUP BY 1),
      |a AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |m AS (
      |  -- both endpoints are week-truncated Mondays, so the day diff is an
      |  -- exact multiple of 7 and the division is exact in either engine
      |  SELECT cohort_period,
      |         CAST(date_diff('day', cohort_period, wk) / 7 AS INT)
      |           AS offset_periods,
      |         count(*) AS n_active
      |  FROM a JOIN f USING (user_id) GROUP BY 1, 2)
      |SELECT cohort_period, offset_periods, n_active,
      |       CAST(max(CASE WHEN offset_periods = 0 THEN n_active END)
      |            OVER (PARTITION BY cohort_period) AS BIGINT) AS cohort_size
      |FROM m
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q75 — MERGEABLE HISTOGRAM CUBE: per-(event_type, month) equi-width
  //       value histograms (Sketches.histogramAtGrain — ONE grain-keyed
  //       shuffle, nBins conditional sums), merged to event_type by
  //       element-wise cell addition (rollupHistogram — fact never
  //       re-scanned), emitted as nonzero (type, bin, n) rows plus a
  //       histogram-median verdict (histogramQuantile within one bin
  //       width of the exact percentile, q73-style). Counts are exact —
  //       fixed bin edges make the cells mergeable by construction.
  // -------------------------------------------------------------------
  def q75(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = events(s, dir)
      .withColumn("month", date_trunc("month", col("ts")))
    val cells = Sketches.histogramAtGrain(ev, Seq("event_type", "month"),
      "value", lo = 0.0, width = 25.0, nBins = 20)
    val rolled = Sketches.rollupHistogram(cells, Seq("event_type"),
      "value_hist")
    val est = rolled.select(col("event_type"),
      Sketches.histogramQuantile(col("value_hist"), 0.0, 25.0, 0.5)
        .as("p50_est"))
    val exact = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("p50_exact"))
    val verdict = est.join(exact, Seq("event_type"))
      .select(col("event_type"),
        (abs(col("p50_est") - col("p50_exact")) <= lit(25.0))
          .cast("int").as("p50_ok"))
    sorted(rolled
      .select(col("event_type"),
        posexplode(col("value_hist")).as(Seq("bin", "n")))
      .filter(col("n") > 0)
      .withColumn("bin", col("bin").cast("long"))
      .join(verdict, Seq("event_type")))
  }

  val q75Sql: String =
    """WITH b AS (
      |  SELECT event_type,
      |         LEAST(GREATEST(CAST(FLOOR(value / 25.0) AS INT), 0), 19) AS bin
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type, bin, count(*) AS n, 1 AS p50_ok
      |FROM b GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q76 — FREQUENT TERMS via sketch-prune + exact-verify: a Misra-Gries
  //       bounded-memory pass narrows the vocabulary to ≤ k candidates,
  //       a tiny exact pass confirms counts (Corpus.frequentTerms). With
  //       minShare > 1/(k+1) the result is EXACT and order-independent
  //       (MG guarantees zero false negatives at the threshold; the
  //       exact pass kills false positives) — so the oracle is a plain
  //       GROUP BY ... HAVING over the full vocabulary, which is
  //       precisely the unbounded-memory plan the operator avoids.
  // -------------------------------------------------------------------
  def q76(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    sorted(Corpus.frequentTerms(docs(s, dir), "text"))
  }

  val q76Sql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |t2 AS (SELECT term FROM tok WHERE term <> ''),
      |tot AS (SELECT count(*) AS n FROM t2)
      |SELECT term, count(*) AS n_term
      |FROM t2, tot
      |GROUP BY term, tot.n
      |HAVING count(*) >= CEIL(tot.n * 0.00005)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q78 — INCREMENTAL SKETCH-CUBE MAINTENANCE: a stored per-(year,
  //       priority) HLL cube built from history, then two delta ingests
  //       (one merging INTO existing year partitions, one opening new
  //       years) via Sketches.ingestSketchCube — only touched partitions
  //       rewritten, fact history never re-scanned. HLL union is
  //       lossless, so the maintained store answers the per-year
  //       distinct-customer rollup exactly as a from-scratch sketch
  //       would; emitted q73-style (exact + 5% sketch verdict).
  // -------------------------------------------------------------------
  def q78(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val orders = Tpch.table(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    val grain = Seq("o_year", "o_orderpriority")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q78_skcube_" +
      Integer.toHexString(dir.hashCode)
    // rebuild per call so bench reps don't re-merge the same deltas
    Sketches.saveSketchCube(
      orders.filter(col("o_orderdate") < "1996-07-01"),
      path, grain, "o_custkey", "o_year")
    Sketches.ingestSketchCube(s, path,
      orders.filter(col("o_orderdate") >= "1996-07-01" &&
        col("o_orderdate") < "1997-01-01"),
      grain, "o_custkey", "o_year")
    Sketches.ingestSketchCube(s, path,
      orders.filter(col("o_orderdate") >= "1997-01-01"),
      grain, "o_custkey", "o_year")
    val approx = Sketches.rollupDistinct(
      s.read.parquet(path), Seq("o_year"), "o_custkey_sketch")
    val exact = orders.groupBy("o_year")
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
    sorted(exact.join(approx, Seq("o_year"))
      .select(col("o_year"), col("n_cust"),
        (abs(col("approx_distinct") - col("n_cust"))
          <= col("n_cust") * lit(0.05)).cast("int").as("approx_ok")))
  }

  val q78Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |       COUNT(DISTINCT o_custkey) AS n_cust,
      |       1 AS approx_ok
      |FROM orders GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q79 — AGGREGATE NAVIGATOR (Kimball aggregate navigation): build two
  //       stored summaries of lineitem in ONE grouping-sets pass —
  //       (returnflag, linestatus, ship_year) and (returnflag,
  //       linestatus) — then answer a returnflag-only request. The
  //       navigator routes to the SMALLER covering summary (rf_ls) and
  //       re-aggregates its stored partials (sum of sums, sum of
  //       counts); the base fact is never rescanned (the scan-path pin
  //       lives in AggregateNavigatorSpec). The oracle recomputes from the raw table, and the
  //       routed_via literal pins the routing decision itself.
  // -------------------------------------------------------------------
  def q79(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggregateNavigator
    import graft.operators.AggregateNavigator.NavMeasure
    val li = Tpch.table(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
    val measures = Seq(
      NavMeasure("sum", "l_quantity", "sum_qty"),
      NavMeasure("count", "*", "n_rows"),
      NavMeasure("min", "l_quantity", "min_qty"),
      NavMeasure("max", "l_quantity", "max_qty"))
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q79_nav_" +
      Integer.toHexString(dir.hashCode)
    val sums = AggregateNavigator.buildSummaries(li, Seq(
      "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
      "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, root)
    val (ans, via) = AggregateNavigator.query(s, li, sums,
      Seq("l_returnflag"), measures)
    sorted(ans.withColumn("routed_via", lit(via)))
  }

  val q79Sql: String =
    """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
      |       count(*) AS n_rows,
      |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |       'rf_ls' AS routed_via
      |FROM lineitem GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q80 — NAVIGATOR INCREMENTAL REFRESH end-to-end: summaries built
  //       from the pre-1996 fact only, then the 1996+ delta is folded
  //       in WITHOUT rescanning the base (one grouping-sets pass over
  //       the delta, cell-wise partial merge: sums/counts add, min/max
  //       take the extreme — q62's ingest doctrine applied to the
  //       summary store). The routed answer after refresh must equal
  //       the full-corpus oracle exactly — including 1996+ cells the
  //       build never saw.
  // -------------------------------------------------------------------
  def q80(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggregateNavigator
    import graft.operators.AggregateNavigator.NavMeasure
    val li = Tpch.table(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
    val measures = Seq(
      NavMeasure("sum", "l_quantity", "sum_qty"),
      NavMeasure("count", "*", "n_rows"),
      NavMeasure("max", "l_extendedprice", "max_price"))
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q80_nav_" +
      Integer.toHexString(dir.hashCode)
    AggregateNavigator.buildSummaries(li.filter(col("ship_year") < 1996),
      Seq(
        "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
        "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, root)
    val refreshed = AggregateNavigator.refreshSummaries(
      li.filter(col("ship_year") >= 1996), root)
    val (ans, via) = AggregateNavigator.query(s, li, refreshed,
      Seq("l_returnflag", "l_linestatus"), measures)
    sorted(ans.withColumn("routed_via", lit(via)))
  }

  val q80Sql: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |       count(*) AS n_rows, max(l_extendedprice) AS max_price,
      |       'rf_ls' AS routed_via
      |FROM lineitem GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q81 — CUBE-SURFACE aggregate navigation: the TPC-H cube declares two
  //       stored summaries over its hierarchy attributes (segment ×
  //       year × region, segment × year) — built in one grouping-sets
  //       pass over the denormalized fact — then an attribute-grain
  //       request for segment alone routes to the SMALLER covering
  //       summary and re-aggregates its stored partials. Since the cube
  //       fact is itself pre-aggregated to grain, a summary is just a
  //       coarser stored grain: sum-of-sums keeps the reference's
  //       "re-aggregate from the stored grain" contract intact. The
  //       request also carries an equality filter on d_year — routing
  //       requires the grain to keep the filtered column, and the
  //       filter prunes summary partials BEFORE re-aggregation (the
  //       filtered-report pattern). The oracle recomputes from the raw
  //       star with the same WHERE; routed_via pins routing.
  // -------------------------------------------------------------------
  def q81(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggregateNavigator.NavMeasure
    val c = graft.builders.Tpch.cube(s, dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q81_nav_" +
      Integer.toHexString(dir.hashCode)
    c.summarize(root, Seq(
      "seg_year_region" -> Seq("c_mktsegment", "d_year", "r_name"),
      "seg_year" -> Seq("c_mktsegment", "d_year")),
      Seq(NavMeasure("sum", "sum_qty", "sum_qty"),
        NavMeasure("sum", "n", "n")))
    val (ans, via) = c.aggregateRouted(Seq("c_mktsegment"), root,
      filters = Map("d_year" -> Seq(1994, 1995, 1996)))
    sorted(ans.withColumn("routed_via", lit(via)))
  }

  val q81Sql: String =
    """SELECT c_mktsegment, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
      |       'seg_year' AS routed_via
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |WHERE year(l_shipdate) IN (1994, 1995, 1996)
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q82 — ROUTED ROLLUP: a subtotal report (segment × year ROLLUP with
  //       the level contract) answered entirely from the stored
  //       seg×year summary — the Expand runs over ~35 partial rows
  //       instead of the fact, sum-of-sums per grouping set. The
  //       100 TB shape this exercises: subtotal dashboards never touch
  //       the fact once the summary exists. Oracle: DuckDB ROLLUP over
  //       the raw star (q06's shape), routing pinned as a literal.
  // -------------------------------------------------------------------
  def q82(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggregateNavigator.NavMeasure
    val c = graft.builders.Tpch.cube(s, dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q82_nav_" +
      Integer.toHexString(dir.hashCode)
    c.summarize(root, Seq(
      "seg_year" -> Seq("c_mktsegment", "d_year")),
      Seq(NavMeasure("sum", "sum_qty", "sum_qty"),
        NavMeasure("sum", "n", "n")))
    val (ans, via) = c.rollupRoutedFlat(Seq("c_mktsegment", "d_year"), root)
    sorted(ans.withColumn("routed_via", lit(via)))
  }

  val q82Sql: String =
    """SELECT c_mktsegment, CAST(year(l_shipdate) AS INT) AS d_year,
      |       SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
      |       CAST(GROUPING(c_mktsegment) + GROUPING(year(l_shipdate)) AS INT)
      |         AS level,
      |       'seg_year' AS routed_via
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |GROUP BY ROLLUP(c_mktsegment, year(l_shipdate))
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q84 — STREAMING NAVIGATOR end-to-end (readStream → journaled
  //       refresh → routed query): the store starts as a declaration-
  //       only (empty) build, the fact arrives as a TWO-micro-batch
  //       file stream (maxFilesPerTrigger=1), each batch folds in via
  //       the journaled refresh (at-least-once replay safe), and the
  //       routed answer after the stream drains must equal the
  //       full-corpus oracle. The whole round trip — parquet stream
  //       source, foreachBatch, two-rename store swap, manifest reload,
  //       smallest-grain routing — sits under one DuckDB hash check.
  //       Work dirs are wiped per call: the refresh journal MUST reset
  //       with its store or bench reps would replay-skip real batches.
  // -------------------------------------------------------------------
  def q84(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggregateNavigator
    import graft.operators.AggregateNavigator.NavMeasure
    import org.apache.spark.sql.streaming.Trigger
    val li = Tpch.table(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_q84_nav_" +
      Integer.toHexString(dir.hashCode)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val measures = Seq(
      NavMeasure("sum", "l_quantity", "sum_qty"),
      NavMeasure("count", "*", "n_rows"))
    AggregateNavigator.buildSummaries(li.filter(lit(false)), Seq(
      "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
      "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, s"$base/store")
    li.filter(col("ship_year") < 1996).coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    li.filter(col("ship_year") >= 1996).coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    val stream = s.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val q = graft.streaming.CubeStreaming.startRefreshSummaries(
      stream, s"$base/store", s"$base/ckpt", Trigger.AvailableNow())
    q.awaitTermination(120000)
    val (sums, ms) = AggregateNavigator.loadStore(s, s"$base/store")
    val (ans, via) = AggregateNavigator.query(s, li, sums,
      Seq("l_returnflag", "l_linestatus"), ms)
    sorted(ans.withColumn("routed_via", lit(via)))
  }

  val q84Sql: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |       count(*) AS n_rows, 'rf_ls' AS routed_via
      |FROM lineitem GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q88 — SLIDING-WINDOW DISTINCT from stored sketches: rolling 7-day
  //       distinct users per day, answered from per-day HLL cells (one
  //       event scan ever; each cell feeds ≤ 7 window ends via a
  //       bounded explode — overlapping windows are exactly where
  //       mergeable sketches beat re-aggregation, and windowed COUNT
  //       DISTINCT cannot be decomposed at all). q31/q73 verdict
  //       pattern: the hash-checked columns are the EXACT rolling
  //       counts plus a within-5% verdict on the sketch estimate.
  // -------------------------------------------------------------------
  def q88(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = events(s, dir).withColumn("day", to_date(col("ts")))
    val cells = Sketches.distinctSketchAtGrain(ev, Seq("day"), "user_id")
    val approx = Sketches.slidingDistinct(cells, "day", width = 7,
      "user_id_sketch")
    // exact twin for the verdict: same bounded contribution explode over
    // per-day DISTINCT (day, user) pairs — linear, never a self-join
    val du = ev.select(col("day"), col("user_id")).distinct()
    val ends = du.select(col("day").as("window_end")).distinct()
    val exact = du
      .select(col("user_id"), explode(sequence(col("day"),
        date_add(col("day"), 6))).as("window_end"))
      .join(ends, "window_end")
      .groupBy("window_end")
      .agg(countDistinct(col("user_id")).as("n_users"))
    sorted(exact.join(approx, Seq("window_end"))
      .select(col("window_end"), col("n_users"),
        (abs(col("approx_distinct") - col("n_users"))
          <= col("n_users") * lit(0.05)).cast("int").as("approx_ok")))
  }

  val q88Sql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
      |), ends AS (
      |  SELECT DISTINCT day AS window_end FROM du
      |)
      |SELECT e.window_end, COUNT(DISTINCT du.user_id) AS n_users,
      |       1 AS approx_ok
      |FROM ends e
      |JOIN du ON du.day BETWEEN e.window_end - INTERVAL 6 DAY
      |                      AND e.window_end
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q87 — RANGE-ROUTED navigation: the time-sliced dashboard panel
  //       (d_year >= 1995) answered from the stored seg×year summary —
  //       a range predicate routes exactly like equality because a
  //       summary row is the complete partial of its grain cell, so any
  //       row-level predicate over kept grain columns selects whole
  //       cells. Routing (smaller covering summary) pinned as a
  //       literal; oracle recomputes from the raw star with the same
  //       WHERE.
  // -------------------------------------------------------------------
  def q87(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggregateNavigator.{NavMeasure, NavPred}
    val c = graft.builders.Tpch.cube(s, dir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q87_nav_" +
      Integer.toHexString(dir.hashCode)
    c.summarize(root, Seq(
      "seg_year_region" -> Seq("c_mktsegment", "d_year", "r_name"),
      "seg_year" -> Seq("c_mktsegment", "d_year")),
      Seq(NavMeasure("sum", "sum_qty", "sum_qty"),
        NavMeasure("sum", "n", "n")))
    val (ans, via) = c.aggregateRoutedWhere(Seq("c_mktsegment"), root,
      Seq(NavPred.range("d_year", lo = Some(1995))))
    sorted(ans.withColumn("routed_via", lit(via)))
  }

  val q87Sql: String =
    """SELECT c_mktsegment, SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
      |       'seg_year' AS routed_via
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |WHERE year(l_shipdate) >= 1995
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q102 — NAVIGATOR RETRACTION end-to-end (q80's inverse): summaries
  //        built from the FULL fact, then every 1998 row is retracted
  //        WITHOUT rescanning the base — sign-flipped partials merge
  //        cell-wise, fully-retracted cells are deleted (the hidden
  //        row-count partial witnesses emptiness). The routed answer
  //        after retraction must equal a from-scratch rebuild over the
  //        surviving rows exactly. sum/count measures only — min/max
  //        stores reject retraction with a named error (spec-pinned).
  // -------------------------------------------------------------------
  def q102(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggregateNavigator
    import graft.operators.AggregateNavigator.NavMeasure
    val li = Tpch.table(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
    val measures = Seq(
      NavMeasure("sum", "l_quantity", "sum_qty"),
      NavMeasure("count", "*", "n_rows"))
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q102_nav_" +
      Integer.toHexString(dir.hashCode)
    AggregateNavigator.buildSummaries(li,
      Seq(
        "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
        "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, root)
    val after = AggregateNavigator.retractSummaries(
      li.filter(col("ship_year") === 1998), root)
    val (ans, via) = AggregateNavigator.query(s,
      li.filter(col("ship_year") =!= 1998), after,
      Seq("l_returnflag", "l_linestatus"), measures)
    sorted(ans.withColumn("routed_via", lit(via)))
  }

  val q102Sql: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |       count(*) AS n_rows, 'rf_ls' AS routed_via
      |FROM lineitem WHERE year(l_shipdate) <> 1998 GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q110 — NAVIGATOR RETRACTION WITH MIN/MAX GRAINS (q102's extension):
  //        a store holding non-invertible min/max measures retracts via
  //        retractSummariesWithBase — additive partials fold sign-
  //        flipped (delta-sized), min/max columns of the TOUCHED cells
  //        rebuild from the surviving base's touched footprint, and
  //        untouched cells keep stored partials byte-identical. The
  //        routed answer must equal a from-scratch rebuild exactly.
  // -------------------------------------------------------------------
  def q110(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggregateNavigator
    import graft.operators.AggregateNavigator.NavMeasure
    val li = Tpch.table(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
    val measures = Seq(
      NavMeasure("sum", "l_quantity", "sum_qty"),
      NavMeasure("min", "l_extendedprice", "min_price"),
      NavMeasure("max", "l_quantity", "max_qty"),
      NavMeasure("count", "*", "n_rows"))
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q110_nav_" +
      Integer.toHexString(dir.hashCode)
    AggregateNavigator.buildSummaries(li,
      Seq(
        "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
        "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, root)
    val surviving = li.filter(col("ship_year") =!= 1998)
    val after = AggregateNavigator.retractSummariesWithBase(
      li.filter(col("ship_year") === 1998), surviving, root)
    val (ans, via) = AggregateNavigator.query(s, surviving, after,
      Seq("l_returnflag", "l_linestatus"), measures)
    sorted(ans.withColumn("routed_via", lit(via)))
  }

  val q110Sql: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |       min(l_extendedprice) AS min_price, max(l_quantity) AS max_qty,
      |       count(*) AS n_rows, 'rf_ls' AS routed_via
      |FROM lineitem WHERE year(l_shipdate) <> 1998 GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q123 — one-pass column profiler (ingest data-quality gate): counts,
  //        nulls, native-type min/max, HLL++ distinct. Exact fields are
  //        replayed by the oracle; the approximate distinct gets the q31
  //        verdict treatment (in-query 5% check vs exact, oracle pins 1).
  // -------------------------------------------------------------------
  def q123(s: SparkSession, dir: String): DataFrame = {
    val o = Tpch.table(s, dir, "orders")
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
    val prof = graft.operators.Profiler.profile(o, cols)
    val exact = o
      .agg(countDistinct(col(cols.head)).as(cols.head),
        cols.tail.map(c => countDistinct(col(c)).as(c)): _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(c).as("exact"))): _*)).as("e"))
      .select("e.*")
    sorted(prof.join(exact, "column")
      .select(col("column").as("col_name"), col("n_rows"), col("n_null"),
        col("min_value"), col("max_value"),
        (abs(col("approx_distinct") - col("exact"))
          <= col("exact") * lit(0.05)).cast("int").as("distinct_ok")))
  }

  val q123Sql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |       count(*) - count($c) AS n_null,
         |       CAST(min($c) AS VARCHAR) AS min_value,
         |       CAST(max($c) AS VARCHAR) AS max_value,
         |       CAST(1 AS INT) AS distinct_ok
         |FROM orders""".stripMargin
    Seq("o_custkey", "o_orderstatus", "o_orderpriority").map(one)
      .mkString("", "\nUNION ALL\n", "\n") +
      """ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
        |         4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST""".stripMargin
  }

  // -------------------------------------------------------------------
  // q124 — ingest-volume anomaly report: per (event_type, day) counts
  //        z-scored against the trailing-7-day mean/stddev (current day
  //        excluded from its own baseline). NULL zscore while the
  //        baseline is undefined — spelled out on BOTH sides because
  //        engines disagree on x/0 and CASE-over-NULL defaults.
  // -------------------------------------------------------------------
  def q124(s: SparkSession, dir: String): DataFrame =
    sorted(Events.volumeAnomalies(events(s, dir), "ts", Seq("event_type"),
      window = 7, z = 2.0)
      .withColumn("mu", round(col("mu"), 4))
      .withColumn("sigma", round(col("sigma"), 4))
      .withColumn("zscore", round(col("zscore"), 4)))

  val q124Sql: String =
    """WITH d0 AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT event_type, min(day) AS gmin FROM d0 GROUP BY 1
      |), gmax AS (
      |  SELECT max(day) AS gmax FROM d0
      |), d AS (
      |  SELECT s.event_type, gs.day, coalesce(d0.n, 0) AS n
      |  FROM span s
      |  CROSS JOIN gmax g
      |  CROSS JOIN LATERAL (SELECT unnest(generate_series(
      |    s.gmin, g.gmax, INTERVAL 1 DAY)) AS day) gs
      |  LEFT JOIN d0 ON d0.event_type = s.event_type AND d0.day = gs.day
      |), w AS (
      |  SELECT event_type, day, n,
      |         avg(n) OVER win AS mu,
      |         stddev_samp(n) OVER win AS sigma
      |  FROM d
      |  WINDOW win AS (PARTITION BY event_type ORDER BY day
      |                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT event_type, day, n, round(mu, 4) AS mu, round(sigma, 4) AS sigma,
      |       CASE WHEN sigma IS NULL OR sigma = 0 THEN NULL
      |            ELSE round((n - mu) / sigma, 4) END AS zscore,
      |       CASE WHEN sigma IS NULL OR sigma = 0 THEN NULL
      |            WHEN abs((n - mu) / sigma) > 2.0 THEN 1 ELSE 0 END AS is_anomaly
      |FROM w
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST, 6 NULLS FIRST, 7 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q127 — PROFILER QUANTILES (q123's numeric extension): one-pass
  //        approximate percentiles per numeric column, judged with the
  //        q31/q123 verdict doctrine — the EXACT interpolated quantile
  //        is replayed by the oracle (rounded), the approximate sketch
  //        value is pinned in-query to within 2% of the Spark-exact
  //        value, and only the verdict int crosses the hash.
  // -------------------------------------------------------------------
  def q127(s: SparkSession, dir: String): DataFrame = {
    val o = Tpch.table(s, dir, "orders")
    val qs = Seq(0.25, 0.5, 0.75)
    val qarr = array(qs.map(lit): _*)
    val prof = graft.operators.Profiler.profile(
      o, Seq("o_totalprice", "o_custkey"), quantiles = qs)
    val exact = o.agg(
        percentile(col("o_totalprice").cast("double"), qarr).as("e1"),
        percentile(col("o_custkey").cast("double"), qarr).as("e2"))
      .select(explode(array(
        struct(lit("o_totalprice").as("column"), col("e1").as("ex")),
        struct(lit("o_custkey").as("column"), col("e2").as("ex")))).as("e"))
      .select("e.*")
    sorted(prof.join(exact, "column")
      .select(col("column").as("col_name"),
        posexplode(arrays_zip(col("quantiles"), col("ex"))))
      .select(col("col_name"), (col("pos") + 1).cast("int").as("q_idx"),
        round(col("col.ex"), 4).as("exact_q"),
        (abs(col("col.quantiles") - col("col.ex"))
          <= lit(0.02) * abs(col("col.ex"))).cast("int").as("approx_ok")))
  }

  val q127Sql: String =
    """WITH ex AS (
      |  SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
      |                       [0.25, 0.5, 0.75]) AS tp,
      |         quantile_cont(CAST(o_custkey AS DOUBLE),
      |                       [0.25, 0.5, 0.75]) AS ck
      |  FROM orders
      |)
      |SELECT col_name, CAST(q_idx AS INT) AS q_idx,
      |       round(v, 4) AS exact_q, CAST(1 AS INT) AS approx_ok
      |FROM (
      |  SELECT 'o_totalprice' AS col_name, u.i AS q_idx, u.v
      |  FROM ex, LATERAL (SELECT unnest(tp) AS v,
      |                           unnest(range(1, 4)) AS i) u
      |  UNION ALL
      |  SELECT 'o_custkey' AS col_name, u.i AS q_idx, u.v
      |  FROM ex, LATERAL (SELECT unnest(ck) AS v,
      |                           unnest(range(1, 4)) AS i) u
      |)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q131 — Z-ORDER LAYOUT PROFILE: Morton-interleave (l_partkey,
  //        l_suppkey) at 8 bits each, bucket the curve into 16
  //        consecutive ranges, and report per range the row count and
  //        the min/max span of BOTH columns — the per-file statistics a
  //        skipping scan planner would see after `OPTIMIZE ZORDER BY`.
  //        Exact long math end to end (integral div + bit interleave),
  //        so the oracle replays the addresses bit-for-bit.
  // -------------------------------------------------------------------
  def q131(s: SparkSession, dir: String): DataFrame = {
    val li = Tpch.table(s, dir, "lineitem")
    sorted(graft.operators.Layout.zProfile(
      li, Seq("l_partkey", "l_suppkey"), bits = 8, prefixBits = 4))
  }

  val q131Sql: String = {
    // ((bp >> b) & 1) << (b*2)  |  ((bs >> b) & 1) << (b*2 + 1)
    val terms = (0 until 8).flatMap(b => Seq(
      s"(((bp >> $b) & 1) << ${b * 2})",
      s"(((bs >> $b) & 1) << ${b * 2 + 1})"))
    s"""WITH st AS (
      |  SELECT min(l_partkey) mnp, max(l_partkey) mxp,
      |         min(l_suppkey) mns, max(l_suppkey) mxs
      |  FROM lineitem
      |), b AS (
      |  SELECT l_partkey, l_suppkey,
      |         ((l_partkey - mnp) * 256) // (mxp - mnp + 1) AS bp,
      |         ((l_suppkey - mns) * 256) // (mxs - mns + 1) AS bs
      |  FROM lineitem, st
      |), z AS (
      |  SELECT l_partkey, l_suppkey,
      |         ${terms.mkString(" | ")} AS zv
      |  FROM b
      |)
      |SELECT zv >> 12 AS z_range, count(*) AS n_rows,
      |       min(l_partkey) AS min_l_partkey, max(l_partkey) AS max_l_partkey,
      |       min(l_suppkey) AS min_l_suppkey, max(l_suppkey) AS max_l_suppkey
      |FROM z GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST, 6 NULLS FIRST""".stripMargin
  }

  // -------------------------------------------------------------------
  // q135 — COMPACTION PLAN (the lakehouse OPTIMIZE bin-packing step):
  //        treat each l_orderkey's lineitems as one "file" (size = row
  //        count), bin-pack files into ~64-row groups in key order via
  //        the exact distributed prefix sum (range partition + keyed
  //        window + bounded offsets — no global sort, no single-
  //        partition window), and report per group the file count, total
  //        size, and key span. group = (running_total − size) / target,
  //        exact integer math — the oracle replays it with one window.
  // -------------------------------------------------------------------
  def q135(s: SparkSession, dir: String): DataFrame = {
    val li = Tpch.table(s, dir, "lineitem")
    val files = li.groupBy("l_orderkey").agg(count(lit(1)).as("bytes"))
    val plan = graft.operators.Layout.compactionPlan(
      files, Seq("l_orderkey"), "bytes", targetSize = 64)
    sorted(plan.groupBy("file_group").agg(
      count(lit(1)).as("n_files"), sum("bytes").as("bytes"),
      min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key")))
  }

  val q135Sql: String =
    """WITH f AS (
      |  SELECT l_orderkey, count(*) AS bytes FROM lineitem GROUP BY 1
      |), c AS (
      |  SELECT l_orderkey, bytes,
      |         sum(bytes) OVER (ORDER BY l_orderkey) AS cum
      |  FROM f
      |)
      |SELECT CAST((cum - bytes) // 64 AS BIGINT) AS file_group,
      |       count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes,
      |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
      |FROM c GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q148 — BUCKETED CO-LOCATED JOIN (Layout.saveBucketed): lineitem and
  //        orders written bucketed-by-orderkey (8 buckets, sorted within
  //        bucket), then joined through the CATALOG tables — the bucketed
  //        scans report HashPartitioning(orderkey, 8), so the join runs
  //        with NO Exchange on either side (Round14Spec pins zero
  //        shuffles below the join). The one-time write shuffle is the
  //        ingest cost every later orderkey join stops paying — at 100 TB
  //        the fact table re-shuffle IS the query cost, so this is the
  //        headline storage-layout win. Values: revenue per priority in
  //        exact cents, replayed by a plain DuckDB join+agg (the layout
  //        must not change a single answer).
  // -------------------------------------------------------------------
  def q148(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q148_bucketed_" +
      Integer.toHexString(dir.hashCode)
    val li = Tpch.table(s, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Tpch.table(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority")
    // the two bucketed ingests are independent writes — overlap them
    // (guide §2.6 job overlap; different tables/paths). NOTE the
    // concurrent saveAsTable registrations assume the IN-MEMORY session
    // catalog (synchronized; this engine always runs with it) — a Hive
    // metastore backend is not advertised thread-safe for concurrent
    // catalog writes, so serialize the registrations there (advisor
    // note r17).
    graft.util.Par.run[Unit](Seq(
      () => Layout.saveBucketed(li, "graft_q148_li", "l_orderkey",
        numBuckets = 8, sortCols = Seq("l_orderkey"),
        path = Some(s"$root/li")),
      () => Layout.saveBucketed(ord, "graft_q148_ord", "o_orderkey",
        numBuckets = 8, sortCols = Seq("o_orderkey"),
        path = Some(s"$root/ord"))))
    val j = bucketedOrderkeyJoin(s)
    sorted(j.groupBy("o_orderpriority").agg(
      count(lit(1)).as("n_items"),
      sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
        lit(100)).cast("long")).as("revenue_cents")))
  }

  /** The post-ingest join of q148's two bucketed catalog tables — split
    * out so Round14Spec can pin its physical plan (no Exchange below the
    * join) against exactly the frame the query aggregates. */
  private[graft] def bucketedOrderkeyJoin(s: SparkSession): DataFrame =
    s.table("graft_q148_li")
      .join(s.table("graft_q148_ord"),
        col("l_orderkey") === col("o_orderkey"))

  val q148Sql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |         AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin
}
