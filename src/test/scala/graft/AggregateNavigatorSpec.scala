package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.AggregateNavigator
import graft.operators.AggregateNavigator.{NavMeasure, Summary}

/** Aggregate navigation: one-pass multi-grain summary build, smallest-
  * covering-summary routing, partial re-aggregation correctness, base
  * fallback, and the scan-path pin (a routed query must never touch the
  * base fact's files). */
class AggregateNavigatorSpec extends SparkSpec {

  private val measures = Seq(
    NavMeasure("sum", "l_quantity", "sum_qty"),
    NavMeasure("count", "*", "n_rows"),
    NavMeasure("min", "l_quantity", "min_qty"),
    NavMeasure("max", "l_quantity", "max_qty"))

  private lazy val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    .withColumn("ship_year", year(col("l_shipdate")))

  private lazy val root = {
    val d = java.nio.file.Files.createTempDirectory("agg_nav").toString
    AggregateNavigator.buildSummaries(li, Seq(
      "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
      "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, d)
    d
  }

  private lazy val sums = AggregateNavigator.loadStore(spark, root)._1

  test("routing picks the smallest covering summary; base when none covers") {
    assert(sums.size == 2)
    val byName = sums.map(s => s.name -> s).toMap
    assert(byName("rf_ls").rows < byName("rf_ls_year").rows)
    assert(AggregateNavigator.route(sums, Seq("l_returnflag")).map(_.name)
      .contains("rf_ls"))
    assert(AggregateNavigator.route(sums, Seq("ship_year")).map(_.name)
      .contains("rf_ls_year"))
    // not covered by any stored grain -> fall back to base
    assert(AggregateNavigator.route(sums, Seq("l_partkey")).isEmpty)
  }

  test("every grain's routed answer equals direct base aggregation") {
    for (dims <- Seq(Seq("l_returnflag"), Seq("l_linestatus", "ship_year"),
      Seq("l_returnflag", "l_linestatus", "ship_year"))) {
      val (ans, via) = AggregateNavigator.query(spark, li, sums, dims, measures)
      assert(via != "base", s"expected summary routing for $dims")
      val direct = li.groupBy(dims.map(col): _*)
        .agg(measures.head.fromBase, measures.tail.map(_.fromBase): _*)
      assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty,
        s"summary answer diverged for dims=$dims via=$via")
    }
  }

  test("uncovered dims fall back to the base fact and stay correct") {
    val dims = Seq("l_returnflag", "l_partkey")
    val (ans, via) = AggregateNavigator.query(spark, li, sums, dims, measures)
    assert(via == "base")
    val direct = li.groupBy(dims.map(col): _*)
      .agg(measures.head.fromBase, measures.tail.map(_.fromBase): _*)
    assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty)
  }

  test("a routed query scans ONLY the summary store, never the base fact") {
    val (ans, _) = AggregateNavigator.query(spark, li, sums,
      Seq("l_returnflag"), measures)
    ans.count()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
    val paths = scans(ans.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths).map(_.toString)
    assert(paths.nonEmpty && paths.forall(_.contains("agg_nav")),
      s"unexpected scan paths: $paths")
    assert(!paths.exists(_.contains("lineitem")), s"base fact scanned: $paths")
  }

  test("incremental refresh equals a from-scratch rebuild, all grains") {
    val pre = li.filter(col("ship_year") < 1996)
    val delta = li.filter(col("ship_year") >= 1996)
    val d = java.nio.file.Files.createTempDirectory("agg_nav_inc").toString
    AggregateNavigator.buildSummaries(pre, Seq(
      "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
      "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, d)
    val refreshed = AggregateNavigator.refreshSummaries(delta, d)
    assert(AggregateNavigator.loadStore(spark, d)._2.toSet == measures.toSet)
    // refreshed store answers == full-data answers at every grain (and
    // the coarser routed request), including fresh cells (1996+ years
    // never seen at build time)
    for (dims <- Seq(Seq("l_returnflag"), Seq("ship_year"),
      Seq("l_returnflag", "l_linestatus", "ship_year"))) {
      val (ans, via) = AggregateNavigator.query(spark, li, refreshed, dims, measures)
      assert(via != "base")
      val direct = li.groupBy(dims.map(col): _*)
        .agg(measures.head.fromBase, measures.tail.map(_.fromBase): _*)
      assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty,
        s"refresh diverged from rebuild for dims=$dims")
    }
  }

  test("the build computes ALL grains in one pass: one base scan, one Expand") {
    val flat = AggregateNavigator.flatPlan(li,
      Seq(Seq("l_returnflag", "l_linestatus", "ship_year"),
        Seq("l_returnflag", "l_linestatus")), measures)
    flat.count()
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case other => other +: other.children.flatMap(nodes)
      }
    val ns = nodes(flat.queryExecution.executedPlan)
    assert(ns.count(_.isInstanceOf[FileSourceScanExec]) == 1,
      "multi-grain build must scan the base fact exactly once")
    assert(ns.count(_.nodeName.contains("Expand")) == 1,
      "grouping sets must be one Expand, not a union of per-grain aggregations")
  }

  test("streaming refresh maintains the store; replayed batches are skipped") {
    import org.apache.spark.sql.streaming.Trigger
    val d = java.nio.file.Files.createTempDirectory("nav_streaming").toString
    // store starts EMPTY (grain/measure declaration only) — every cell
    // arrives via the stream
    val empty = AggregateNavigator.buildSummaries(li.filter(lit(false)), Seq(
      "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
      "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, s"$d/store")
    // querying the declaration-only store answers EMPTY (routed, no crash
    // on the absent partition dirs, no base scan)
    val (pre, preVia) = AggregateNavigator.query(spark, li, empty,
      Seq("l_returnflag"), measures)
    assert(preVia != "base" && pre.count() == 0)
    // two files -> two micro-batches under maxFilesPerTrigger=1
    li.filter(col("ship_year") < 1996).coalesce(1)
      .write.mode("append").parquet(s"$d/in")
    li.filter(col("ship_year") >= 1996).coalesce(1)
      .write.mode("append").parquet(s"$d/in")
    val stream = spark.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$d/in")
    val q = graft.streaming.CubeStreaming.startRefreshSummaries(
      stream, s"$d/store", s"$d/ckpt", Trigger.AvailableNow())
    q.awaitTermination(120000)
    val sums2 = AggregateNavigator.loadStore(spark, s"$d/store")._1
    for (dims <- Seq(Seq("l_returnflag"),
      Seq("l_returnflag", "l_linestatus", "ship_year"))) {
      val (ans, via) = AggregateNavigator.query(spark, li, sums2, dims, measures)
      assert(via != "base")
      val direct = li.groupBy(dims.map(col): _*)
        .agg(measures.head.fromBase, measures.tail.map(_.fromBase): _*)
      assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty,
        s"streamed store diverged from batch for dims=$dims")
    }
    // at-least-once replay: both batch ids are journaled -> skipped
    assert(!AggregateNavigator.refreshSummariesOnce(
      li.limit(5), s"$d/store", 0L))
    assert(!AggregateNavigator.refreshSummariesOnce(
      li.limit(5), s"$d/store", 1L))
    val (after, _) = AggregateNavigator.query(spark, li, sums2,
      Seq("l_returnflag"), measures)
    val direct = li.groupBy(col("l_returnflag"))
      .agg(measures.head.fromBase, measures.tail.map(_.fromBase): _*)
    assert(after.except(direct).isEmpty && direct.except(after).isEmpty,
      "replayed batches must not change the store")
  }

  test("cube-surface routing equals cube.aggregate; uncovered attrs fall back") {
    import graft.operators.AggregateNavigator.NavMeasure
    val c = graft.builders.Tpch.cube(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("nav_cube").toString
    c.summarize(root, Seq(
      "seg_year_region" -> Seq("c_mktsegment", "d_year", "r_name"),
      "seg_year" -> Seq("c_mktsegment", "d_year")),
      Seq(NavMeasure("sum", "sum_qty", "sum_qty"), NavMeasure("sum", "n", "n")))
    for (by <- Seq(Seq("c_mktsegment"), Seq("d_year", "r_name"),
      Seq("c_mktsegment", "d_year", "r_name"))) {
      val (ans, via) = c.aggregateRouted(by, root)
      assert(via != "base", s"expected summary routing for $by")
      val direct = c.aggregate(by).fact.data
        .select((by ++ Seq("sum_qty", "n")).map(col): _*)
      assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty,
        s"routed cube answer diverged for by=$by via=$via")
    }
    // an attribute outside every stored grain -> live fact+dim join path
    val (fb, fbVia) = c.aggregateRouted(Seq("s_name"), root)
    assert(fbVia == "base")
    val direct = c.aggregate(Seq("s_name")).fact.data
      .select(col("s_name"), col("sum_qty"), col("n"))
    assert(fb.except(direct).isEmpty && direct.except(fb).isEmpty)
    // equality filters route when the grain keeps the filtered column
    // (the filter prunes summary partials BEFORE re-aggregation) …
    val (filt, filtVia) = c.aggregateRouted(Seq("c_mktsegment"), root,
      filters = Map("d_year" -> Seq(1995, 1996)))
    assert(filtVia != "base")
    val filtDirect = c.aggregate(Seq("c_mktsegment", "d_year")).fact.data
      .filter(col("d_year").isin(1995, 1996))
      .groupBy("c_mktsegment")
      .agg(sum("sum_qty").as("sum_qty"), sum("n").as("n"))
    assert(filt.except(filtDirect).isEmpty && filtDirect.except(filt).isEmpty)
    // … and a filter on an uncovered column forces the live path
    val (ff, ffVia) = c.aggregateRouted(Seq("c_mktsegment"), root,
      filters = Map("s_name" -> Seq("Supplier#000000001")))
    assert(ffVia == "base" && ff.count() >= 0)
  }

  test("range predicates route like equality; uncovered or un-kept columns fall back") {
    import graft.operators.AggregateNavigator.NavPred
    val c = graft.builders.Tpch.cube(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("nav_range").toString
    c.summarize(root, Seq(
      "seg_year" -> Seq("c_mktsegment", "d_year")),
      Seq(NavMeasure("sum", "sum_qty", "sum_qty"), NavMeasure("sum", "n", "n")))
    // a range over a kept grain column routes and prunes partials
    val (ans, via) = c.aggregateRoutedWhere(Seq("c_mktsegment"), root,
      Seq(NavPred.range("d_year", lo = Some(1995), hi = Some(1996))))
    assert(via == "seg_year", s"expected summary routing, got $via")
    val direct = c.aggregate(Seq("c_mktsegment", "d_year")).fact.data
      .filter(col("d_year") >= 1995 && col("d_year") <= 1996)
      .groupBy("c_mktsegment")
      .agg(sum("sum_qty").as("sum_qty"), sum("n").as("n"))
    assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty,
      "range-routed answer diverged from the live recompute")
    // the closed range equals the equivalent membership filter end-to-end
    val (eq, eqVia) = c.aggregateRouted(Seq("c_mktsegment"), root,
      filters = Map("d_year" -> Seq(1995, 1996)))
    assert(eqVia == via)
    assert(ans.except(eq).isEmpty && eq.except(ans).isEmpty)
    // one-sided bound works; a predicate on a column NO grain kept falls
    // back to the live path and stays correct
    val (_, loVia) = c.aggregateRoutedWhere(Seq("c_mktsegment"), root,
      Seq(NavPred.range("d_year", lo = Some(1996))))
    assert(loVia == "seg_year")
    val (fb, fbVia) = c.aggregateRoutedWhere(Seq("c_mktsegment"), root,
      Seq(NavPred.range("r_name", lo = Some("ASIA"))))
    assert(fbVia == "base")
    val fbDirect = c.aggregate(Seq("c_mktsegment", "r_name")).fact.data
      .filter(col("r_name") >= "ASIA")
      .groupBy("c_mktsegment")
      .agg(sum("sum_qty").as("sum_qty"), sum("n").as("n"))
    assert(fb.except(fbDirect).isEmpty && fbDirect.except(fb).isEmpty)
    // NavPred.range refuses an unbounded (vacuous) predicate
    intercept[IllegalArgumentException] { NavPred.range("d_year") }
  }

  test("routed rollup equals rollupFlat; uncovered margin falls back") {
    import graft.operators.AggregateNavigator.NavMeasure
    val c = graft.builders.Tpch.cube(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("nav_rollup").toString
    c.summarize(root, Seq("seg_year" -> Seq("c_mktsegment", "d_year")),
      Seq(NavMeasure("sum", "sum_qty", "sum_qty"), NavMeasure("sum", "n", "n")))
    val margin = Seq("c_mktsegment", "d_year")
    val (ans, via) = c.rollupRoutedFlat(margin, root)
    assert(via == "seg_year")
    val direct = c.rollupFlat(margin)
      .select((margin ++ Seq("sum_qty", "n", "level")).map(col): _*)
    assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty,
      "routed rollup diverged from the live-fact rollup")
    // index filter passes through
    val (subtotals, _) = c.rollupRoutedFlat(margin, root, index = Seq(1, 2))
    assert(subtotals.select("level").distinct().collect()
      .map(_.getInt(0)).toSet == Set(1, 2))
    // margin not covered by the store -> live path, all cube measures
    val (fb, fbVia) = c.rollupRoutedFlat(Seq("r_name"), root)
    assert(fbVia == "base" && fb.columns.contains("sum_price"))
    // empty covering summary answers EMPTY (routed — the store is the
    // truth; same rule as query()'s declaration-only case, no live leak)
    val emptyRoot = java.nio.file.Files.createTempDirectory("nav_rollup_e").toString
    c.summarize(emptyRoot,
      Seq("seg_year" -> Seq("c_mktsegment", "d_year")),
      Seq(NavMeasure("sum", "sum_qty", "sum_qty")))
    // overwrite with a declaration-only build (false-filtered fact)
    graft.operators.AggregateNavigator.buildSummaries(
      graft.model.GroupingSets.denormFor(c, Seq("c_mktsegment", "d_year"))
        .filter(lit(false)),
      Seq("seg_year" -> Seq("c_mktsegment", "d_year")),
      Seq(NavMeasure("sum", "sum_qty", "sum_qty")), emptyRoot)
    val (er, erVia) = c.rollupRoutedFlat(margin, emptyRoot)
    assert(erVia == "seg_year" && er.count() == 0)
  }

  test("manifest round-trips grains, paths, and row counts") {
    val rebuilt = AggregateNavigator.loadStore(spark, root)._1
    assert(rebuilt.toSet == sums.toSet)
    rebuilt.foreach { s: Summary =>
      assert(spark.read.parquet(s.path).count() == s.rows)
    }
  }

  private val addMeasures = Seq(
    NavMeasure("sum", "l_quantity", "sum_qty"),
    NavMeasure("count", "*", "n_rows"))

  test("retraction equals a from-scratch rebuild; empty cells are deleted") {
    val d = java.nio.file.Files.createTempDirectory("agg_nav_ret").toString
    // ingest everything, then retract ALL 1998 rows — every 1998-only
    // cell of the year grain must vanish, exactly as a rebuild from the
    // surviving rows would have it
    AggregateNavigator.buildSummaries(li, Seq(
      "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
      "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      addMeasures, d)
    val retract = li.filter(col("ship_year") === 1998)
    val after = AggregateNavigator.retractSummaries(retract, d)
    val survivors = li.filter(col("ship_year") =!= 1998)
    for (dims <- Seq(Seq("l_returnflag"), Seq("ship_year"),
      Seq("l_returnflag", "l_linestatus", "ship_year"))) {
      val (ans, via) = AggregateNavigator.query(spark, survivors, after,
        dims, addMeasures)
      assert(via != "base")
      val direct = survivors.groupBy(dims.map(col): _*)
        .agg(addMeasures.head.fromBase, addMeasures.tail.map(_.fromBase): _*)
      assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty,
        s"retract diverged from rebuild for dims=$dims")
    }
    // the fully-retracted 1998 cells are GONE from the stored grain,
    // not present with zeroed partials
    val yearGrain = after.find(_.name == "rf_ls_year").get
    assert(spark.read.parquet(yearGrain.path)
      .filter(col("ship_year") === 1998).count() == 0)
  }

  test("retraction on a min/max store fails with a named error") {
    val d = java.nio.file.Files.createTempDirectory("agg_nav_mm").toString
    AggregateNavigator.buildSummaries(li,
      Seq("rf" -> Seq("l_returnflag")), measures, d) // has min/max
    val e = intercept[IllegalStateException] {
      AggregateNavigator.retractSummaries(li.limit(10), d)
    }
    assert(e.getMessage.contains("min") && e.getMessage.contains("rebuild"))
    // the failed retraction must not have touched the store
    val (ans, _) = AggregateNavigator.query(spark, li,
      AggregateNavigator.loadStore(spark, d)._1, Seq("l_returnflag"), measures)
    val direct = li.groupBy("l_returnflag")
      .agg(measures.head.fromBase, measures.tail.map(_.fromBase): _*)
    assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty)
  }

  test("min/max retraction with base repair equals a from-scratch rebuild") {
    val d = java.nio.file.Files.createTempDirectory("agg_nav_mmret").toString
    AggregateNavigator.buildSummaries(li, Seq(
      "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
      "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, d) // includes min_qty / max_qty
    val retract = li.filter(col("ship_year") === 1998)
    val survivors = li.filter(col("ship_year") =!= 1998)
    val after =
      AggregateNavigator.retractSummariesWithBase(retract, survivors, d)
    // the whole store (every grain, every partial incl. min/max and the
    // hidden row count) must equal a from-scratch build over survivors
    val d2 = java.nio.file.Files.createTempDirectory("agg_nav_mmreb").toString
    AggregateNavigator.buildSummaries(survivors, Seq(
      "rf_ls_year" -> Seq("l_returnflag", "l_linestatus", "ship_year"),
      "rf_ls" -> Seq("l_returnflag", "l_linestatus")),
      measures, d2)
    val got = spark.read.parquet(s"$d/data")
    val want = spark.read.parquet(s"$d2/data")
    assert(got.count() == want.count() &&
      got.except(want).isEmpty && want.except(got).isEmpty,
      "retractSummariesWithBase store diverged from a rebuild")
    // routed answers agree on a min/max request
    for (dims <- Seq(Seq("l_returnflag"), Seq("ship_year"))) {
      val (ans, via) = AggregateNavigator.query(spark, survivors, after,
        dims, measures)
      assert(via != "base")
      val direct = survivors.groupBy(dims.map(col): _*)
        .agg(measures.head.fromBase, measures.tail.map(_.fromBase): _*)
      assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty,
        s"min/max retract diverged from rebuild for dims=$dims")
    }
  }

  test("min/max base repair handles NULL grain keys (null-safe repair joins)") {
    // a grain column that is NULL for part of the data: the touched-cell
    // repair joins must match NULL keys (<=>) or the NULL-keyed cell
    // keeps its stale folded min/max after the minimum row is retracted
    val withNull = li.withColumn("rf_n",
      when(col("l_returnflag") === "N", lit(null).cast("string"))
        .otherwise(col("l_returnflag")))
    val d = java.nio.file.Files.createTempDirectory("agg_nav_null").toString
    AggregateNavigator.buildSummaries(withNull,
      Seq("rf_n" -> Seq("rf_n")), measures, d)
    // retract EVERY minimum-quantity row of the NULL-key cell (the
    // quantity domain is heavily tied — one row would leave the min
    // unchanged and prove nothing)
    val nullRows = withNull.filter(col("rf_n").isNull)
    val minQty = nullRows.agg(min("l_quantity")).head().getDouble(0)
    val victim = nullRows.filter(col("l_quantity") === minQty)
    val survivors = withNull.exceptAll(victim)
    AggregateNavigator.retractSummariesWithBase(victim, survivors, d)
    val got = spark.read.parquet(s"$d/data")
      .filter(col("rf_n").isNull)
      .select("min_qty").head().getDouble(0)
    val want = survivors.filter(col("rf_n").isNull)
      .agg(min("l_quantity")).head().getDouble(0)
    assert(got == want,
      s"NULL-keyed cell kept stale min after retraction: $got != $want")
  }

  test("retractSummariesWithBase on an additive-only store takes the fold path") {
    val d = java.nio.file.Files.createTempDirectory("agg_nav_addwb").toString
    AggregateNavigator.buildSummaries(li,
      Seq("rf" -> Seq("l_returnflag")), addMeasures, d)
    val retract = li.filter(col("ship_year") === 1998)
    val survivors = li.filter(col("ship_year") =!= 1998)
    // base is IGNORED on the delegate path — pass an empty frame to
    // prove no base scan is needed for invertible-only stores
    AggregateNavigator.retractSummariesWithBase(retract,
      survivors.limit(0), d)
    val direct = survivors.groupBy("l_returnflag")
      .agg(addMeasures.head.fromBase, addMeasures.tail.map(_.fromBase): _*)
    val (ans, _) = AggregateNavigator.query(spark, survivors,
      AggregateNavigator.loadStore(spark, d)._1, Seq("l_returnflag"),
      addMeasures)
    assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty)
  }

  test("retractSummariesWithBase still names over-retraction") {
    val d = java.nio.file.Files.createTempDirectory("agg_nav_mmover").toString
    AggregateNavigator.buildSummaries(li.filter(col("ship_year") === 1995),
      Seq("rf" -> Seq("l_returnflag")), measures, d)
    val e = intercept[IllegalStateException] {
      AggregateNavigator.retractSummariesWithBase(
        li.filter(col("ship_year") === 1996),
        li.filter(col("ship_year") === 1995), d)
    }
    assert(e.getMessage.contains("over-retraction"))
  }

  test("over-retraction fails with a named error and leaves the store intact") {
    val d = java.nio.file.Files.createTempDirectory("agg_nav_over").toString
    AggregateNavigator.buildSummaries(li.filter(col("ship_year") === 1995),
      Seq("rf" -> Seq("l_returnflag")), addMeasures, d)
    val e = intercept[IllegalStateException] {
      // retracting 1996 rows that were never ingested
      AggregateNavigator.retractSummaries(
        li.filter(col("ship_year") === 1996), d)
    }
    assert(e.getMessage.contains("over-retraction"))
    val (ans, _) = AggregateNavigator.query(spark,
      li.filter(col("ship_year") === 1995),
      AggregateNavigator.loadStore(spark, d)._1, Seq("l_returnflag"),
      addMeasures)
    val direct = li.filter(col("ship_year") === 1995).groupBy("l_returnflag")
      .agg(addMeasures.head.fromBase, addMeasures.tail.map(_.fromBase): _*)
    assert(ans.except(direct).isEmpty && direct.except(ans).isEmpty)
  }

  /** Read/write the store manifest text (driver-side, tiny). */
  private def manifestText(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "manifest", "manifest.json")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  /** Simulate a manifest written before the store-version flag existed. */
  private def stripRowCountFlag(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir, "manifest", "manifest.json")
    val txt = manifestText(dir)
    assert(txt.contains("\"has_row_counts\":true"),
      "expected a flagged manifest to strip")
    java.nio.file.Files.write(p,
      txt.replace(",\"has_row_counts\":true", "").getBytes("UTF-8")): Unit
    // the direct rewrite bypasses Hadoop's local-FS checksum layer —
    // drop the stale .crc sidecar or the next manifest read fails
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "manifest", ".manifest.json.crc")): Unit
  }

  test("retraction on a store without row-count partials fails, not guesses") {
    val d = java.nio.file.Files.createTempDirectory("agg_nav_legacy").toString
    AggregateNavigator.buildSummaries(li.filter(col("ship_year") === 1995),
      Seq("rf" -> Seq("l_returnflag")), addMeasures, d)
    // simulate a store written before RowCountCol existed: rewrite the
    // data without the hidden column AND drop the manifest's store-version
    // flag (a true legacy manifest never had it)
    val legacy = spark.read.parquet(s"$d/data")
      .drop(AggregateNavigator.RowCountCol)
    legacy.write.mode("overwrite").partitionBy("gid").parquet(s"$d/data_new")
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/data"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$d/data_new"),
      new org.apache.hadoop.fs.Path(s"$d/data"))
    stripRowCountFlag(d)
    val e = intercept[IllegalStateException] {
      AggregateNavigator.retractSummaries(
        li.filter(col("ship_year") === 1995).limit(5), d)
    }
    assert(e.getMessage.contains("predates row-count partials"))
    // REFRESH must refuse too: folding a delta into a legacy store would
    // backfill touched cells with delta-only non-null row counts, after
    // which the null probe can no longer tell the store is legacy and a
    // later retraction would trust undercounted witnesses
    val e2 = intercept[IllegalStateException] {
      AggregateNavigator.refreshSummaries(
        li.filter(col("ship_year") === 1996).limit(5), d)
    }
    assert(e2.getMessage.contains("predates row-count partials"))
  }

  test("store-version flag: unflagged-but-sound store migrates via one " +
    "probe and gets stamped; a flagged store is trusted without a scan") {
    // migration: a store whose data HAS row counts but whose manifest
    // predates the flag — the probe passes once, the rewrite stamps it
    val d = java.nio.file.Files.createTempDirectory("agg_nav_flag").toString
    AggregateNavigator.buildSummaries(li.filter(col("ship_year") === 1995),
      Seq("rf" -> Seq("l_returnflag")), addMeasures, d)
    assert(manifestText(d).contains("\"has_row_counts\":true"),
      "buildSummaries must stamp the store-version flag")
    stripRowCountFlag(d)
    AggregateNavigator.refreshSummaries(
      li.filter(col("ship_year") === 1996).limit(5), d)
    assert(manifestText(d).contains("\"has_row_counts\":true"),
      "a successful fold must re-stamp the flag")
    // authority: once flagged, the per-call data scan is GONE — a store
    // whose data was mangled to drop RowCountCol but whose manifest still
    // carries the flag refreshes without the legacy refusal (the flag,
    // not a scan, is the witness; this is the q80/q84 perf contract)
    val d2 = java.nio.file.Files.createTempDirectory("agg_nav_flag2").toString
    AggregateNavigator.buildSummaries(li.filter(col("ship_year") === 1995),
      Seq("rf" -> Seq("l_returnflag")), addMeasures, d2)
    val mangled = spark.read.parquet(s"$d2/data")
      .drop(AggregateNavigator.RowCountCol)
    mangled.write.mode("overwrite").partitionBy("gid").parquet(s"$d2/data_new")
    val fs = new org.apache.hadoop.fs.Path(d2)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$d2/data"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$d2/data_new"),
      new org.apache.hadoop.fs.Path(s"$d2/data"))
    AggregateNavigator.refreshSummaries(
      li.filter(col("ship_year") === 1996).limit(5), d2) // no refusal
  }

  test("retractSummariesOnce applies once; replays are skipped") {
    val d = java.nio.file.Files.createTempDirectory("agg_nav_once").toString
    AggregateNavigator.buildSummaries(li, Seq("rf" -> Seq("l_returnflag")),
      addMeasures, d)
    val retract = li.filter(col("ship_year") === 1998)
    assert(AggregateNavigator.retractSummariesOnce(retract, d, batchId = 7L))
    val afterFirst = spark.read
      .parquet(s"$d/data").agg(sum("sum_qty")).collect()(0).get(0)
    // a replay of the same batch id must be a no-op
    assert(!AggregateNavigator.retractSummariesOnce(retract, d, batchId = 7L))
    val afterReplay = spark.read
      .parquet(s"$d/data").agg(sum("sum_qty")).collect()(0).get(0)
    assert(afterFirst == afterReplay)
  }

  test("applied-batch watermark rides the swap: carried by unrelated rewrites, legacy markers honored, rebuild resets") {
    val d = java.nio.file.Files.createTempDirectory("agg_nav_wm").toString
    AggregateNavigator.buildSummaries(li, Seq("rf" -> Seq("l_returnflag")),
      addMeasures, d)
    assert(AggregateNavigator.refreshSummariesOnce(
      li.filter(col("ship_year") === 1998), d, batchId = 5L))
    // the marker lives INSIDE the swapped data unit — the single rename
    // that lands the new data lands its watermark with it (apply+mark
    // atomic; no applied-but-unmarked crash window)
    assert(new java.io.File(s"$d/data/_journal/refresh").isFile,
      "refresh watermark must live inside data/")
    // an unrelated plain rewrite must CARRY the journal forward — a
    // manual retraction between streaming batches cannot wipe it
    AggregateNavigator.retractSummaries(
      li.filter(col("ship_year") === 1998), d)
    assert(!AggregateNavigator.refreshSummariesOnce(li.limit(5), d, 5L),
      "watermark lost across an unjournaled store rewrite")
    // monotonic contract: ids at or below the watermark are applied
    assert(!AggregateNavigator.refreshSummariesOnce(li.limit(5), d, 3L))
    // namespaces are independent: the retract stream numbers its own
    // batches, so retract batch 3 still applies
    assert(AggregateNavigator.retractSummariesOnce(
      li.filter(col("ship_year") === 1997), d, batchId = 3L))
    // markers from the pre-watermark protocol still skip
    assert(new java.io.File(s"$d/_refresh_journal/batch=9").mkdirs())
    assert(!AggregateNavigator.refreshSummariesOnce(li.limit(5), d, 9L),
      "legacy outside-the-store marker must still be honored")
    // a rebuild is a fresh data unit: the journal resets with it
    AggregateNavigator.buildSummaries(li, Seq("rf" -> Seq("l_returnflag")),
      addMeasures, d)
    assert(AggregateNavigator.refreshSummariesOnce(
      li.filter(col("ship_year") === 1998), d, batchId = 5L),
      "rebuild must reset the watermark journal")
  }
}
