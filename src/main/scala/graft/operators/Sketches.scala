package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches over a cube grain — the standard
  * OLAP answer to the one aggregate that refuses to be additive.
  * COUNT(DISTINCT x) cannot be rolled up from stored per-cell counts
  * (distinct sets overlap), so a naive cube must rescan the raw fact for
  * every coarser grouping. HLL sketches restore additivity: build ONE
  * sketch per grain cell (one fact scan, ever), store the sketch table
  * like any other aggregate, and answer any coarser distinct-count
  * rollup by sketch UNION over the stored cells — at 100 TB the fact is
  * scanned once at ingest and never again, and the sketch table is
  * grain-sized, not fact-sized. Uses Spark's native Datasketches HLL
  * functions (`hll_sketch_agg` / `hll_union_agg` /
  * `hll_sketch_estimate`), which merge exactly and are codegen'd; the
  * estimate error is the standard HLL bound (~1.6% at the default
  * lgConfigK = 12).
  */
object Sketches {

  /** One HLL sketch of `valueCol` per `grain` cell — a binary column
    * named `<valueCol>_sketch`, mergeable forever after. One shuffle on
    * the grain (map-side partial sketches combine first). */
  def distinctSketchAtGrain(df: DataFrame, grain: Seq[String],
                            valueCol: String,
                            lgConfigK: Int = 12): DataFrame = {
    require(grain.nonEmpty, "sketch grain needs at least one column")
    df.groupBy(grain.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgConfigK))
        .as(s"${valueCol}_sketch"))
  }

  /** Roll stored sketches up to a coarser grouping: approximate distinct
    * count per `by` cell by unioning the cell sketches — no fact access.
    * Empty `by` = one grand-total row. */
  def rollupDistinct(sketches: DataFrame, by: Seq[String],
                     sketchCol: String,
                     outCol: String = "approx_distinct"): DataFrame = {
    val est: Column =
      hll_sketch_estimate(hll_union_agg(col(sketchCol))).as(outCol)
    if (by.isEmpty) sketches.agg(est)
    else sketches.groupBy(by.map(col): _*).agg(est)
  }

  /** Persist a distinct-count sketch cube: one HLL cell per `grain` row,
    * hive-partitioned by `partitionBy` (one of the grain columns — the
    * ingest unit, typically the time key) so incremental maintenance
    * ([[ingestSketchCube]]) touches only the delta's partitions. */
  def saveSketchCube(df: DataFrame, path: String, grain: Seq[String],
                     valueCol: String, partitionBy: String,
                     lgConfigK: Int = 12): Unit = {
    require(grain.contains(partitionBy),
      s"partition column $partitionBy must be part of the grain $grain")
    distinctSketchAtGrain(df, grain, valueCol, lgConfigK)
      .write.mode("overwrite").partitionBy(partitionBy)
      .parquet(path)
  }

  /** Incremental maintenance of a stored sketch cube — the
    * [[graft.io.CubeIO.ingestIntoStar]] protocol applied to the one
    * aggregate additive merges can't maintain: sketch the raw delta at
    * grain (ONE scan of the delta, never of history), collect its
    * partition footprint (small by construction), read ONLY the touched
    * partitions of the store, merge cell-wise by HLL union, and rewrite
    * just those partitions via dynamic partition overwrite. HLL union is
    * LOSSLESS at equal lgConfigK: the incrementally-maintained store
    * yields bit-identical estimates to re-sketching the full fact, so
    * incremental correctness is testable as equality, not tolerance.
    *
    * Per-ingest cost scales with the delta's partition footprint, not
    * the store or fact size. NOT idempotent under replay at the sketch
    * level in general — but re-unioning the SAME delta IS a no-op for
    * distinct counts (HLL union is idempotent on identical inputs), a
    * forgiving property additive ingest lacks. The merged cells are
    * materialized (eager localCheckpoint) before the overwrite so the
    * write cannot lazily re-read the files it replaces.
    *
    * @return number of partitions rewritten */
  def ingestSketchCube(spark: org.apache.spark.sql.SparkSession,
                       path: String, delta: DataFrame, grain: Seq[String],
                       valueCol: String, partitionBy: String,
                       lgConfigK: Int = 12): Int = {
    require(grain.contains(partitionBy),
      s"partition column $partitionBy must be part of the grain $grain")
    val sketchCol = s"${valueCol}_sketch"
    val deltaCells = distinctSketchAtGrain(delta, grain, valueCol, lgConfigK)
    val touched = deltaCells.select(col(partitionBy)).distinct().collect()
      .map(_.get(0))
    if (touched.isEmpty) return 0
    val touchedFilter = touched.map(v => col(partitionBy) <=> lit(v))
      .reduce(_ || _)
    // first ingest of a lifetime (streaming starts from a declaration-
    // only store): nothing to merge, the delta cells ARE the store
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val storeExists = fs.exists(root) && fs.listStatus(root).nonEmpty
    val existing =
      if (storeExists)
        spark.read.parquet(path)
          .filter(touchedFilter)
          .select(deltaCells.columns.map(col).toSeq: _*)
      else deltaCells.filter(lit(false))
    val merged = existing.unionByName(deltaCells)
      .groupBy(grain.map(col): _*)
      .agg(hll_union_agg(col(sketchCol)).as(sketchCol))
      .transform(graft.util.Stage.materialize)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy)
      .parquet(path)
    touched.length
  }

  /** Sliding-window distinct counts from STORED per-day sketch cells —
    * the dashboard form of [[rollupDistinct]]: for every day present in
    * the store (per `by` group), the approximate distinct count over the
    * trailing `width` days. The fact is never rescanned: each cell
    * contributes to at most `width` window ends via a bounded
    * `sequence` explode (cells × width rows — grain-sized, not
    * fact-sized), ends are restricted to days that exist in the store,
    * and one HLL union runs per (group, end). A 90-day rolling
    * distinct-users panel over a 100 TB event log reads ≤ 90 sketch
    * rows per group per point instead of re-scanning raw events —
    * overlapping windows are exactly where mergeable sketches beat both
    * re-aggregation and windowed COUNT DISTINCT (which cannot be
    * decomposed at all).
    *
    * Output: by ++ (window_end date, `outCol` long estimate). */
  def slidingDistinct(cells: DataFrame, dayCol: String, width: Int,
                      sketchCol: String, by: Seq[String] = Seq.empty,
                      outCol: String = "approx_distinct"): DataFrame = {
    require(width > 0, s"window width must be positive, got $width")
    val contrib = cells.select(
      (by.map(col) :+ col(sketchCol) :+ explode(sequence(col(dayCol),
        date_add(col(dayCol), width - 1))).as("window_end")): _*)
    val ends = cells.select((by.map(col) :+ col(dayCol).as("window_end")): _*)
      .distinct()
    contrib.join(ends, by :+ "window_end")
      .groupBy((by.map(col) :+ col("window_end")): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col(sketchCol))).as(outCol))
  }

  /** Per-cell Misra-Gries heavy-hitter summary of `termCol` — the
    * frequent-items member of the sketch-cube family (HLL for DISTINCT,
    * histograms for quantiles, MG for top terms): one bounded ≤`k`-entry
    * (term → lower-bound count) map plus the exact item count per
    * `grain` cell, built in ONE fact scan (the MG udaf gets map-side
    * partial aggregation, so partitions combine bounded summaries, never
    * raw term lists). Store the cells like any aggregate; any coarser
    * grouping's top terms come from [[rollupHeavyHitters]] without
    * re-scanning the fact.
    *
    * Guarantee carried by the cells (standard MG, preserved under merge
    * per the mergeable-summaries result): for every term,
    * `true_cell_count − n_cell/(k+1) ≤ mg_count ≤ true_cell_count` —
    * zero false negatives above share 1/(k+1). With `k` ≥ the cell's
    * distinct-term count the summary is EXACT and order-independent;
    * below that, which near-threshold terms survive depends on arrival
    * order (inherent to MG — the bound above always holds).
    *
    * Output: grain ++ (`<termCol>_mg` map, `n_items` long). */
  def termSummaryAtGrain(df: DataFrame, grain: Seq[String], termCol: String,
                         k: Int = 1024): DataFrame = {
    require(grain.nonEmpty, "summary grain needs at least one column")
    val mg = udaf(new graft.model.Aggregators.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    df.filter(col(termCol).isNotNull)
      .groupBy(grain.map(col): _*)
      .agg(mg(col(termCol)).as("__mg"), count(lit(1)).as("n_items"))
      .select((grain.map(col) :+ col("__mg.counts").as(s"${termCol}_mg")
        :+ col("n_items")): _*)
  }

  /** Incremental maintenance of a stored heavy-hitters cube — the
    * [[ingestSketchCube]] protocol for MG cells: summarize the raw delta
    * at grain (ONE delta scan, never of history), read ONLY the touched
    * store partitions, merge cell-wise with the standard mergeable-
    * summaries MG step — add counters per term, and when a merged cell
    * exceeds `k` entries subtract its (k+1)-th largest count from every
    * counter and drop non-positives (≤ k survive; the undercount grows
    * by the subtracted cut, staying within the summed n/(k+1) bound
    * [[rollupHeavyHitters]] reports) — then rewrite just those
    * partitions via dynamic partition overwrite. With `k` ≥ the merged
    * cell's vocabulary the cut is 0 and the maintained store is
    * EXACTLY a from-scratch rebuild.
    *
    * The per-cell merge runs as a keyed window over ≤ 2k candidates per
    * cell (store cell + delta cell) — grain-sized work, never
    * fact-sized. NOT idempotent under replay (counts are additive):
    * journal batch ids upstream as
    * [[graft.io.CubeIO]]'s `ingestIntoStarOnce` does.
    *
    * @return number of partitions rewritten */
  def ingestTermSummary(spark: org.apache.spark.sql.SparkSession,
                        path: String, delta: DataFrame, grain: Seq[String],
                        termCol: String, partitionBy: String,
                        k: Int = 1024): Int = {
    require(grain.contains(partitionBy),
      s"partition column $partitionBy must be part of the grain $grain")
    val mgCol = s"${termCol}_mg"
    val deltaCells = termSummaryAtGrain(delta, grain, termCol, k)
    val touched = deltaCells.select(col(partitionBy)).distinct().collect()
      .map(_.get(0))
    if (touched.isEmpty) return 0
    val touchedFilter = touched.map(v => col(partitionBy) <=> lit(v))
      .reduce(_ || _)
    val existing = spark.read.parquet(path)
      .filter(touchedFilter)
      .select(deltaCells.columns.map(col).toSeq: _*)
    val both = existing.unionByName(deltaCells)
    val entries = both.select(
      (grain.map(col) :+ explode(col(mgCol)).as(Seq("term", "__c"))): _*)
      .groupBy((grain.map(col) :+ col("term")): _*)
      .agg(sum("__c").as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(grain.map(col): _*)
      .orderBy(col("__c").desc, col("term").asc)
    // the (k+1)-th largest summed count is the MG merge cut; cells with
    // <= k terms have no (k+1)-th entry -> cut 0 via the left join
    val cuts = entries.withColumn("__r", row_number().over(w))
      .filter(col("__r") === k + 1)
      .select((grain.map(col) :+ col("__c").as("__cut")): _*)
    val ns = both.groupBy(grain.map(col): _*)
      .agg(sum("n_items").as("n_items"))
    val merged = entries
      .join(cuts, grain, "left")
      .withColumn("__c2", col("__c") - coalesce(col("__cut"), lit(0L)))
      .filter(col("__c2") > 0)
      .groupBy(grain.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("term"), col("__c2"))))
        .as(mgCol))
      .join(ns, grain)
      .select((grain.map(col) :+ col(mgCol) :+ col("n_items")): _*)
      .transform(graft.util.Stage.materialize)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy)
      .parquet(path)
    touched.length
  }

  /** Top-`topK` terms per `by` group from STORED [[termSummaryAtGrain]]
    * cells — no fact access. Summed lower-bound counts undercount each
    * term by at most Σ n_cell/(k+1) over the group's cells (a term absent
    * from a cell's map has true cell count ≤ n_cell/(k+1)), so the
    * per-group `max_undercount` column bounds the error and any term
    * with true share > 1/(k+1) of the group is guaranteed present.
    *
    * Shape: explode the cell maps (≤ k entries per cell — cells × k
    * rows, grain-sized not fact-sized), hash-agg per (group, term), rank
    * with a window KEYED by the group (candidates per group are bounded
    * by its cells × k, so no data-sized partition). Ties break by term
    * ascending; with cell-exact summaries (k ≥ distinct terms) the
    * result is the exact deterministic top-k.
    *
    * Output: by ++ (term, est_count, rank, max_undercount). */
  def rollupHeavyHitters(cells: DataFrame, by: Seq[String], mgCol: String,
                         k: Int, topK: Int = 10,
                         nCol: String = "n_items"): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val exploded = cells.select(
      (by.map(col) :+ explode(col(mgCol)).as(Seq("term", "__c"))): _*)
    // the undercount bound comes from the CELLS (one n_items per cell),
    // never from the exploded entries where it would repeat per term
    val bounds = cells.groupBy(by.map(col): _*)
      .agg(floor(sum(col(nCol)) / lit(k + 1)).as("max_undercount"))
    val summed = exploded.groupBy((by.map(col) :+ col("term")): _*)
      .agg(sum("__c").as("est_count"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(by.map(col): _*)
      .orderBy(col("est_count").desc, col("term").asc)
    val ranked = summed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
    val joined =
      if (by.isEmpty) ranked.crossJoin(graft.model.Joins.maybeBroadcast(bounds))
      else ranked.join(bounds, by)
    joined.select((by.map(col) :+ col("term") :+ col("est_count")
      :+ col("rank") :+ col("max_undercount")): _*)
  }

  /** Equi-width histogram of `valueCol` per `grain` cell, as a fixed
    * `nBins`-length count array `<valueCol>_hist` — the distribution
    * analog of [[distinctSketchAtGrain]]: fixed bin edges make the cells
    * mergeable BY CONSTRUCTION (element-wise add), so any coarser
    * grouping's distribution — and an approximate quantile from it
    * ([[histogramQuantile]]) — is answered from the stored cells without
    * re-scanning the fact. Out-of-range values clamp into the edge bins
    * (bin 0 / bin nBins-1 are "≤ lo" / "≥ hi" sentinels); NULLs are not
    * counted.
    *
    * ONE grain-keyed shuffle: the array is built as `nBins` conditional
    * sums inside a single hash aggregation (the simhash-bit pattern —
    * codegen'd, map-side combined), never a per-bin union or a second
    * pass. */
  def histogramAtGrain(df: DataFrame, grain: Seq[String], valueCol: String,
                       lo: Double, width: Double, nBins: Int): DataFrame = {
    require(grain.nonEmpty, "histogram grain needs at least one column")
    require(width > 0 && nBins > 0, s"need width > 0 and nBins > 0")
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) / lit(width)).cast("int"), lit(0)),
      lit(nBins - 1))
    df.filter(col(valueCol).isNotNull)
      .withColumn("__bin", bin)
      .groupBy(grain.map(col): _*)
      .agg(array((0 until nBins).map(b =>
        sum(when(col("__bin") === b, 1L).otherwise(0L))): _*)
        .as(s"${valueCol}_hist"))
  }

  /** Merge stored histogram cells to a coarser grouping: element-wise sum
    * of the count arrays per `by` cell (empty `by` = grand total). Input
    * is the grain-sized cell table, not the fact — the explode +
    * (by, bin) re-aggregation shuffles cells × nBins pre-aggregated
    * counts, and `collect_list` on the way back is bounded by nBins per
    * group. */
  def rollupHistogram(hists: DataFrame, by: Seq[String],
                      histCol: String): DataFrame = {
    val wide = hists.select(
      (by.map(col) :+ posexplode(col(histCol)).as(Seq("__bin", "__n"))): _*)
    val agged =
      if (by.isEmpty) wide.groupBy(col("__bin")).agg(sum("__n").as("__n"))
      else wide.groupBy((by.map(col) :+ col("__bin")): _*)
        .agg(sum("__n").as("__n"))
    val assemble = transform(
      sequence(lit(0), array_max(map_keys(col("__m")))),
      i => coalesce(element_at(col("__m"), i), lit(0L))).as(histCol)
    val grouped =
      if (by.isEmpty) agged.agg(
        map_from_entries(collect_list(struct(col("__bin"), col("__n"))))
          .as("__m"))
      else agged.groupBy(by.map(col): _*).agg(
        map_from_entries(collect_list(struct(col("__bin"), col("__n"))))
          .as("__m"))
    grouped.select((by.map(col) :+ assemble): _*)
  }

  /** Approximate `q`-quantile read off a histogram cell (or merged
    * rollup): linear interpolation within the first bin whose cumulative
    * count reaches q × total — error bounded by one bin `width`. Pure
    * Column expression (no action, no UDF): the cumulative array is built
    * with `aggregate`, the target bin found with `filter`/`size`. NULL on
    * an empty histogram. */
  def histogramQuantile(histCol: Column, lo: Double, width: Double,
                        q: Double): Column = {
    require(q >= 0 && q <= 1, s"quantile must be in [0,1], got $q")
    val total = aggregate(histCol, lit(0L), (acc, x) => acc + x)
    // try_element_at: -1 on the still-empty accumulator and idx+1 past the
    // end must yield NULL, not an ANSI out-of-bounds error
    val cum = aggregate(histCol, array().cast("array<bigint>"),
      (acc, x) => concat(acc,
        array(coalesce(try_element_at(acc, lit(-1)), lit(0L)) + x)))
    val target = lit(q) * total.cast("double")
    // bins with cumulative count strictly below the target = index of the
    // bin the target falls in
    val idx = size(filter(cum, c => c.cast("double") < target))
    // element_at is 1-based and index 0 is INVALID (not just out of
    // bounds) — guard with a lazily-evaluated branch instead
    val cumBefore = when(idx > 0, try_element_at(cum, idx))
      .otherwise(lit(0L)).cast("double")
    val inBin = try_element_at(histCol, idx + 1).cast("double")
    val frac = when(inBin > 0, (target - cumBefore) / inBin).otherwise(lit(0.0))
    when(total > 0,
      lit(lo) + lit(width) * (idx.cast("double") + frac))
  }
}
