package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kimball-style AGGREGATE NAVIGATION: maintain a family of stored
  * summary tables (pre-aggregated rollups of one base fact at coarser
  * grains, additive/re-aggregable measures only) and answer each
  * (dims, measures) request from the SMALLEST summary whose grain covers
  * the requested dims — falling back to the base fact when nothing does.
  *
  * The reference has no navigator (its cubes are single-grain,
  * R/data.cube.R keeps one fact per cube); this is the classic
  * warehouse-bus capability a 100 TB deployment needs: a per-day,
  * per-dimension-subset summary is GBs where the base fact is TBs, so a
  * routed query touches 3–6 orders of magnitude fewer bytes.
  *
  * Scale design:
  *  - build = ONE scan of the base fact: every requested grain is
  *    computed in a single GROUP BY GROUPING SETS pass (one Expand, one
  *    shuffle), then written with a single partitioned-parquet action —
  *    the 100 TB table is read exactly once no matter how many grains.
  *  - measures are stored as re-aggregable partials (sum/count/min/max);
  *    count re-aggregates as SUM of stored counts; avg is derived
  *    sum/count at answer time, never stored.
  *  - routing is a driver-side decision over summary metadata (grain
  *    sets + row counts from the manifest) — no data is touched until
  *    the chosen table is scanned.
  */
object AggregateNavigator {

  /** A re-aggregable measure: `agg` ∈ sum|count|min|max over base column
    * `src` (ignored for count), stored and answered as `name`. */
  final case class NavMeasure(agg: String, src: String, name: String) {
    require(Set("sum", "count", "min", "max")(agg), s"not re-aggregable: $agg")
    /** Aggregate from the BASE fact (build path and base fallback). */
    def fromBase: Column = agg match {
      case "count" => count(lit(1)).as(name)
      case "sum"   => sum(col(src)).as(name)
      case "min"   => min(col(src)).as(name)
      case "max"   => max(col(src)).as(name)
    }
    /** Re-aggregate stored partials to a coarser grain (counts add). */
    def fromSummary: Column = agg match {
      case "count" | "sum" => sum(col(name)).as(name)
      case "min"           => min(col(name)).as(name)
      case "max"           => max(col(name)).as(name)
    }
  }

  /** One stored summary: `grain` is the column set it is aggregated to,
    * `rows` its stored cardinality (the routing cost proxy). */
  final case class Summary(name: String, grain: Seq[String], path: String,
                           rows: Long)

  /** A routable filter: `column` names the ONE attribute the predicate
    * reads — routing needs the name, because a summary can be filtered
    * on a column only if its grain KEPT that column (filtering partials
    * on a column the grain aggregated away is unanswerable). `pred` is
    * any Spark predicate over that column — equality, range, LIKE, …
    * Build with [[NavPred.in]] / [[NavPred.range]], or directly. */
  final case class NavPred(column: String, pred: Column)

  object NavPred {
    /** Membership / equality filter (the [[query]] `filters` shape). */
    def in(column: String, vs: Seq[Any]): NavPred =
      NavPred(column, col(column).isin(vs: _*))
    /** Closed range `lo ≤ column ≤ hi` on an orderable attribute; leave
      * a side `None` for a one-sided bound. */
    def range(column: String, lo: Option[Any] = None,
              hi: Option[Any] = None): NavPred = {
      require(lo.nonEmpty || hi.nonEmpty,
        s"range predicate on $column needs at least one bound")
      val c = col(column)
      val parts = lo.map(v => c >= lit(v)).toSeq ++ hi.map(v => c <= lit(v))
      NavPred(column, parts.reduce(_ && _))
    }
  }

  /** Persisted store metadata: summary inventory (for routing without
    * data listing) plus the measure specs (so refresh can re-derive the
    * build/merge expressions). */
  private final case class Manifest(names: Seq[String],
                                    grains: Seq[Seq[String]],
                                    paths: Seq[String], rows: Seq[Long],
                                    aggs: Seq[String], srcs: Seq[String],
                                    outs: Seq[String],
                                    hasRowCounts: Boolean)

  // The manifest is one tiny metadata record — written and read DRIVER-
  // side (hand-emitted JSON + a Jackson tree parse, both from Spark's own
  // shipped libraries): launching a distributed job with a Dataset
  // encoder for it cost a job per build/refresh and tripped a harmless
  // but noisy whole-stage-codegen fallback on the nested-Seq encoder.
  // Format (single JSON object, same field names the encoder produced)
  // and directory layout are unchanged, so stores written by either
  // implementation read back identically.
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def writeMeta(spark: SparkSession, root: String,
                        sums: Seq[Summary], measures: Seq[NavMeasure]): Unit = {
    def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
    val json =
      s"""{"names":${arr(sums.map(s => jstr(s.name)))},""" +
        s""""grains":${arr(sums.map(s => arr(s.grain.map(jstr))))},""" +
        s""""paths":${arr(sums.map(s => jstr(s.path)))},""" +
        s""""rows":${arr(sums.map(_.rows.toString))},""" +
        s""""aggs":${arr(measures.map(m => jstr(m.agg)))},""" +
        s""""srcs":${arr(measures.map(m => jstr(m.src)))},""" +
        s""""outs":${arr(measures.map(m => jstr(m.name)))},""" +
        // store-version witness: every store this writer emits carries the
        // hidden RowCountCol (flatPlan appends it unconditionally), so the
        // manifest says so and readers skip the per-call legacy data scan
        s""""has_row_counts":true}"""
    val dir = new org.apache.hadoop.fs.Path(s"$root/manifest")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(dir, ".manifest.json.tmp")
    val out = fs.create(tmp, true)
    try out.write((json + "\n").getBytes("UTF-8")) finally out.close()
    val target = new org.apache.hadoop.fs.Path(dir, "manifest.json")
    // drop any previous manifest files (incl. the old Dataset-writer's
    // part-* layout) before the rename so readers see exactly one record
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName != tmp.getName).foreach(fs.delete(_, false))
    fs.rename(tmp, target)
  }

  private def readMeta(spark: SparkSession, root: String): Manifest = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/manifest")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // manifest.json normally; part-* for stores written by the previous
    // Dataset-based writer
    val file = fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName == "manifest.json" || p.getName.startsWith("part-"))
      .sortBy(_.getName).headOption
      .getOrElse(throw new IllegalStateException(s"no manifest under $dir"))
    val in = fs.open(file)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(text.trim)
    def strs(f: String): Seq[String] = {
      val it = node.get(f).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().asText()).toSeq
    }
    def strss(f: String): Seq[Seq[String]] = {
      val it = node.get(f).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map { i =>
        val inner = i.next().elements()
        Iterator.continually(inner).takeWhile(_.hasNext)
          .map(_.next().asText()).toSeq
      }.toSeq
    }
    def longs(f: String): Seq[Long] = {
      val it = node.get(f).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().asLong()).toSeq
    }
    // absent field = manifest written before the flag existed → the
    // store's row-count status is unknown and must be probed once
    val hrc = Option(node.get("has_row_counts")).exists(_.asBoolean())
    Manifest(strs("names"), strss("grains"), strs("paths"), longs("rows"),
      strs("aggs"), strs("srcs"), strs("outs"), hrc)
  }

  private def parseStore(m: Manifest): (Seq[Summary], Seq[NavMeasure]) =
    (m.names.indices.map(i =>
      Summary(m.names(i), m.grains(i), m.paths(i), m.rows(i))),
      m.aggs.indices.map(i => NavMeasure(m.aggs(i), m.srcs(i), m.outs(i))))

  /** One-time migration probe: a store whose manifest predates the
    * `has_row_counts` flag must prove its data carries [[RowCountCol]]
    * before any fold trusts the emptiness witness. A single null row is
    * proof of a legacy (pre-row-count) store → named refusal, rebuild is
    * the only migration. On a flagged manifest this is a driver-side
    * no-op — the per-call data scan the flag exists to kill (it was the
    * measured q80/q84 regression). Callers that pass the probe always
    * end in [[writeSwapStore]] → [[writeMeta]], which stamps the flag,
    * so the probe runs at most once per store lifetime. */
  private def requireRowCounts(m: Manifest, stored: DataFrame, root: String,
                               action: String): Unit =
    if (!m.hasRowCounts) {
      val legacy = stored.filter(col(RowCountCol).isNull).limit(1).count()
      if (legacy > 0) throw new IllegalStateException(
        s"store at $root predates row-count partials (missing " +
          s"$RowCountCol) — rebuild it before $action")
    }

  /** Hidden per-cell row-count partial, stored alongside the declared
    * measures: retraction must DELETE a cell once every contributing
    * base row is retracted (a from-scratch rebuild would have no row
    * for it), and only a true row count can witness that — a store of
    * sum-only measures can reach sum 0 on a non-empty cell. Consumers
    * never see it: [[queryWhere]] projects only the declared measure
    * columns. */
  val RowCountCol = "__n"

  /** The single-pass all-grains plan shared by build and refresh: one
    * GROUP BY GROUPING SETS — one Expand feeding one partial+final hash
    * aggregate over one scan of `input` (AggregateNavigatorSpec's
    * one-pass pin asserts exactly this shape). Public so the plan pin
    * tests the REAL plan, not a reconstruction. */
  def flatPlan(input: DataFrame, grainSets: Seq[Seq[String]],
               measures: Seq[NavMeasure]): DataFrame = {
    val gcols = grainSets.flatten.distinct
    input.groupingSets(grainSets.map(_.map(col)), gcols.map(col): _*)
      .agg(grouping_id().as("gid"),
        (measures.map(_.fromBase) :+ count(lit(1)).as(RowCountCol)): _*)
  }

  /** Build every summary in ONE pass over `base`:  a single
    * GROUP BY GROUPING SETS computes all grains (one Expand feeding one
    * hash aggregate — AggregateNavigatorSpec pins the single base scan), the result is
    * written once as parquet partitioned by the grouping-set id, and a
    * manifest (grains + row counts) is stored alongside so a later
    * session can route without re-listing data. Grain names must be
    * unique; measures must be re-aggregable (enforced by [[NavMeasure]]).
    */
  def buildSummaries(base: DataFrame, grains: Seq[(String, Seq[String])],
                     measures: Seq[NavMeasure], root: String): Seq[Summary] = {
    val spark = base.sparkSession
    // a measure-less store would be writable but crash every consumer
    // (query/refresh aggregate the stored partials) — reject at build
    require(measures.nonEmpty, "at least one measure")
    require(grains.map(_._1).distinct.size == grains.size, "duplicate grain names")
    // stable union of all grain columns, in first-appearance order
    val gcols = grains.flatMap(_._2).distinct
    // grouping_id bit i (MSB-first over gcols) is SET when gcols(i) is
    // aggregated away — compute each grain's id to split the flat result
    def gidOf(grain: Seq[String]): Long =
      gcols.zipWithIndex.collect {
        case (c, i) if !grain.contains(c) => 1L << (gcols.size - 1 - i)
      }.sum
    // duplicate grain SETS would double rows under one gid; forbid them
    require(grains.map(g => gidOf(g._2)).distinct.size == grains.size,
      "two summaries share one grain set")
    val flat = flatPlan(base, grains.map(_._2), measures)
    flat.write.mode("overwrite").partitionBy("gid").parquet(s"$root/data")
    // row counts per grain: read back the (small) summary store once —
    // parquet footers only, no base re-scan. Explicit schema: an empty
    // store (declaration-only build, streaming-maintained later) has no
    // files to infer from
    val counts = spark.read.schema(flat.schema).parquet(s"$root/data")
      .groupBy("gid").count()
      .collect().map(r => r.get(0).asInstanceOf[Number].longValue -> r.getLong(1)).toMap
    val out = grains.map { case (nm, g) =>
      val gid = gidOf(g)
      Summary(nm, g, s"$root/data/gid=$gid", counts.getOrElse(gid, 0L))
    }
    writeMeta(spark, root, out, measures)
    out
  }

  /** INCREMENTAL maintenance: fold an insert-only delta into every
    * stored summary without touching the base fact — the 100 TB
    * contract is "scan the delta once, ever" (a nightly 10 GB delta
    * updates TB-scale summaries in delta-sized time). The delta runs
    * the same one-pass grouping-sets plan as the build, then each
    * grain's stored partials merge with the delta partials grain-cell
    * by grain-cell: sum/count ADD, min/max take the extreme — all
    * re-aggregable by construction, so refresh ≡ full rebuild exactly
    * (AggregateNavigatorSpec pins the equivalence). Retractions go
    * through [[retractSummaries]] (sign-flipped partials; sum/count
    * stores only — min/max partials are not invertible and fail with a
    * named error there).
    *
    * The store is rewritten via a temp dir + swap: summaries are
    * orders of magnitude smaller than the base, so the rewrite is the
    * cheap side by design.
    */
  def refreshSummaries(delta: DataFrame, root: String): Seq[Summary] =
    foldIntoStore(delta, root, negate = false)

  /** RETRACTION maintenance: subtract a retraction set (rows previously
    * ingested, q64's shape) from every stored summary — the negated
    * twin of [[refreshSummaries]]. sum/count partials are invertible
    * (the retraction's partials merge with a flipped sign; the hidden
    * [[RowCountCol]] witnesses emptiness, and cells whose every base
    * row was retracted are DELETED, so retract ≡ from-scratch rebuild
    * exactly). min/max partials are NOT invertible — a store holding
    * any min/max measure fails with a named error instead of silently
    * going stale, and the only correct response there is a rebuild.
    *
    * Over-retraction (a cell's row count would go negative — retracting
    * rows that were never ingested) also fails with a named error: the
    * check is one filter over the summary-sized merge, and a silent
    * negative cell would poison every later answer. */
  def retractSummaries(retraction: DataFrame, root: String): Seq[Summary] =
    foldIntoStore(retraction, root, negate = true)

  /** Retraction for stores that DO hold min/max measures: the additive
    * columns (sum/count and the hidden row count) fold sign-flipped
    * exactly as [[retractSummaries]] — still delta-sized, still the
    * over-retraction and emptiness witnesses — while the non-invertible
    * min/max columns are REBUILT, but only for the cells the retraction
    * touches, from `base` (the post-retraction surviving base fact)
    * restricted per grain to the retraction's touched keys. Untouched
    * cells keep every stored partial byte-identical (a retraction
    * cannot change a cell it does not touch), so the base re-scan cost
    * is the touched partition footprint, not the store — the
    * [[graft.io.CubeIO]] partition-selective ingest doctrine applied to
    * min/max repair. Touched keys feed a semi-join against `base`
    * through the size-guarded broadcast policy ([[graft.model.Joins]]),
    * so a base stored partitioned on a grain column prunes via dynamic
    * partition pruning while a corpus-sized retraction degrades to a
    * shuffle join instead of an executor-OOM broadcast.
    *
    * Contract: `base` must be exactly ingested-minus-retracted (the
    * rows the store would hold if rebuilt); result ≡ a from-scratch
    * [[buildSummaries]] over `base`. Sum/count-only stores should keep
    * calling [[retractSummaries]] — no base scan at all. */
  def retractSummariesWithBase(retraction: DataFrame, base: DataFrame,
                               root: String): Seq[Summary] = {
    val spark = retraction.sparkSession
    recoverStore(spark, root)
    val manifest = readMeta(spark, root)
    val (old, measures) = parseStore(manifest)
    if (!measures.exists(m => m.agg == "min" || m.agg == "max"))
      return retractSummaries(retraction, root)
    val grains = old.map(s => s.name -> s.grain)
    val gcols = grains.flatMap(_._2).distinct
    def gidOf(grain: Seq[String]): Long =
      gcols.zipWithIndex.collect {
        case (c, i) if !grain.contains(c) => 1L << (gcols.size - 1 - i)
      }.sum
    val retractRaw = flatPlan(retraction, grains.map(_._2), measures)
    val negated = retractRaw.select(
      (gcols.map(col) :+ col("gid")) ++
        measures.collect { case m if m.agg == "sum" || m.agg == "count" =>
          negate_(m.name) } ++
        measures.collect { case m if m.agg == "min" || m.agg == "max" =>
          col(m.name) } :+ negate_(RowCountCol): _*)
    val stored = spark.read.schema(retractRaw.schema).parquet(s"$root/data")
    requireRowCounts(manifest, stored, root, "retracting")
    // fold: additive columns exact everywhere; min/max columns of
    // touched cells are garbage here and get replaced below (untouched
    // cells see no retraction row, so their min/max pass through the
    // re-aggregation unchanged)
    val merged = stored.unionByName(negated)
      .groupBy((gcols.map(col) :+ col("gid")): _*)
      .agg(measures.head.fromSummary,
        (measures.tail.map(_.fromSummary) :+
          sum(col(RowCountCol)).as(RowCountCol)): _*)
    val over = merged.filter(col(RowCountCol) < 0).limit(1).count()
    if (over > 0) throw new IllegalStateException(
      s"over-retraction at $root: some cells lost more rows than " +
        "they ever held — the retraction set contains rows that were " +
        "never ingested")
    // folded is consumed by every per-grain untouched branch of the
    // final union — checkpoint it (the `touched` pattern) or the scan +
    // fold re-executes once per grain in the write job
    val folded = merged.filter(col(RowCountCol) > 0).transform(graft.util.Stage.materialize)
    // touched keys: the retraction's distinct finest-grain tuples —
    // delta-sized by construction, materialized once and fed into every
    // per-grain repair join through the size-guarded broadcast policy
    // (a retraction CAN be corpus-sized; an unconditional hint would
    // OOM executors exactly when the repair is biggest)
    val touched = retraction.select(gcols.map(col): _*).distinct()
      .transform(graft.util.Stage.materialize)
    val schema = retractRaw.schema
    // repair joins are NULL-SAFE on the grain keys: a grain column can
    // legitimately hold NULL (gid already separates "not in grain"), and
    // an equi-join would leave NULL-keyed touched cells in "untouched"
    // with the stale folded min/max — silently violating ≡-rebuild
    def nullSafe(l: DataFrame, r: DataFrame, keys: Seq[String]) =
      keys.map(k => l(k) <=> r(k)).reduce(_ && _)
    val kept = grains.map { case (_, g) =>
      val gid = gidOf(g)
      val tg = graft.model.Joins.maybeBroadcast(
        touched.select(g.map(col): _*).distinct())
      val fg = folded.filter(col("gid") === gid)
      val untouched = fg
        .join(tg, nullSafe(fg, tg, g), "left_anti")
      // touched cells rebuilt wholesale from the surviving base — the
      // additive columns come out identical to the fold (rebuild ≡ fold
      // for invertible partials), min/max become correct
      val rec = base.join(tg, nullSafe(base, tg, g), "left_semi")
        .groupBy(g.map(col): _*)
        .agg(measures.head.fromBase,
          (measures.tail.map(_.fromBase) :+
            count(lit(1)).as(RowCountCol)): _*)
      val recAligned = rec.select(
        gcols.map(c =>
          if (g.contains(c)) col(c)
          else lit(null).cast(schema(c).dataType).as(c)) ++
          (lit(gid).cast(schema("gid").dataType).as("gid") +:
            (measures.map(m => col(m.name)) :+ col(RowCountCol))): _*)
      untouched.unionByName(recAligned)
    }.reduce(_ unionByName _)
    writeSwapStore(spark, root, kept, schema, grains, measures, gidOf)
  }

  private def foldIntoStore(delta: DataFrame, root: String,
                            negate: Boolean,
                            mark: Option[(String, Long)] = None): Seq[Summary] = {
    val spark = delta.sparkSession
    recoverStore(spark, root)
    // measure agg kinds are NOT recoverable from the stored schema —
    // the manifest carries the specs, one read for inventory + measures
    val manifest = readMeta(spark, root)
    val (old, measures) = parseStore(manifest)
    if (negate) {
      val frozen = measures.filter(m => m.agg == "min" || m.agg == "max")
      if (frozen.nonEmpty) throw new IllegalStateException(
        "retraction needs invertible partials, but the store holds " +
          frozen.map(m => s"${m.agg}(${m.src}) AS ${m.name}").mkString(", ") +
          " — min/max cannot subtract; use retractSummariesWithBase " +
          "(touched-footprint min/max repair) or rebuild the store")
    }
    val grains = old.map(s => s.name -> s.grain)
    val gcols = grains.flatMap(_._2).distinct
    def gidOf(grain: Seq[String]): Long =
      gcols.zipWithIndex.collect {
        case (c, i) if !grain.contains(c) => 1L << (gcols.size - 1 - i)
      }.sum
    val deltaRaw = flatPlan(delta, grains.map(_._2), measures)
    // retraction = the same one-pass partials with the sign flipped on
    // every additive column (sum, count, and the hidden row count)
    val deltaFlat =
      if (!negate) deltaRaw
      else deltaRaw.select(
        (gcols.map(col) :+ col("gid")) ++
          measures.map(m => negate_(m.name)) :+ negate_(RowCountCol): _*)
    // explicit schema: an empty store (declaration-only build) has no
    // files to infer from, and it pins gid to long on the partition col
    val stored = spark.read.schema(deltaRaw.schema).parquet(s"$root/data")
    // A pre-row-count store (built before RowCountCol existed) cannot
    // witness cell emptiness. Refuse REFRESH as well as retraction: a
    // refresh would backfill touched cells with delta-only (undercounted)
    // non-null __n, after which the per-cell null probe can no longer
    // tell the store is legacy and a later retraction would delete cells
    // early or report spurious over-retraction. The only correct
    // migration is a rebuild. The probe itself runs only on manifests
    // without the has_row_counts flag (one-time, see requireRowCounts).
    requireRowCounts(manifest, stored, root, "refreshing or retracting " +
      "(folding into it would corrupt the emptiness witness)")
    val merged = stored.unionByName(deltaFlat)
      .groupBy((gcols.map(col) :+ col("gid")): _*)
      .agg(measures.head.fromSummary,
        (measures.tail.map(_.fromSummary) :+
          sum(col(RowCountCol)).as(RowCountCol)): _*)
    val kept =
      if (!negate) merged
      else {
        val over = merged.filter(col(RowCountCol) < 0).limit(1).count()
        if (over > 0) throw new IllegalStateException(
          s"over-retraction at $root: some cells lost more rows than " +
            "they ever held — the retraction set contains rows that were " +
            "never ingested")
        merged.filter(col(RowCountCol) > 0)
      }
    writeSwapStore(spark, root, kept, deltaRaw.schema, grains, measures,
      gidOf, mark)
  }

  /** Name of the applied-batch journal INSIDE the data dir: one file per
    * namespace (`refresh` / `retract`) holding the highest applied batch
    * id. The leading underscore makes Spark's parquet reader skip it. */
  private val JournalDir = "_journal"

  /** Per-namespace applied-batch watermarks of a data dir (absent
    * journal → empty). Driver-side: the journal is O(namespaces) tiny
    * files. */
  private def readJournal(fs: org.apache.hadoop.fs.FileSystem,
                          dataDir: org.apache.hadoop.fs.Path): Map[String, Long] = {
    val j = new org.apache.hadoop.fs.Path(dataDir, JournalDir)
    if (!fs.exists(j)) Map.empty
    else fs.listStatus(j).toSeq.map { st =>
      val in = fs.open(st.getPath)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      st.getPath.getName -> content.toLong
    }.toMap
  }

  private def writeJournal(fs: org.apache.hadoop.fs.FileSystem,
                           dataDir: org.apache.hadoop.fs.Path,
                           entries: Map[String, Long]): Unit = {
    if (entries.isEmpty) return
    val j = new org.apache.hadoop.fs.Path(dataDir, JournalDir)
    fs.mkdirs(j): Unit
    entries.foreach { case (ns, id) =>
      val out = fs.create(new org.apache.hadoop.fs.Path(j, ns), true)
      try out.write(s"$id\n".getBytes("UTF-8")) finally out.close()
    }
  }

  /** Shared store-rewrite tail: write `kept` to a temp dir, two-rename
    * swap it in, refresh the per-grain row counts and the manifest.
    *
    * Two-rename swap, never delete-then-rename: the old store survives
    * until the new one is in place, so a crash at any point leaves
    * either the old store (recoverable by [[recoverStore]]) or the new
    * one. HDFS rename reports failure by RETURNING FALSE, not throwing —
    * every return value is checked. Remaining window: a crash between
    * the two renames leaves data/ absent and data_old/ intact; the next
    * refresh (or any caller running recoverStore) rolls it back.
    *
    * The applied-batch journal rides the swap: the previous data dir's
    * `_journal/` is carried into the temp dir (every rewrite, journaled
    * or not, so a manual refresh between streaming batches cannot wipe
    * it), `mark` folds its (namespace, batchId) in as a max-watermark,
    * and the single step-2 rename lands data and marker together —
    * apply+mark is ATOMIC, closing the applied-but-unmarked replay
    * window the old outside-the-store marker had. */
  private def writeSwapStore(spark: SparkSession, root: String,
                             kept: DataFrame,
                             schema: org.apache.spark.sql.types.StructType,
                             grains: Seq[(String, Seq[String])],
                             measures: Seq[NavMeasure],
                             gidOf: Seq[String] => Long,
                             mark: Option[(String, Long)] = None): Seq[Summary] = {
    val tmp = s"$root/data_tmp"
    kept.write.mode("overwrite").partitionBy("gid").parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val dataP = new org.apache.hadoop.fs.Path(s"$root/data")
    val oldP = new org.apache.hadoop.fs.Path(s"$root/data_old")
    val journal = readJournal(fs, dataP)
    writeJournal(fs, new org.apache.hadoop.fs.Path(tmp), mark match {
      case Some((ns, id)) =>
        journal.updated(ns, math.max(id, journal.getOrElse(ns, Long.MinValue)))
      case None => journal
    })
    if (fs.exists(oldP)) require(fs.delete(oldP, true),
      s"cannot clear stale $oldP from a previous swap")
    require(fs.rename(dataP, oldP), s"swap step 1 failed: $dataP -> $oldP")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dataP),
      s"swap step 2 failed: $tmp -> $dataP (previous store is at $oldP)")
    fs.delete(oldP, true): Unit
    val counts = spark.read.schema(schema).parquet(s"$root/data")
      .groupBy("gid").count()
      .collect().map(r => r.get(0).asInstanceOf[Number].longValue -> r.getLong(1)).toMap
    val out = grains.map { case (nm, g) =>
      Summary(nm, g, s"$root/data/gid=${gidOf(g)}",
        counts.getOrElse(gidOf(g), 0L))
    }
    writeMeta(spark, root, out, measures)
    out
  }

  /** `-col`, keeping the stored column type AND name (sum partials can
    * be decimal/long/double; a bare unary minus is type-preserving). */
  private def negate_(name: String): Column = (-col(name)).as(name)

  /** Roll back a swap that crashed between its two renames: `data/`
    * absent with `data_old/` present means the new store never landed —
    * restore the old one (losing only the crashed refresh, which its
    * journal marker was never written for, so a replay re-applies it).
    * No-op on a healthy store. Called automatically by refresh; exposed
    * for read-only sessions that want to self-heal before routing. */
  def recoverStore(spark: SparkSession, root: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dataP = new org.apache.hadoop.fs.Path(s"$root/data")
    val oldP = new org.apache.hadoop.fs.Path(s"$root/data_old")
    val fs = dataP.getFileSystem(conf)
    if (!fs.exists(dataP) && fs.exists(oldP))
      require(fs.rename(oldP, dataP), s"store recovery failed: $oldP -> $dataP")
  }

  /** Apply a delta to the summary store AT MOST ONCE per `batchId`,
    * crash-inclusive — the foreachBatch building block: at-least-once
    * replay of a micro-batch would double-add sums/counts, so each
    * applied batch advances a watermark in the store's `data/_journal/`
    * and a replay at or below the watermark skips the merge and returns
    * false.
    *
    * The watermark is written INTO the temp dir before the store swap,
    * so the one rename that lands the new data lands its marker with it
    * — apply+mark is atomic, and a crash anywhere leaves either
    * (old data, old watermark) or (new data, new watermark), never an
    * applied-but-unmarked batch.
    *
    * Contract: batch ids per namespace must be monotonically increasing
    * (the Structured Streaming foreachBatch guarantee — a replay is
    * always of the LAST batch); an id at or below the watermark is
    * treated as already applied. Markers written by the pre-watermark
    * protocol (`_refresh_journal/batch=N` beside the store) are still
    * honored for skipping. Rebuilding a store via [[buildSummaries]]
    * RESETS the journal — resume its streams from a fresh checkpoint.
    * A crash after the swap but before the manifest rewrite leaves the
    * data correct and the batch marked; only the manifest's routing
    * row counts go stale until the next applied batch rewrites them —
    * a cost-proxy wobble, never a correctness one. */
  def refreshSummariesOnce(delta: DataFrame, root: String,
                           batchId: Long): Boolean =
    applyOnce(delta, root, batchId, "refresh", negate = false)

  /** [[retractSummaries]] with the same atomic watermark protocol as
    * [[refreshSummariesOnce]] — separate journal namespace, since a
    * pipeline's ingest and retract streams number batches
    * independently. (Under the old outside-the-store marker a crashed
    * replay could silently double-retract; the ride-the-swap watermark
    * closes that.) */
  def retractSummariesOnce(retraction: DataFrame, root: String,
                           batchId: Long): Boolean =
    applyOnce(retraction, root, batchId, "retract", negate = true)

  private def applyOnce(delta: DataFrame, root: String, batchId: Long,
                        ns: String, negate: Boolean): Boolean = {
    val spark = delta.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // roll back a half-finished swap before reading its journal
    recoverStore(spark, root)
    val legacy = new org.apache.hadoop.fs.Path(
      s"$root/_${ns}_journal/batch=$batchId")
    if (fs.exists(legacy)) return false
    val wm = readJournal(fs, new org.apache.hadoop.fs.Path(s"$root/data"))
      .get(ns)
    if (wm.exists(batchId <= _)) return false
    foldIntoStore(delta, root, negate, mark = Some(ns -> batchId))
    true
  }

  /** ONE manifest read returning the summary inventory written by
    * [[buildSummaries]] and the measure specs the store was built with
    * (refresh reuses them) — the per-query fast path reads store
    * metadata exactly once. */
  def loadStore(spark: SparkSession, root: String)
  : (Seq[Summary], Seq[NavMeasure]) = parseStore(readMeta(spark, root))

  /** Routing decision: the smallest stored summary whose grain is a
    * superset of the requested dims (ties broken by name for
    * determinism); None → caller must fall back to the base fact. */
  def route(summaries: Seq[Summary], dims: Seq[String]): Option[Summary] =
    summaries.filter(s => dims.forall(s.grain.contains))
      .sortBy(s => (s.rows, s.name)).headOption

  /** Answer (dims, measures) with optional equality filters — from the
    * routed summary when one covers BOTH the requested dims and every
    * filtered column (a summary can only be filtered on columns its
    * grain kept), else from `base`. Filters apply BEFORE re-aggregation
    * on either path — on the summary they prune partial rows, exactly
    * the filtered-report pattern aggregate tables exist for. The second
    * element names the access path taken (a summary name, or "base"). */
  def query(spark: SparkSession, base: => DataFrame, summaries: Seq[Summary],
            dims: Seq[String], measures: Seq[NavMeasure],
            filters: Map[String, Seq[Any]] = Map.empty): (DataFrame, String) =
    queryWhere(spark, base, summaries, dims, measures,
      filters.toSeq.map { case (c, vs) => NavPred.in(c, vs) })

  /** [[query]] generalized to arbitrary single-column predicates
    * ([[NavPred]] — ranges, LIKE, …): routing requires the summary grain
    * to keep every predicated column, and predicates prune partial rows
    * BEFORE re-aggregation on either path. Correct for exactly the same
    * reason equality filters are: a summary row IS the complete partial
    * for its grain cell, so any row-level predicate over grain columns
    * selects whole cells. */
  def queryWhere(spark: SparkSession, base: => DataFrame,
                 summaries: Seq[Summary], dims: Seq[String],
                 measures: Seq[NavMeasure],
                 preds: Seq[NavPred]): (DataFrame, String) = {
    require(measures.nonEmpty, "at least one measure")
    def filtered(df: DataFrame): DataFrame =
      preds.foldLeft(df)((d, p) => d.filter(p.pred))
    route(summaries, (dims ++ preds.map(_.column)).distinct) match {
      case Some(s) if s.rows == 0 =>
        // empty summary (e.g. declaration-only store awaiting its stream):
        // the correct answer is empty — produce it from a false-filtered
        // base, which Catalyst folds to an empty LocalRelation (no scan,
        // zero jobs) rather than reading the absent partition directory
        (base.filter(lit(false)).groupBy(dims.map(col): _*)
          .agg(measures.head.fromBase, measures.tail.map(_.fromBase): _*),
          s.name)
      case Some(s) =>
        val d = filtered(spark.read.parquet(s.path))
          .groupBy(dims.map(col): _*)
          .agg(measures.head.fromSummary, measures.tail.map(_.fromSummary): _*)
        (d, s.name)
      case None =>
        (filtered(base).groupBy(dims.map(col): _*)
          .agg(measures.head.fromBase, measures.tail.map(_.fromBase): _*),
          "base")
    }
  }
}
