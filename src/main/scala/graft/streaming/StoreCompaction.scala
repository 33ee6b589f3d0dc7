package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Crash-safe compaction shared by the per-batch-id streaming stores
  * ([[DocStreaming]]'s shingle store, [[VecStreaming]]'s IVF appends).
  * Both layouts are `root/batch=<id>/…` hive partitions written by
  * replay-idempotent `foreachBatch` overwrites, and both accumulate one
  * directory per micro-batch — the classic small-files/partition-
  * explosion problem, because every later batch re-scans the whole store.
  *
  * `compact` merges every batch partition EXCEPT the newest into one
  * `batch=-1` partition (stream STOPPED — an offline maintenance op,
  * like any table compaction). The replay-idempotence contract is
  * preserved: only the newest batch can be replayed by foreachBatch
  * (earlier ones are committed in the checkpoint), and it is exactly the
  * partition compaction leaves untouched, so a post-restart replay still
  * overwrites its own partition and never collides with compacted data;
  * `batch=-1` sorts below every real batch id, so the corpus filter
  * `batch < batchId` keeps including it. Store rows are globally unique
  * (a row arrives in exactly one batch; replays overwrite), so merging
  * cannot create duplicates — the `distinct` is defense in depth.
  *
  * Crash safety: the merged snapshot is first written to a hidden
  * `.compact_tmp` dir (invisible to partition discovery), a manifest of
  * the source partitions is recorded INSIDE it, and only then are the
  * sources deleted and the tmp renamed to `batch=-1`. A crash before the
  * manifest exists leaves the store untouched (the half-written tmp is
  * discarded on the next run); a crash after it is finished from the
  * manifest — the tmp is a complete superset of every listed source, so
  * finishing is always lossless. `recover` runs before every store read
  * in both streaming twins, so a crash between source-deletion and
  * rename is healed on the next stream restart, not only on the next
  * manual compaction. */
private[graft] object StoreCompaction {

  /** The `root/batch=<id>` partition directories of a per-batch store,
    * as (id, dir): directories only, names that do not parse as a long
    * id skipped, a missing root empty. The one listing rule every
    * batch-partitioned store (shingles, IVF appends, BM25 sub-stores,
    * paragraph hashes) reads its batch set with. */
  def batches(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch="))
        n.stripPrefix("batch=").toLongOption.map(_ -> st.getPath)
      else None
    }

  /** The next free batch id under `root`: one above the largest listed
    * ([[batches]]), never below 0 (`batch=-1` is the compacted snapshot). */
  def nextBatch(fs: FileSystem, root: Path): Long =
    (batches(fs, root).map(_._1) :+ -1L).max + 1

  /** Merge all committed batch partitions below the newest into
    * `batch=-1`, keeping `dataCols` (deduplicated by `merge`, default
    * DISTINCT) and re-partitioning the snapshot by `partCols` (e.g. the
    * IVF store's `cell`) so downstream partition pruning keeps working
    * on the compacted data. Pass a custom `merge` when rows are
    * aggregates rather than unique facts — e.g. the BM25 stats store
    * SUMS its per-batch rows (distinct would collapse two batches that
    * happen to share identical totals). Returns whether a merge
    * actually ran: a store with fewer than two partitions below the
    * newest has nothing to fold and is left untouched — callers
    * reporting maintenance ticks must not claim a compaction that
    * never happened. */
  def compact(spark: SparkSession, storeDir: String, dataCols: Seq[String],
              partCols: Seq[String] = Nil,
              merge: org.apache.spark.sql.DataFrame =>
                org.apache.spark.sql.DataFrame = _.distinct()): Boolean = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return false
    val tmp = new Path(root, ".compact_tmp")
    val manifest = new Path(tmp, "_compact_manifest")
    // recover an interrupted compaction before looking at the partitions
    recover(fs, root)
    val dirs = batches(fs, root)
    val numeric = dirs.map(_._1).filter(_ >= 0)
    if (numeric.isEmpty) return false
    val maxBatch = numeric.max
    val sources = dirs.filter(_._1 < maxBatch)
    if (sources.size < 2) return false // nothing worth merging
    val snap = merge(spark.read.parquet(storeDir)
      .filter(col("batch") < maxBatch)
      .select((dataCols ++ partCols).map(col): _*))
    val w = snap.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(tmp.toString)
    // manifest LAST: its existence certifies the tmp snapshot is complete
    val out = fs.create(manifest, true)
    try out.write(sources.map(s => s"batch=${s._1}").mkString("\n")
      .getBytes("UTF-8"))
    finally out.close()
    sources.foreach(s => fs.delete(s._2, true): Unit)
    finishRename(fs, root)
    true
  }

  /** HEALTH report for a per-batch-id streaming store — the streaming
    * twin of [[graft.operators.Similarity.indexHealth]], measuring the
    * store-scan cost every future micro-batch will pay: one row with
    * the live (uncompacted) batch-partition count, the compacted
    * snapshot's presence, file and row counts on each side (parquet
    * FOOTER census on a bounded pool — metadata-sized, never a data
    * scan), and `recommend_compaction` once live partitions exceed
    * `maxLiveBatches` — every batch re-reads the whole store, so the
    * small-files listing + open cost grows per batch until
    * [[compact]] folds history into `batch=-1` (run with the stream
    * STOPPED). An interrupted compaction is healed BEFORE measuring, so
    * the report never reads a store that the next batch would first
    * repair. */
  def storeHealth(spark: SparkSession, storeDir: String,
                  maxLiveBatches: Int = 16): org.apache.spark.sql.DataFrame = {
    import graft.util.ParquetMeta
    require(maxLiveBatches > 0,
      s"maxLiveBatches must be positive, got $maxLiveBatches")
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"$storeDir does not exist")
    recover(fs, root)
    val conf = spark.sessionState.newHadoopConf()
    val (compacted, live) = batches(fs, root).partition(_._1 < 0)
    def census(dirs: Seq[Path]): (Long, Long) = {
      val files = dirs.flatMap(ParquetMeta.parquetFiles(fs, _))
      (files.size.toLong,
        ParquetMeta.mapBounded(files)(ParquetMeta.footerRows(_, conf)).sum)
    }
    val (liveFiles, liveRows) = census(live.map(_._2))
    val (compFiles, compRows) = census(compacted.map(_._2))
    val fire = live.size > maxLiveBatches
    val reason =
      if (fire)
        s"${live.size} live batch partitions > $maxLiveBatches — every " +
          "micro-batch re-reads the whole store, so listing/open cost " +
          "now grows per batch; stop the stream and run compactStore"
      else "healthy"
    import spark.implicits._
    Seq((live.size, compacted.nonEmpty, liveFiles + compFiles,
      liveRows + compRows, liveRows, compRows, fire, reason))
      .toDF("batches_live", "has_compacted", "files", "rows_total",
        "rows_live", "rows_compacted", "recommend_compaction", "reason")
  }

  /** MAINTENANCE entry point wiring [[storeHealth]] to a conditional
    * [[compact]] — the store twin of
    * [[graft.operators.Similarity.maintainIndex]]'s measure-then-act
    * doctrine: census the per-batch layout (metadata-sized, footer
    * reads only); when the report fires `recommend_compaction` (live
    * batch partitions exceed `maxLiveBatches`, so every future
    * micro-batch pays a growing listing/open cost), fold history into
    * `batch=-1`; otherwise do NOTHING beyond the census — a healthy
    * store costs no data scan and no write. Run with the stream
    * STOPPED ([[compact]]'s contract — it merges every partition below
    * the newest, and only the newest is replay-exempt). Returns the
    * PRE-compaction health row extended with `compacted`, so a
    * scheduler logs one row per maintenance tick and the row records
    * what the tick saw and DID: `compacted` is true only when a merge
    * actually landed — a fired recommendation over a store with
    * nothing mergeable (fewer than two partitions below the newest,
    * e.g. maxLiveBatches = 1 on a two-batch store) reports
    * recommend_compaction = true, compacted = false instead of
    * claiming a compaction that never ran. */
  def maintainStore(spark: SparkSession, storeDir: String,
                    dataCols: Seq[String], partCols: Seq[String] = Nil,
                    merge: org.apache.spark.sql.DataFrame =>
                      org.apache.spark.sql.DataFrame = _.distinct(),
                    maxLiveBatches: Int = 16)
  : org.apache.spark.sql.DataFrame = {
    val health = storeHealth(spark, storeDir, maxLiveBatches)
    // storeHealth returns a driver-local one-row frame (the census is
    // metadata-sized) — reading the flag re-runs nothing
    val fire = health.select("recommend_compaction").head().getBoolean(0)
    val merged = fire && compact(spark, storeDir, dataCols, partCols, merge)
    health.withColumn("compacted", lit(merged))
  }

  /** Shared per-batch health hook body for the streaming twins'
    * `healthEveryN` option: census `probedDir`, stamp the batch id on
    * the row, WARN by name when compaction is due (`remedy` names the
    * offline op to run with the stream stopped — the stream itself
    * never compacts), and land the row at `outDir/batch=<id>`
    * (overwrite — replay-idempotent like every foreachBatch sink
    * here). Kept in ONE place so the twins cannot drift. */
  private[graft] def healthTick(spark: SparkSession, probedDir: String,
                                outDir: String, batchId: Long,
                                maxLiveBatches: Int, logTag: String,
                                remedy: String): Unit = {
    val health = storeHealth(spark, probedDir, maxLiveBatches)
      .withColumn("batch", lit(batchId))
    val row = health.select("recommend_compaction", "reason").head()
    if (row.getBoolean(0))
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"[$logTag] store $probedDir batch $batchId recommends " +
          s"compaction: ${row.getString(1)} — stop the stream and run " +
          remedy)
    health.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/batch=$batchId")
  }

  /** Rename `.compact_tmp` -> `batch=-1` WITH the manifest still inside
    * (deleting it first would re-open a loss window: a crash between that
    * delete and the rename leaves a manifest-less tmp holding the only
    * copy of the already-deleted sources, which recovery would discard as
    * incomplete); the leftover `_`-prefixed file is hidden from Spark
    * reads and removed as the last, purely cosmetic step. The rename
    * result is CHECKED: a false return here means the snapshot holding
    * the only copy of deleted sources did not land — silent success
    * would leave the store gutted. */
  private def finishRename(fs: FileSystem, root: Path): Unit = {
    val tmp = new Path(root, ".compact_tmp")
    if (!fs.rename(tmp, new Path(root, "batch=-1")))
      throw new java.io.IOException(
        s"compaction rename $tmp -> $root/batch=-1 failed — the compacted " +
          "snapshot holds the only copy of the deleted source partitions; " +
          "re-run compaction recovery before trusting the store")
    fs.delete(new Path(root, "batch=-1/_compact_manifest"), false): Unit
  }

  /** Finish or discard an interrupted [[compact]]: a tmp WITH a manifest
    * is a complete superset snapshot of every listed source — delete the
    * listed sources (losslessly; they may be partially gone) and rename
    * it into place; a tmp WITHOUT one is a half-written snapshot from a
    * crash mid-write — discard it, store untouched. */
  def recover(fs: FileSystem, root: Path): Unit = {
    val tmp = new Path(root, ".compact_tmp")
    val manifest = new Path(tmp, "_compact_manifest")
    if (!fs.exists(tmp)) return
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val names =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      names.foreach { n =>
        val p = new Path(root, n)
        if (fs.exists(p)) fs.delete(p, true): Unit
      }
      finishRename(fs, root)
    } else fs.delete(tmp, true): Unit // incomplete write — store untouched
  }
}
