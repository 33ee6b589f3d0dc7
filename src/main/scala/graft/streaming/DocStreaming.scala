package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.TextFunctions.fingerprint
import graft.operators.Dedup

/** Streaming document-pipeline operators — the streaming twins of
  * [[graft.operators.Dedup]] (north-star extension; the reference has no
  * streaming at all, SURVEY §2.10).
  */
object DocStreaming {

  /** Streaming exact dedup: fingerprint the normalized text and keep the
    * FIRST arrival per fingerprint across micro-batches — the streaming
    * twin of [[graft.operators.Dedup.exact]].
    *
    * `dropDuplicatesWithinWatermark` holds one state entry per fingerprint
    * seen inside the watermark horizon and expires it once the watermark
    * passes — bounded state at any scale (a plain `dropDuplicates` on a
    * stream keeps every key forever and OOMs on an unbounded corpus).
    * Consequence: two duplicates separated by more than `lateness` in
    * event time can BOTH survive — the dedup horizon equals the watermark;
    * run the batch operator for a full-corpus pass. State and shuffle are
    * keyed on the 16-byte md5 fingerprint, never the text.
    *
    * Output: (idCol, tsCol, fp) — one row per surviving document. */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String,
                 tsCol: String, lateness: String = "2 hours"): DataFrame =
    docs
      .select(col(idCol), col(tsCol), fingerprint(col(textCol)).as("fp"))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dup dedup — the streaming twin of
    * [[graft.operators.Dedup.dropNearDups]], first-arrival-wins.
    *
    * Near-dup state is not a watermark-expirable key set (a new doc can be
    * near a doc from arbitrarily long ago), it is the corpus's shingle
    * index itself — so the right streaming shape is `foreachBatch` over a
    * PERSISTENT index store, with each micro-batch running the incremental
    * batch operator [[graft.operators.Dedup.nearDupDelta]]:
    *
    *  1. delta docs are exact-verified against the stored index
    *     (inverted-index equi-join candidates, jaccard ≥ threshold);
    *  2. within-batch near-dups are resolved with the FULL batch pipeline
    *     (MinHash-LSH pairs → transitive closure → canonical winner);
    *  3. the batch's own index rows are appended to the store — dups
    *     included, so later arrivals chain through dropped docs exactly
    *     like the batch operator's connected components.
    *
    * Survivors and index rows are written to per-batch-id partitions
    * (`.../batch=<id>`, dynamic overwrite) — a replayed micro-batch
    * OVERWRITES its own partition instead of appending duplicates, so
    * both the survivor sink and the store are idempotent under
    * at-least-once foreachBatch delivery, and the store never needs the
    * defensive (corpus-shuffling) distinct in
    * [[graft.operators.Dedup.crossPairsBloom]]. At scale both
    * directories are table-format tables on the cluster DFS, and the
    * store is additionally what a nightly full-corpus re-dedup would
    * consume.
    *
    * Ids must be numeric ([[graft.operators.Dedup.nearDupDelta]]'s
    * sentinel contract).
    *
    * `healthEveryN > 0` writes a [[StoreCompaction.storeHealth]] row for
    * the shingle store every Nth batch to `<storeDir>_health/batch=<id>`
    * (OUTSIDE the store — the store root is pure `batch=` hive
    * partitions) and logs loudly when it recommends compaction; the
    * stream itself never compacts (compaction merges committed
    * partitions and is an offline op — [[maintainStore]] with the
    * stream stopped). */
  def startNearDupDedup(docs: DataFrame, idCol: String, textCol: String,
                        storeDir: String, survivorsDir: String,
                        checkpointDir: String,
                        n: Int = 3, k: Int = 32, bands: Int = 8,
                        threshold: Double = 0.8,
                        maxDf: Option[Int] = Some(Dedup.DefaultMaxDf),
                        trigger: Trigger = Trigger.AvailableNow(),
                        healthEveryN: Int = 0,
                        maxLiveBatches: Int = 16): StreamingQuery = {
    // running store-size estimate so steady-state batches skip the
    // full-store count job the bloom sizing would otherwise pay (one
    // count on the first batch of a lifetime seeds it; replays can
    // overcount, which only oversizes the filter — the safe direction)
    val knownShingles = new java.util.concurrent.atomic.AtomicLong(-1L)
    val processBatch: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      val spark = batch.sparkSession
      // explicit schema: a crash can leave the store with only an
      // uncommitted _temporary dir, and schema INFERENCE over zero
      // committed files throws on every replay — a permanent crash loop;
      // with the schema supplied, an effectively-empty store just reads
      // as zero rows and the batch proceeds
      val storeSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          batch.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("batch",
          org.apache.spark.sql.types.LongType)))
      val storePath = new org.apache.hadoop.fs.Path(storeDir)
      val fs = storePath.getFileSystem(spark.sessionState.newHadoopConf())
      // finish any compaction that crashed between source-deletion and
      // rename BEFORE trusting the store: without this, a restart in that
      // window would dedup every batch against a store missing all
      // compacted shingles until an operator manually re-ran compactStore
      StoreCompaction.recover(fs, storePath)
      // the store is hive-partitioned by batch id; a replayed batch must
      // not see its OWN half-written rows as "the corpus", so prior
      // batches only
      val store =
        if (fs.exists(storePath) && fs.listStatus(storePath).nonEmpty)
          Some(spark.read.schema(storeSchema).parquet(storeDir)
            .filter(col("batch") < batchId).drop("batch"))
        else None
      val expected = store.flatMap { s =>
        if (knownShingles.get() >= 0) Some(knownShingles.get())
        else { val c = s.count(); knownShingles.set(c); Some(c) }
      }
      val (survivors, deltaIdx) =
        Dedup.nearDupDelta(store, batch, idCol, textCol, n, k, bands,
          threshold, maxDf, expectedShingles = expected)
      // survivors FIRST: they are planned against the pre-write store
      // snapshot; per-batch-id overwrite makes a replay rewrite the same
      // partitions instead of duplicating them
      survivors.write.mode("overwrite")
        .parquet(s"$survivorsDir/batch=$batchId")
      deltaIdx.write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
      // deltaIdx is checkpoint-materialized inside nearDupDelta, so this
      // count reads cached blocks, not the pipeline
      knownShingles.set(math.max(knownShingles.get(), 0L) + deltaIdx.count())
      if (healthEveryN > 0 && batchId % healthEveryN == 0)
        StoreCompaction.healthTick(spark, storeDir, s"${storeDir}_health",
          batchId, maxLiveBatches, "doc-stream",
          "DocStreaming.maintainStore")
    }
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(processBatch)
      .trigger(trigger)
      .start()
  }

  /** Streaming BM25 index maintenance — the streaming twin of
    * [[graft.operators.Corpus.refreshBm25Store]]: each micro-batch's
    * postings/doclen/stats land in per-batch-id partition directories
    * (`batch=<streaming batch id>`), so per-trigger cost is the batch's
    * own tokenize + two small derived aggregations — earlier batches are
    * never read or rewritten. Replay-safe two ways: a replayed
    * micro-batch OVERWRITES its own directories instead of
    * double-counting, and `stats` (written last) is the commit marker —
    * [[graft.operators.Corpus.bm25SearchStored]] ignores uncommitted
    * batch dirs, so a crash mid-write can skew nothing. The store dir
    * must be stream-owned (this stream creates it; batch-built stores
    * number batches from 0 and would collide) and is searchable at any
    * point, mid-stream included.
    *
    * Cross-batch duplicate doc ids are NOT checked here — the batch
    * refresh's doclen scan would make every trigger pay a store-sized
    * read; dedup upstream instead ([[dedupExact]] composes directly, or
    * [[startNearDupDedup]] for near-dups). */
  def startBm25Ingest(docs: DataFrame, idCol: String, textCol: String,
                      storeDir: String, checkpointDir: String,
                      trigger: Trigger = Trigger.AvailableNow(),
                      healthEveryN: Int = 0,
                      maxLiveBatches: Int = 16)
  : StreamingQuery = {
    val processBatch: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      // heal an interrupted offline compaction before writing — same
      // restart discipline as the shingle store's StoreCompaction.recover
      graft.operators.Corpus.bm25RecoverCompaction(batch.sparkSession, storeDir)
      graft.operators.Corpus.writeBm25Batch(batch, idCol, textCol,
        storeDir, batchId, mode = "overwrite")
      // per-batch health hook (the startNearDupDedup twins' contract):
      // census the POSTINGS sub-store — its committed-batch count is
      // shared by all three sub-stores and its listing cost is what
      // every probe pays; the shared tick body logs loudly when
      // compaction is due (the stream itself never compacts — offline
      // op, stream stopped)
      if (healthEveryN > 0 && batchId % healthEveryN == 0)
        StoreCompaction.healthTick(batch.sparkSession,
          s"$storeDir/postings", s"$storeDir/health", batchId,
          maxLiveBatches, "bm25-stream", "Corpus.maintainBm25Store")
    }
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(processBatch)
      .trigger(trigger)
      .start()
  }

  /** Streaming span-level decontamination — the streaming twin of
    * [[graft.operators.Decontaminate.removeContaminatedSpans]]: the eval
    * corpus is FROZEN at stream start into one
    * [[graft.operators.Decontaminate.EvalGramIndex]] (Bloom filter bytes
    * + the checkpointed exact gram set), and every micro-batch pays only
    * its OWN gram scan + plan-literal Bloom probe + the size-guarded
    * exact semi-join before writing its cleaned docs to a per-batch-id
    * partition (`.../batch=<id>`, overwrite — a replayed micro-batch
    * rewrites its own partition, so the sink is idempotent under
    * at-least-once foreachBatch delivery; the q84/near-dup sink
    * discipline).
    *
    * Deliberately STATELESS across batches: contamination is a property
    * of (doc, frozen eval set) alone — unlike near-dup dedup there is no
    * cross-batch index to grow, so the right streaming shape is the
    * frozen eval index, not a stateful operator. A new eval set means a
    * new stream (and a batch re-pass over history if retroactive
    * cleaning is wanted). */
  def startDecontaminate(docs: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String, minTokens: Int,
                         cleanDir: String, checkpointDir: String,
                         fpp: Double = 1e-6,
                         trigger: Trigger = Trigger.AvailableNow())
  : StreamingQuery = {
    val idx = graft.operators.Decontaminate.buildEvalIndex(
      evalDocs, idCol, textCol, minTokens, fpp)
    val processBatch: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      graft.operators.Decontaminate
        .removeContaminatedSpansWith(batch, idx, idCol, textCol)
        .write.mode("overwrite").parquet(s"$cleanDir/batch=$batchId")
    }
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(processBatch)
      .trigger(trigger)
      .start()
  }

  /** Streaming novelty scoring — the streaming twin of
    * [[graft.operators.Decontaminate.noveltyReport]]: the stored corpus
    * is FROZEN at stream start into one gram index, and every
    * micro-batch of crawl increments writes its per-doc novelty report
    * (n_grams / n_seen / novelty) to a per-batch-id overwrite partition
    * — the monitoring feed behind "is this crawl stream still finding
    * new text?". Same stateless shape and idempotent-sink discipline as
    * [[startDecontaminate]]: novelty is a property of (doc, frozen
    * corpus) alone; to score against a corpus that includes earlier
    * batches, restart the stream with a re-frozen index (chasing the
    * corpus within a stream would make every trigger pay an index
    * rebuild). */
  def startNoveltyScore(docs: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String, minTokens: Int,
                        reportDir: String, checkpointDir: String,
                        fpp: Double = 1e-6,
                        trigger: Trigger = Trigger.AvailableNow())
  : StreamingQuery = {
    val idx = graft.operators.Decontaminate.buildEvalIndex(
      corpus, idCol, textCol, minTokens, fpp)
    val processBatch: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      graft.operators.Decontaminate
        .noveltyReportWith(batch, idx, idCol, textCol)
        .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
    }
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(processBatch)
      .trigger(trigger)
      .start()
  }

  /** Compact a [[startNearDupDedup]] shingle store: merge every batch
    * partition EXCEPT the newest into one `batch=-1` partition — see
    * [[StoreCompaction]] for the replay-idempotence and crash-safety
    * contract (shared with the IVF-appends twin,
    * [[VecStreaming.compactStore]]). Run with the stream STOPPED; an
    * interrupted run is healed by the next [[startNearDupDedup]]
    * micro-batch ([[StoreCompaction.recover]] runs before every store read),
    * so a restarted stream never dedups against a store missing its
    * compacted shingles. */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
                   storeDir: String): Unit =
    StoreCompaction.compact(spark, storeDir, Seq("doc_id", "s"))

  /** Health report for this twin's shingle store — live batch-partition
    * count, footer-census row counts, and the compaction
    * recommendation; see [[StoreCompaction.storeHealth]]. */
  def storeHealth(spark: org.apache.spark.sql.SparkSession,
                  storeDir: String, maxLiveBatches: Int = 16)
  : org.apache.spark.sql.DataFrame =
    StoreCompaction.storeHealth(spark, storeDir, maxLiveBatches)

  /** Maintenance tick for this twin's shingle store: [[storeHealth]] →
    * conditional [[compactStore]] ([[StoreCompaction.maintainStore]]'s
    * measure-then-act contract — a healthy store is a metadata-sized
    * no-op). Run with the stream STOPPED. Returns the pre-compaction
    * health row extended with `compacted`. */
  def maintainStore(spark: org.apache.spark.sql.SparkSession,
                    storeDir: String, maxLiveBatches: Int = 16)
  : org.apache.spark.sql.DataFrame =
    StoreCompaction.maintainStore(spark, storeDir, Seq("doc_id", "s"),
      maxLiveBatches = maxLiveBatches)
}
