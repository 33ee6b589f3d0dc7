package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.streaming.StoreCompaction

/** Corpus-level text analysis (north-star extension; no reference
  * counterpart): term statistics over a document table. */
object Corpus {

  /** Per-document top-k terms by term frequency, with corpus document
    * frequency attached — the exact-integer core of tf-idf keyword
    * extraction (the idf transform is a per-row log the consumer applies;
    * keeping the operator integer-exact keeps it engine-portable). One
    * explode + two aggregations + one window over (doc, tf) — the window
    * partitions by doc, so no global funnel; df re-joins on the term.
    * Ties break by term order (deterministic). Output:
    * (doc_id, term, tf, df, rank). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
      // whitespace-only / tab-prefixed docs split to an EMPTY token (trim
      // strips spaces only), and "" sorts FIRST in the tie-break — drop it
      // or it displaces real keywords and inflates its own df
      .filter(col("term") =!= "")
    val tf = tok.groupBy("doc_id", "term").agg(count("*").as("tf"))
    val df = tf.groupBy("term").agg(count("*").as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(df, "term")
      .select("doc_id", "term", "tf", "df", "rank")
  }

  /** Per-document duplicate-n-gram share — the corpus-overlap quality
    * signal (the "duplicate n-gram fraction" family of pretraining
    * filters): for each doc, the fraction of its DISTINCT n-grams that
    * also occur in at least one other document. 1.0 means every n-gram is
    * seen elsewhere (boilerplate / near-copy); ~0 means mostly original
    * text.
    *
    * Deliberately UNCAPPED (unlike the dedup-family index): the hottest
    * corpus-wide n-grams are precisely the duplicated mass this metric
    * measures, so a maxDf cap would censor the signal. Cost stays linear:
    * the df aggregation shuffles 8-byte n-gram hashes once, and the
    * df join-back is 1:1 on the index rows (fan-out bounded by the index
    * size itself, not df²) — safe at any corpus size, unlike the dedup
    * pair join this index shape feeds there.
    *
    * Output: (doc_id, n_distinct, n_dup, dup_share). */
  def duplicateNgramShare(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3): DataFrame = {
    val sh = Dedup.docShingles(docs, idCol, textCol, n)
    val df = sh.groupBy("s").agg(count("*").as("df"))
    sh.join(df, "s")
      .groupBy("doc_id")
      .agg(count("*").as("n_distinct"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_share",
        round(col("n_dup").cast("double") / col("n_distinct").cast("double"), 6))
  }

  /** Corpus-wide frequent terms with EXACT counts in bounded memory — the
    * sketch-prune + exact-verify pattern: a Misra-Gries pass
    * ([[graft.model.Aggregators.MisraGries]]) narrows the vocabulary to
    * ≤ `k` candidates (O(k) memory per partition, ≤ k rows shuffled per
    * partition — a full `groupBy(term)` would materialize the entire
    * vocabulary, which at 100 TB exceeds executor memory), then ONE tiny
    * exact pass counts ONLY the candidates (an `isin` literal filter the
    * scan can evaluate row-by-row, then a hash agg over ≤ k keys whose
    * map-side combine makes the shuffle negligible).
    *
    * `minShare` is the frequency threshold as a fraction of total tokens
    * (scale-invariant). Requiring `minShare > 1/(k+1)` makes the result
    * EXACT AND DETERMINISTIC despite the sketch: MG guarantees every item
    * with count > n/(k+1) survives pass 1 (zero false negatives at the
    * threshold), and pass 2's exact counts remove all false positives —
    * the output is precisely the terms with count ≥ ceil(n · minShare),
    * independent of arrival order.
    *
    * Output: (term, n_term), exact counts. */
  def frequentTerms(docs: DataFrame, textCol: String,
                    k: Int = 32768, minShare: Double = 5e-5): DataFrame = {
    require(minShare > 0 && minShare < 1,
      s"minShare must be in (0,1), got $minShare")
    require(minShare > 1.0 / (k + 1),
      s"minShare=$minShare must exceed 1/(k+1)=${1.0 / (k + 1)} for the " +
        "Misra-Gries pass to guarantee zero false negatives — raise k")
    val tok = docs.select(explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val mg = udaf(new graft.model.Aggregators.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    // one global aggregation: per-partition MG summaries (bounded k)
    // merge to a single ≤k-entry candidate map + the exact token total
    val row = tok.agg(mg(col("term")).as("cands"), count(lit(1)).as("n"))
      .select(col("cands.counts").as("counts"), col("n"))
      .head() // driver sees ≤ k candidate terms + one long — tiny
    val cands = row.getMap[String, Long](0).keys.toSeq
    val n = row.getLong(1)
    val minCount = math.ceil(n * minShare).toLong
    // small candidate sets go in as a scan-evaluable isin; big ones as a
    // broadcast semi-join (a 32k-string literal In would bloat the plan)
    val candTok =
      if (cands.size <= 256) tok.filter(col("term").isin(cands: _*))
      else {
        val spark = docs.sparkSession
        import spark.implicits._
        tok.join(broadcast(cands.toDF("term")), Seq("term"), "left_semi")
      }
    candTok.groupBy("term")
      .agg(count(lit(1)).as("n_term"))
      .filter(col("n_term") >= minCount)
  }

  /** Bigram language-model quality score — the perplexity-filter shape
    * (CCNet/Gopher-style: score text by how predictable it is under an
    * n-gram LM; gibberish and token-shuffled boilerplate score high).
    * The model is add-one-smoothed bigram counts trained on the corpus
    * itself (self-scoring; to score against a held-out reference corpus,
    * pass it as `model`): P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V), and a
    * doc's score is the mean -log2 P over its bigrams.
    *
    * Shape at scale: bigrams come from a per-row zip of the token array
    * with its own tail (no self-join, no window); the model is one
    * count aggregation keyed by bigram (map-side combined) plus one by
    * unigram; scoring joins doc-bigrams to the model on the bigram key
    * (shuffle join — web-scale vocabularies are NOT broadcastable) and
    * the vocabulary size arrives as a single-row cross join. No
    * driver-side state: the "model" is a DataFrame.
    *
    * Determinism for the oracle: the per-doc mean is rounded to 4
    * decimals so sub-ULP summation-order drift cannot flip a
    * hash-compared digit (~1e-15 relative vs the 5e-5 rounding bin).
    *
    * Output: (idCol, n_bigrams, nll) — docs with < 2 tokens are not
    * scoreable and are excluded. */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
              model: DataFrame = null): DataFrame = {
    def toks(df: DataFrame, keep: Column*): DataFrame =
      df.select(keep :+ array_remove(tokens(col(textCol)), "").as("toks"): _*)
    // tokenize ONCE and materialize: the token-array frame feeds the
    // unigram counts, the vocabulary, the bigram model AND (when
    // self-scoring, the common case) the scoring pass — composed lazily
    // each consumer re-ran the corpus scan + split (4 scans per action;
    // at 100 TB four tokenizations of the corpus). Staging the tokenized
    // corpus between stages is the CCNet production shape.
    val docToks = toks(docs, col(idCol)).transform(graft.util.Stage.materialize)
    val trainToks = Option(model)
      .map(m => toks(m).transform(graft.util.Stage.materialize))
      .getOrElse(docToks.select(col("toks")))
    def bigramsFrom(df: DataFrame, keep: Column*): DataFrame =
      df.withColumn("n", size(col("toks")))
        .filter(col("n") >= 2)
        .select(keep :+ explode(zip_with(
          slice(col("toks"), lit(1), col("n") - 1),
          slice(col("toks"), lit(2), col("n") - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"): _*)
        .select(keep :+ col("bg.w1") :+ col("bg.w2"): _*)
    val tok = trainToks.select(explode(col("toks")).as("w"))
    val uni = tok.groupBy("w").agg(count(lit(1)).as("cw"))
      .withColumnRenamed("w", "w1")
    val vocab = tok.agg(countDistinct("w").as("v"))
    val bgc = bigramsFrom(trainToks)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cbg"))
    // left join: a scored bigram unseen in training has cbg = 0 (pure
    // smoothing mass) — self-scoring always hits, held-out may not
    bigramsFrom(docToks, col(idCol))
      .join(bgc, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(graft.model.Joins.maybeBroadcast(vocab))
      .withColumn("nll", -log2(
        (coalesce(col("cbg"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cw"), lit(0L)) + col("v"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll")), 4).as("nll"))
  }

  /** BM25 postings index: one row per (term, doc) with the fully
    * precomputed Okapi BM25 term weight
    *
    *   weight = idf(term) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf    = ln(1 + (N − df + 0.5) / (df + 0.5))
    *
    * so query-time scoring is a pure equi-join + sum — the
    * impact-ordered-postings shape every production text index uses:
    * tokenize/normalize ONCE at build, store the index, answer many
    * queries against it ([[bm25Search]]). N counts indexed docs (a doc
    * with no tokens has nothing to index and cannot match any query).
    *
    * Shape at scale: one explode + a (doc,term) hash agg for tf; dl is
    * derived from tf (no second tokenization pass); df is a term-keyed
    * agg of tf (8-byte-hashable keys, map-side combined); N/avgdl arrive
    * as a single-row cross join (broadcast), never a data-sized window.
    * The raw text never shuffles — only (term, doc_id, counts).
    *
    * Output: (term, doc_id, weight). */
  def bm25Index(docs: DataFrame, idCol: String, textCol: String,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"BM25 parameters out of range: k1=$k1 (>=0), b=$b (in [0,1])")
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .join(dl, "doc_id")
      .crossJoin(graft.model.Joins.maybeBroadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("weight", col("idf") *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .select("term", "doc_id", "weight")
  }

  /** BM25 ranked retrieval over a prebuilt [[bm25Index]]: per query, the
    * top-`k` documents by summed term weight. Query terms are
    * deduplicated (standard Okapi with the query-tf saturation term
    * dropped — repeating a word in a query does not double its weight).
    *
    * Shape at scale: the query table is the small side by construction
    * (requests, not corpus) — it broadcast-joins to the postings, so the
    * index itself never shuffles for the probe; only matched postings
    * (Σ per query term df rows) flow into the (query, doc) score agg;
    * ranking is the bounded top-k ([[graft.model.Aggregators.topKByScore]]
    * — the integral-id heap, or the built-in window limit for any other
    * id type; either way at most k rows per (partition, query) shuffle).
    * `doc_id` keeps its input type.
    *
    * Determinism for cross-engine checks: scores are rounded to 4
    * decimals BEFORE ranking, so sub-ULP summation-order drift (ln is
    * not exactly reproducible across engines) cannot flip a rank or a
    * hashed digit; ties break by doc_id ascending.
    *
    * Output: (query_id, doc_id, rank, score), rank 1..k. */
  def bm25Search(index: DataFrame, queries: DataFrame,
                 qIdCol: String, qTextCol: String, k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val qt = queries.select(col(qIdCol).as("query_id"),
      explode(tokens(col(qTextCol))).as("term"))
      .filter(col("term") =!= "")
      .distinct()
    bm25Rank(index, qt, k)
  }

  /** One-shot convenience: build the index and search it in one plan. */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 queries: DataFrame, qIdCol: String, qTextCol: String,
                 k: Int): DataFrame =
    bm25Search(bm25Index(docs, idCol, textCol), queries, qIdCol, qTextCol, k)

  // -------------------------------------------------------------------
  // Incremental BM25 store — the batch-ingest production shape: an
  // APPEND-ONLY index a delta folds into at delta cost, queried with
  // scan-level term pushdown. Stored under `path`:
  //   postings/batch=N  (term, doc_id, tf)   raw term counts
  //   doclen/batch=N    (doc_id, dl)         per-doc token counts
  //   stats/batch=N     (n_docs, total_dl)   additive corpus stats
  // Weights are NOT precomputed (unlike the one-shot bm25Index): df, N
  // and avgdl shift with every ingest, so the store keeps the exact
  // additive inputs and the probe derives idf/norms for just the probed
  // terms. Since stored (term, doc) rows are globally unique (fresh-id
  // contract, enforced), df for a probed term is simply the count of
  // its postings rows — no separate df table to maintain.
  // -------------------------------------------------------------------

  private def bm25Tf(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .select("term", "doc_id", "tf")

  /** The committed-batch set: `stats/batch=N` is written LAST and is the
    * batch's commit marker — postings/doclen directories without it are
    * crash debris ([[bm25Recover]] removes them; the probe ignores them
    * either way). */
  private def bm25Committed(spark: org.apache.spark.sql.SparkSession,
                            path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/stats")
    StoreCompaction.batches(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .map(_._1)
  }

  /** Heal the store before trusting it: finish or discard any
    * interrupted [[compactBm25Store]] (per sub-store, the shared
    * [[graft.streaming.StoreCompaction]] contract), then remove
    * uncommitted batch directories (written but never reached the stats
    * commit marker) so a crashed ingest cannot poison scores or block
    * its own retry. `batch=-1` is the compacted snapshot and is never
    * debris — compaction runs sub-store by sub-store (stats LAST), so a
    * postings `batch=-1` can legitimately exist before stats lists it. */
  /** Finish/discard an interrupted compaction only — safe while an
    * ingest is in flight (acts only when a `.compact_tmp` exists, and
    * compaction requires the stream stopped), unlike the debris deletion
    * in [[bm25Recover]] which would race a concurrent refresh's
    * half-written batch. */
  private[graft] def bm25RecoverCompaction(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    for (sub <- Seq("postings", "doclen", "stats")) {
      val d = new org.apache.hadoop.fs.Path(s"$path/$sub")
      StoreCompaction.recover(d.getFileSystem(conf), d)
    }
  }

  private def bm25Recover(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    bm25RecoverCompaction(spark, path)
    val statsDir = new org.apache.hadoop.fs.Path(s"$path/stats")
    val committed = StoreCompaction.batches(statsDir.getFileSystem(conf),
      statsDir).map(_._1).toSet
    for (sub <- Seq("postings", "doclen")) {
      val d = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val fs = d.getFileSystem(conf)
      StoreCompaction.batches(fs, d)
        .filterNot { case (b, _) => b == -1L || committed(b) }
        .foreach { case (_, dir) => fs.delete(dir, true) }
    }
  }

  /** Compact a BM25 store's per-batch directories (one per micro-batch
    * under [[graft.streaming.DocStreaming.startBm25Ingest]] — the classic
    * small-files problem) into one `batch=-1` partition per sub-store,
    * newest batch untouched (it is the only one foreachBatch can
    * replay). Crash-safe via [[graft.streaming.StoreCompaction]]'s
    * tmp+manifest protocol; sub-stores compact postings → doclen →
    * stats, and the probe treats `batch=-1` as always-committed, so
    * every intermediate crash state still scores exactly (stats
    * directories are only removed after their data is safely inside the
    * postings/doclen snapshots' committed set). Stats rows are SUMMED,
    * not distinct'd — they are aggregates, and two batches with equal
    * totals must stay two batches' worth of mass. Run with any ingest
    * stream STOPPED. Returns whether any sub-store actually merged
    * ([[graft.streaming.StoreCompaction.compact]]'s contract) —
    * non-short-circuiting so every sub-store gets its pass. */
  def compactBm25Store(spark: org.apache.spark.sql.SparkSession,
                       path: String): Boolean = {
    bm25Recover(spark, path)
    StoreCompaction.compact(spark, s"$path/postings",
      Seq("term", "doc_id", "tf")) |
    StoreCompaction.compact(spark, s"$path/doclen", Seq("doc_id", "dl")) |
    StoreCompaction.compact(spark, s"$path/stats",
      Seq("n_docs", "total_dl"),
      merge = _.agg(sum("n_docs").as("n_docs"),
        sum("total_dl").as("total_dl")))
  }

  /** Maintenance tick for a BM25 store: health-census the POSTINGS
    * sub-store (the largest — its live batch count is the committed
    * batch count all three sub-stores share, and its listing/open cost
    * is what every probe pays) and [[compactBm25Store]] only when it
    * fires `recommend_compaction` —
    * [[graft.streaming.StoreCompaction.maintainStore]]'s
    * measure-then-act contract applied across the three sub-stores at
    * once. A healthy store is a metadata-sized no-op; crash debris
    * (uncommitted batch dirs) is healed BEFORE measuring, so the row
    * describes exactly the store a probe would read. Run with any
    * ingest stream STOPPED. Returns the pre-compaction postings health
    * row extended with `compacted` (true only when a merge landed). */
  def maintainBm25Store(spark: org.apache.spark.sql.SparkSession,
                        path: String, maxLiveBatches: Int = 16)
  : org.apache.spark.sql.DataFrame = {
    // FULL heal, not just compaction recovery: uncommitted batch dirs
    // (written but never reached the stats commit marker) are crash
    // debris no probe ever reads — censusing them would report a state
    // no reader sees and could fire compaction on phantom partitions.
    // Safe here by the same contract as compactBm25Store: maintenance
    // runs with any ingest stream stopped.
    bm25Recover(spark, path)
    val health = StoreCompaction.storeHealth(spark, s"$path/postings",
      maxLiveBatches)
    val fire = health.select("recommend_compaction").head().getBoolean(0)
    // `compacted` records that a merge actually landed (the
    // StoreCompaction.maintainStore contract): a fired recommendation
    // over sub-stores with nothing mergeable stays false
    val merged = fire && compactBm25Store(spark, path)
    health.withColumn("compacted", lit(merged))
  }

  private def bm25NextBatch(spark: org.apache.spark.sql.SparkSession,
                            path: String): Long =
    bm25Committed(spark, path).foldLeft(-1L)(math.max) + 1

  /** Create the store at `path` (must not already exist) from an initial
    * corpus — one tokenization pass, three writes. */
  def saveBm25Store(docs: DataFrame, idCol: String, textCol: String,
                    path: String): Unit = {
    val spark = docs.sparkSession
    require(bm25NextBatch(spark, path) == 0,
      s"bm25 store already exists at $path — use refreshBm25Store")
    bm25Recover(spark, path)
    writeBm25Batch(docs, idCol, textCol, path, 0L)
  }

  /** Fold an insert-only delta into the store at delta cost: tokenize
    * the delta once, append postings/doclen/stats as a new batch
    * directory — the existing index is never read, rewritten, or
    * shuffled (only `doclen` is SCANNED once for the freshness check).
    * Re-ingesting an already-indexed doc_id would double its postings
    * and silently corrupt every future score, so overlapping ids fail
    * fast with examples before anything is written. */
  def refreshBm25Store(delta: DataFrame, idCol: String, textCol: String,
                       path: String): Unit = {
    val spark = delta.sparkSession
    val next = bm25NextBatch(spark, path)
    require(next > 0, s"no bm25 store at $path — use saveBm25Store")
    bm25Recover(spark, path)
    val dup = spark.read.parquet(s"$path/doclen")
      .join(delta.select(col(idCol).as("doc_id")).distinct(), "doc_id")
      .select("doc_id").limit(3).collect().map(_.get(0))
    require(dup.isEmpty,
      s"delta re-ingests already-indexed doc ids (e.g. ${dup.mkString(", ")}) " +
        "— refresh is insert-only; dedup the delta first (Dedup.exactDelta)")
    writeBm25Batch(delta, idCol, textCol, path, next)
  }

  /** One ingest batch: tokenize ONCE into the postings write, then derive
    * doclen and stats by reading the just-written (columnar, much
    * smaller) tables back — three chained actions over one raw-text
    * scan, instead of re-tokenizing per derived table. `overwrite` mode
    * is the streaming-replay path (a replayed micro-batch rewrites its
    * own batch directory instead of double-counting). */
  private[graft] def writeBm25Batch(docs: DataFrame, idCol: String,
                                    textCol: String, path: String,
                                    batch: Long,
                                    mode: String = "errorifexists"): Unit = {
    val spark = docs.sparkSession
    bm25Tf(docs, idCol, textCol)
      .write.mode(mode).parquet(s"$path/postings/batch=$batch")
    spark.read.parquet(s"$path/postings/batch=$batch")
      .groupBy("doc_id").agg(sum("tf").as("dl"))
      .write.mode(mode).parquet(s"$path/doclen/batch=$batch")
    spark.read.parquet(s"$path/doclen/batch=$batch")
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
      .write.mode(mode).parquet(s"$path/stats/batch=$batch")
  }

  /** BM25 top-`k` per query against the STORE — identical scores to a
    * from-scratch [[bm25Index]] + [[bm25Search]] over everything ever
    * ingested (the refresh law PipelineOpsSpec pins).
    *
    * Probe shape at 100 TB: the query's distinct terms are collected
    * driver-side (a request, not data) and pushed into the postings
    * scan as an `isin` literal — the scan skips non-matching row
    * groups via parquet min/max, and only matched postings (Σ df over
    * probed terms) ever reach a join or shuffle. df/idf derive from
    * those same matched rows; `doclen` joins once on doc_id for the
    * matched docs; `stats` folds to one row. Ranking is the bounded
    * top-k aggregation, scores rounded before ranking as in
    * [[bm25Search]]. */
  def bm25SearchStored(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, qIdCol: String, qTextCol: String,
                       k: Int = 10, k1: Double = 1.2, b: Double = 0.75)
  : DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val qt = queries.select(col(qIdCol).as("query_id"),
      explode(tokens(col(qTextCol))).as("term"))
      .filter(col("term") =!= "")
      .distinct()
    val terms = qt.select("term").distinct().collect().map(_.getString(0))
    // heal an interrupted compaction (no-op unless a tmp exists) so the
    // probe never reads a store missing deleted-but-unrenamed sources
    bm25RecoverCompaction(spark, path)
    // only committed batches (stats marker present): an in-flight or
    // crashed ingest's partial postings must not skew df/scores — the
    // batch filter prunes whole partition directories at the scan.
    // batch=-1 is the compacted snapshot of previously-committed batches
    // and is always trusted (sub-stores compact one at a time, so
    // postings can hold -1 before stats lists it)
    val committed = bm25Committed(spark, path)
    require(committed.nonEmpty, s"no committed bm25 batches at $path")
    def reader(sub: String) = spark.read.parquet(s"$path/$sub")
      .filter(col("batch") === -1L || col("batch").isin(committed: _*))
    val post = reader("postings")
      .filter(col("term").isin(terms.toSeq: _*))
      .select("term", "doc_id", "tf")
    val dfq = post.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = reader("doclen").select("doc_id", "dl")
    val stats = spark.read.parquet(s"$path/stats")
      .agg(sum("n_docs").as("n_docs"),
        (sum("total_dl").cast("double") / sum("n_docs")).as("avgdl"))
    val weighted = post
      .join(graft.model.Joins.maybeBroadcast(dfq), "term")
      .join(dl, "doc_id")
      .crossJoin(graft.model.Joins.maybeBroadcast(stats))
      .withColumn("weight", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .select("term", "doc_id", "weight")
    bm25Rank(weighted, qt, k)
  }

  /** Shared ranking tail: broadcast query-term join, per-(query, doc)
    * rounded score, bounded top-k. */
  private def bm25Rank(index: DataFrame, qt: DataFrame, k: Int): DataFrame = {
    val scored = index
      .join(broadcast(qt), "term")
      .groupBy("query_id", "doc_id")
      .agg(round(sum("weight"), 4).as("score"))
    graft.model.Aggregators.topKByScore(scored, Seq("query_id"), "score",
      "doc_id", k)
  }

  /** Temperature-weighted corpus mixing (the multi-source sampling recipe:
    * sample source s with probability ∝ tokens_s^T). T=1 is proportional
    * (big sources dominate); T→0 flattens toward uniform (up-samples small
    * high-quality sources) — the standard knob for balancing web-scale
    * crawl against small curated corpora.
    *
    * Shape: one per-source token aggregation (map-side combined), then the
    * normalization runs on the aggregate — one row per source, never
    * per-doc — via a single-row cross join (broadcast by AQE), not an
    * unpartitioned window over data-sized input.
    *
    * Output: (sourceCol, tokens, weight) with Σ weight = 1. */
  def mixingWeights(docs: DataFrame, sourceCol: String, tokenCol: Column,
                    temperature: Double = 0.7): DataFrame = {
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val per = docs.groupBy(col(sourceCol))
      .agg(sum(tokenCol.cast("long")).as("tokens"))
      .withColumn("w_raw", pow(col("tokens").cast("double"), lit(temperature)))
    val tot = per.agg(sum("w_raw").as("w_tot"))
    per.crossJoin(graft.model.Joins.maybeBroadcast(tot))
      .withColumn("weight", round(col("w_raw") / col("w_tot"), 6))
      .select(col(sourceCol), col("tokens"), col("weight"))
  }

  /** UniMax epoch-capped corpus mixing (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining"): allocate a total token `budget` across
    * sources by WATER-FILLING under a per-source repeat cap — no source
    * is sampled beyond `maxEpochs` passes over its own tokens, and the
    * budget freed by small (capped) sources spreads UNIFORMLY over the
    * larger ones instead of ∝ size^T (the [[mixingWeights]] temperature
    * knob, which still lets the largest source dominate).
    *
    * Allocation: capacity c_s = maxEpochs · tokens_s; find the water
    * level L with Σ_s min(c_s, L) = budget; alloc_s = min(c_s, L). When
    * the budget exceeds total capacity every source is capped (the
    * budget is unreachable without raising maxEpochs — epochs says so).
    *
    * Shape: ONE per-source token aggregation (map-side combined); the
    * water level is solved DRIVER-side over the sources-sized collect
    * (the curriculumShards pivot doctrine — bounded by source count,
    * never by corpus size) with the closed form over capacities sorted
    * ascending: the first source whose capacity covers its fair share
    * of the remaining budget fixes L = (budget − Σ smaller capacities)
    * / (#sources from it on). The result is emitted as a literal
    * sources-sized DataFrame.
    *
    * Output: (sourceCol, tokens, capacity, alloc_tokens, epochs,
    * weight), weight = alloc/budget rounded 6, alloc and epochs rounded
    * 4 — all double arithmetic in one fixed order so an external SQL
    * replay is bit-stable. */
  def unimaxAllocation(docs: DataFrame, sourceCol: String, tokenCol: Column,
                       budget: Long, maxEpochs: Double = 4.0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    val spark = docs.sparkSession
    val per = docs.groupBy(col(sourceCol))
      .agg(sum(tokenCol.cast("long")).as("tokens"))
      .collect()
      // a NULL source stays a distinct NULL group (never folded into a
      // source literally named "null"); an all-NULL token sum is 0
      .map(r => (if (r.isNullAt(0)) null else String.valueOf(r.get(0)),
        if (r.isNullAt(1)) 0L else r.getLong(1)))
      .map { case (s, n) => (s, n, maxEpochs * n) }
      // ascending capacity, name tie-break (NULL source sorts first)
      .sortBy { case (s, _, c) => (c, if (s == null) "" else "\u0000" + s) }
    val k = per.length
    require(k > 0, "unimaxAllocation: no sources")
    // water level: scan ascending; the first capacity covering its fair
    // share of what remains fixes L for every source from there on
    var remaining = budget.toDouble
    var level = Double.PositiveInfinity
    var i = 0
    while (i < k && level.isInfinite) {
      val share = remaining / (k - i)
      if (per(i)._3 >= share) level = share
      else { remaining -= per(i)._3; i += 1 }
    }
    val rows = per.map { case (s, n, c) =>
      val alloc = math.min(c, level)
      val epochs = if (n == 0) 0.0 else alloc / n // an empty source has no epochs
      (s, n, math.rint(c * 1e4) / 1e4, math.rint(alloc * 1e4) / 1e4,
        math.rint(epochs * 1e4) / 1e4,
        math.rint(alloc / budget * 1e6) / 1e6)
    }
    import spark.implicits._
    rows.toSeq.toDF(sourceCol, "tokens", "capacity", "alloc_tokens",
      "epochs", "weight")
  }

  /** EXACT budget floor-division `⌊num·total / den⌋` as a Column (cast
    * to double only AFTER the exact divide, for the downstream share
    * arithmetic): the product runs in DECIMAL(38,0) — `num·total` can
    * overflow a long — and the divide is the SQL `div`
    * (IntegralDivide), whose integer floor matches the oracle's `//`
    * exactly at any token count. A double `/` would diverge from the
    * replayed arithmetic once the product passes 2^53. */
  private def budgetDiv(total: Column, budgetNum: Long,
                        budgetDen: Long): Column =
    call_function("div",
      lit(budgetNum).cast("decimal(38,0)") * total,
      lit(budgetDen)).cast("double")

  /** [[unimaxAllocation]] as a PLAN instead of a driver round-trip:
    * the per-source census, the ascending water-fill, and the weights
    * all stay inside one logical plan, so the allocation COMPOSES into
    * a larger pipeline (the input subtree is not executed twice for a
    * driver-side budget scalar) and the budget is expressed as a
    * FRACTION of the observed total (`budgetNum/budgetDen × total
    * tokens`) rather than a precomputed literal.
    *
    * The water-fill windows run over the per-source frame — K rows for
    * K sources, one partition BY CONSTRUCTION (the same bounded-frame
    * doctrine as the profiler): ascending-capacity prefix sums, then
    * the first source whose capacity covers its fair share of what
    * remains fixes the level for everyone after (identical arithmetic
    * and rounding to [[unimaxAllocation]] — same fixed evaluation
    * order, so the two forms agree to the printed digit). NULL sources
    * are real groups and sort first (asc_nulls_first), mirroring the
    * driver-side form.
    *
    * Output: (sourceCol, tokens, capacity, alloc_tokens, epochs,
    * weight) — [[unimaxAllocation]]'s schema. */
  def unimaxWeights(docs: DataFrame, sourceCol: String, tokenCol: Column,
                    budgetNum: Long = 1L, budgetDen: Long = 1L,
                    maxEpochs: Double = 4.0): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0,
      s"budget fraction must be positive, got $budgetNum/$budgetDen")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    val per = docs.groupBy(col(sourceCol).as("__src"))
      .agg(coalesce(sum(tokenCol.cast("long")), lit(0L)).as("tokens"))
      .withColumn("cap", lit(maxEpochs) * col("tokens"))
    val asc = Window.orderBy(col("cap").asc_nulls_first,
      col("__src").asc_nulls_first)
    val all = asc.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val withB = per
      .withColumn("__i", row_number().over(asc))
      .withColumn("__pfx", coalesce(sum(col("cap")).over(
        asc.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .withColumn("__k", count(lit(1)).over(all))
      // EXACT integer floor division BEFORE the double cast — the
      // replayed arithmetic must see the identical budget value. The
      // product is computed in DECIMAL and divided with the SQL `div`
      // (IntegralDivide): a long product can overflow for large
      // numerators, and Spark's `/` on longs is DOUBLE division, which
      // diverges from the oracle's integer floor-div once the product
      // passes 2^53 tokens.
      .withColumn("__b", budgetDiv(sum(col("tokens")).over(all),
        budgetNum, budgetDen))
    val share = (col("__b") - col("__pfx")) / (col("__k") - col("__i") + 1)
    val lev = withB
      .withColumn("__share", share)
      // no covering source (budget above total capacity) ⇒ the level is
      // unbounded and every source gets its full capacity — the driver
      // form's Infinity case
      .withColumn("__lc", coalesce(first(
        when(col("cap") >= col("__share"), col("__share")), true).over(all),
        lit(Double.PositiveInfinity)))
    lev.select(col("__src").as(sourceCol), col("tokens"),
      round(col("cap"), 4).as("capacity"),
      round(least(col("cap"), col("__lc")), 4).as("alloc_tokens"),
      round(when(col("tokens") === 0, lit(0.0))
        .otherwise(least(col("cap"), col("__lc")) / col("tokens")), 4)
        .as("epochs"),
      round(least(col("cap"), col("__lc")) / col("__b"), 6).as("weight"))
  }

  /** TEMPERATURE-SAMPLED mixing — the mT5/XLM-R standard (Xue et al.
    * 2021 §3.1; Conneau et al. 2020 §3): source s's budget share is
    * ∝ tokens_s^alpha (alpha = 1/T; the published default 0.3), the
    * smooth power-law alternative to [[unimaxWeights]]' hard epoch cap —
    * low-resource sources are upsampled, high-resource downweighted,
    * with no cliff. Same plan-composed shape as unimaxWeights: ONE
    * per-source census aggregation, then windows over the K-source
    * frame (one partition by construction); budget is a FRACTION of the
    * observed total (`budgetNum/budgetDen × total tokens`, floored as a
    * Long like the UniMax forms). NULL sources are real groups. An
    * empty source (0 tokens) gets weight 0 and 0 epochs.
    *
    * Unlike UniMax, temperature sampling can assign a small source MORE
    * than its data once (epochs > 1 means repetition) — that is the
    * published behavior, not a bug; cap-sensitive pipelines should use
    * [[unimaxWeights]].
    *
    * Output: (sourceCol, tokens, weight, alloc_tokens, epochs) — weight
    * rounded to 6, tokens-like columns to 4, the shared display
    * convention. */
  def temperatureWeights(docs: DataFrame, sourceCol: String,
                         tokenCol: Column, alpha: Double = 0.3,
                         budgetNum: Long = 1L, budgetDen: Long = 1L)
  : DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(budgetNum > 0 && budgetDen > 0,
      s"budget fraction must be positive, got $budgetNum/$budgetDen")
    val per = docs.groupBy(col(sourceCol).as("__src"))
      .agg(coalesce(sum(tokenCol.cast("long")), lit(0L)).as("tokens"))
      .withColumn("__w", pow(col("tokens").cast("double"), lit(alpha)))
    val all = Window.orderBy(col("__src").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withT = per
      .withColumn("__sumw", sum(col("__w")).over(all))
      // exact integral floor-div, as unimaxWeights ([[budgetDiv]])
      .withColumn("__b", budgetDiv(sum(col("tokens")).over(all),
        budgetNum, budgetDen))
    val weight = when(col("__sumw") > 0, col("__w") / col("__sumw"))
      .otherwise(lit(0.0))
    val alloc = col("__b") * weight
    withT.select(col("__src").as(sourceCol), col("tokens"),
      round(weight, 6).as("weight"),
      round(alloc, 4).as("alloc_tokens"),
      round(when(col("tokens") === 0, lit(0.0))
        .otherwise(alloc / col("tokens")), 4).as("epochs"))
  }

  /** Deterministic WEIGHTED INTERLEAVE — the epoch schedule a training
    * loader reads once mixing weights are fixed (e.g. from
    * [[unimaxWeights]]): source s contributes its k-th document
    * (k = 1-based rank in the deterministic md5-shuffled per-source
    * order) at interleave key `k / w_s`, so every PREFIX of the global
    * key order carries sources in ~weight proportion — smooth weighted
    * round-robin, the classic virtual-time scheduler. The global order
    * materializes as the (shard, pos) loader layout via the exact
    * pivot-bucket rank machinery ([[Sampling.curriculumShards]]) — no
    * global sort, no single-partition window; key ties break by id,
    * so the schedule is engine-replayable.
    *
    * `weights`: (sourceCol, weight) rows, weights positive. A document
    * whose source is missing from `weights`, NULL, or non-positive
    * fails BY NAME — silently dropping a source from the schedule is a
    * training-mix bug, not a default (a zero-weight source cannot be
    * scheduled; filter it out explicitly first).
    *
    * Scale shape: one broadcast weight join, one SOURCE-keyed rank
    * window, then curriculumShards' bounded-pivot exact rank. */
  def interleaveByWeight(docs: DataFrame, idCol: String, sourceCol: String,
                         weights: DataFrame, numShards: Int,
                         pivots: Int = 256, salt: String = ""): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val w = graft.model.Joins.maybeBroadcast(
      weights.select(col(sourceCol), col("weight").cast("double").as("__w")))
    val joined = docs.join(w, Seq(sourceCol), "left")
      .withColumn("__w",
        when(col("__w").isNull || col("__w") <= 0, raise_error(concat(
          lit("interleaveByWeight: missing or non-positive weight for " +
            "source "),
          coalesce(col(sourceCol).cast("string"), lit("NULL")))))
          .otherwise(col("__w")))
    val perSrc = Window.partitionBy(col(sourceCol))
      .orderBy(graft.operators.Sampling.hashUniform(col(idCol), salt).asc,
        col(idCol).asc)
    val key = row_number().over(perSrc).cast("double") / col("__w")
    Sampling.curriculumShards(joined.withColumn("__key", key), idCol,
      col("__key"), numShards, pivots).drop("__key", "__w")
  }

  /** Pairwise CORPUS-level n-gram overlap between sources, estimated by
    * MinHash over each source's shingle set — "how much does crawl dump A
    * repeat crawl dump B" answered without materializing any doc-level
    * pair join. One k-hash MinHash signature per SOURCE (not per doc):
    * `mh_i(src) = min over src's shingles of h_i(shingle)`, the classic
    * set-level estimator `Ĵ(A,B) = |{i : mh_i(A) = mh_i(B)}| / k`.
    * `min` is duplicate-blind, so no per-source `distinct` is needed —
    * the multiset min equals the set min.
    *
    * Scale shape: ONE scan + one `groupBy(source)` whose k min-aggregates
    * all combine map-side (the shuffle carries ≤ sources × partitions
    * signature rows, never shingles); the pair join runs on the
    * sources-sized signature table (broadcast nested-loop on `<`). Raw
    * shingles never shuffle and no doc pair is ever formed — contrast the
    * doc-level paths in [[graft.operators.Dedup]], which this summarizes,
    * not replaces.
    *
    * Hashes are md5-derived (`tokenHash60` over "i|shingle"), so the
    * estimate itself is engine-portable and the DuckDB oracle replays the
    * VALUES, not just the shape.
    *
    * Output: (src_a, src_b, matches, est_jaccard), src_a < src_b. */
  def sourceOverlap(docs: DataFrame, sourceCol: String, textCol: String,
                    n: Int = 3, k: Int = 32): DataFrame = {
    require(n > 0, s"shingle width must be positive, got $n")
    require(k > 0 && k <= 256, s"k must be in [1, 256], got $k")
    // empty tokens stripped BEFORE shingling: a blank/whitespace doc
    // would otherwise contribute the universal shingle "" to its whole
    // source, manufacturing overlap between disjoint corpora (tokens()
    // on "" yields [""]); token-free docs contribute nothing
    val sh = docs
      .select(col(sourceCol).as("src"),
        array_remove(tokens(col(textCol)), "").as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("src"), explode(shinglesFromTokens(col("toks"), n)).as("s"))
    val mins = (0 until k).map(i =>
      min(tokenHash60(concat(lit(s"$i|"), col("s")))).as(s"mh$i"))
    val sigs = sh.groupBy("src").agg(mins.head, mins.tail: _*)
    val a = sigs.toDF("src_a" +: (0 until k).map(i => s"a$i"): _*)
    val b = sigs.toDF("src_b" +: (0 until k).map(i => s"b$i"): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(graft.model.Joins.maybeBroadcast(b), col("src_a") < col("src_b"))
      .withColumn("matches", matches)
      .withColumn("est_jaccard", round(col("matches") / lit(k.toDouble), 4))
      .select("src_a", "src_b", "matches", "est_jaccard")
  }

  /** Per-source distribution-drift report: KL and Jensen–Shannon
    * divergence of each source's unigram distribution against the whole
    * corpus — the monitoring number behind "did this month's crawl shift
    * vocabulary?" and the corpus-level companion of [[Sampling
    * .importanceResample]]'s per-doc importance weights. [[sourceOverlap]]
    * answers "how much VERBATIM text do sources share"; this answers
    * "how differently do they WRITE" — near-zero JS with low overlap
    * means paraphrased/templated near-duplication that no exact-gram
    * check sees.
    *
    * Vocabulary: the global top-`maxVocab` terms (count desc, term asc —
    * a deterministic, engine-replayable tie-break) kept verbatim; the
    * long tail folds into one `<oov>` bucket (a literal token spelled
    * `<oov>` in the data folds into the same bucket — the merge is
    * deterministic on both engines, so it cannot drift an oracle).
    * Probabilities are add-one smoothed over the B = |vocab| + 1 buckets
    * so zero-count terms contribute finite KL:
    * `P_s(b) = (c_sb + 1) / (n_s + B)`, `Q(b)` the corpus analog;
    * `JS = (KL(P‖M) + KL(Q‖M)) / 2` with `M = (P + Q) / 2` (natural log;
    * JS ∈ [0, ln 2]).
    *
    * Scale shape: ONE token scan feeds a (source, term) census whose
    * counts combine map-side (the [[bm25Index]] shuffle bound — vocab ×
    * sources, never token instances); the top-V cut is a TakeOrdered
    * (per-partition top-V, no global sort); everything after runs on
    * BOUNDED frames — the sources × (V+1) smoothing grid comes from a
    * broadcast cross join of two V-or-smaller sides, and the divergence
    * sums reduce that grid. Raw text never shuffles.
    *
    * Output: (sourceCol, tokens, kl, js), divergences rounded to 6 (the
    * grid is ≤ V+1 terms per source, so float re-association noise is
    * orders below the rounding step). */
  def divergenceReport(docs: DataFrame, sourceCol: String, textCol: String,
                       maxVocab: Int = 512): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be positive, got $maxVocab")
    // a NULL source is a real group (mirrors unimaxAllocation), but the
    // equi-joins below never match NULL = NULL — so key the whole
    // pipeline on a prefix-encoded non-null surrogate ("0" for NULL,
    // "1" + value otherwise: collision-proof) and map back via a
    // sources-sized broadcast at the end. The surrogate is built in the
    // SAME projection as the explode (computed once per doc, replicated
    // by Generate — never per token), and nothing extra rides the
    // census shuffle: the map-back table comes from its own
    // column-pruned, sources-bounded distinct over the input.
    def surrogate(c: Column): Column = when(c.isNull, lit("0"))
      .otherwise(concat(lit("1"), c.cast("string")))
    val census = docs
      .select(surrogate(col(sourceCol)).as("src"),
        explode(array_remove(tokens(col(textCol)), "")).as("term"))
      .groupBy("src", "term").agg(count(lit(1)).as("c"))
    // the literal token '<oov>' can never be a KEPT vocabulary term —
    // it must fold into the tail bucket (otherwise a corpus where it
    // makes the top-V would put '<oov>' into `buckets` twice and
    // double-count that bucket in the smoothing grid)
    val topV = census.filter(col("term") =!= "<oov>")
      .groupBy("term").agg(sum("c").as("ct"))
      .orderBy(col("ct").desc, col("term").asc)
      .limit(maxVocab)
      .select("term")
    // fold the tail into <oov> BEFORE the grid: the re-aggregation keyed
    // by (src, bucket) is bounded by sources × (V+1)
    val bucketed = census
      .join(graft.model.Joins.maybeBroadcast(
        topV.withColumn("__kept", lit(true))), Seq("term"), "left")
      .withColumn("b", when(col("__kept"), col("term")).otherwise(lit("<oov>")))
      .groupBy("src", "b").agg(sum("c").as("c"))
    // sources-sized surrogate→original map (column-pruned scan)
    val srcMap = docs.select(col(sourceCol).as("__srco")).distinct()
      .select(surrogate(col("__srco")).as("src"), col("__srco"))
    val buckets = topV.select(col("term").as("b"))
      .unionAll(docs.sparkSession.range(1).select(lit("<oov>").as("b")))
    val nb = buckets.agg(count(lit(1)).as("bn"))
    val srcs = bucketed.select("src").distinct()
    val grid = srcs
      .crossJoin(graft.model.Joins.maybeBroadcast(buckets))
      .join(bucketed.select("src", "b", "c"), Seq("src", "b"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val perSrc = grid.groupBy("src").agg(sum("c").as("n_s"))
    val global = grid.groupBy("b").agg(sum("c").as("cg"))
    val totals = global.agg(sum("cg").as("n_g"))
    val p = col("c") + lit(1.0)
    val q = col("cg") + lit(1.0)
    val scored = grid
      .join(graft.model.Joins.maybeBroadcast(perSrc), Seq("src"))
      .join(graft.model.Joins.maybeBroadcast(global), Seq("b"))
      .crossJoin(graft.model.Joins.maybeBroadcast(nb))
      .crossJoin(graft.model.Joins.maybeBroadcast(totals))
      .withColumn("ps", p / (col("n_s") + col("bn")))
      .withColumn("qs", q / (col("n_g") + col("bn")))
      .withColumn("ms", (col("ps") + col("qs")) / lit(2.0))
    scored.groupBy("src")
      .agg(
        // the grid carries every bucket for every source, so n_s is
        // recoverable from any row; max = the constant
        max(col("n_s")).as("tokens"),
        round(sum(col("ps") * log(col("ps") / col("qs"))), 6).as("kl"),
        round(sum(col("ps") * log(col("ps") / col("ms"))
          + col("qs") * log(col("qs") / col("ms"))) / lit(2.0), 6).as("js"))
      .join(graft.model.Joins.maybeBroadcast(srcMap), Seq("src"))
      .select(col("__srco").as(sourceCol), col("tokens"), col("kl"),
        col("js"))
  }

  /** STAGE-YIELD FUNNEL over a composed pipeline's stage boundaries —
    * how a curation chain is actually debugged in production: one row
    * per stage with the gate name, the doc/token mass entering and
    * leaving it, and the drop attribution. `stages` is the ordered list
    * of (gate name, stage-output frame, token-count column evaluated on
    * that frame); each row's `*_in` is the PREVIOUS stage's `*_out`
    * (the first row — conventionally the raw input census — has NULL
    * ins and drops).
    *
    * Scale shape: ONE count+sum aggregation per stage (riding whatever
    * localCheckpoint cuts the chain already materializes — counting at
    * a materialized boundary is nearly free), unioned into a
    * stage-count-sized frame; the in/out pairing is a lag window over
    * those K rows (one partition BY CONSTRUCTION, the bounded-frame
    * doctrine). No data-sized shuffle, no second pass over any stage.
    *
    * Output: (stage, gate, docs_in, docs_out, tokens_in, tokens_out,
    * dropped_docs, dropped_tokens) — all counts exact longs. */
  def stageFunnel(stages: Seq[(String, DataFrame, Column)]): DataFrame = {
    require(stages.nonEmpty, "stageFunnel needs at least one stage")
    require(stages.map(_._1).distinct.size == stages.size,
      s"stageFunnel: duplicate gate names in ${stages.map(_._1)}")
    val perStage = stages.zipWithIndex.map { case ((gate, df, tokens), i) =>
      df.agg(count(lit(1)).as("docs"),
        coalesce(sum(tokens.cast("long")), lit(0L)).as("tokens"))
        .select(lit(i + 1).as("stage"), lit(gate).as("gate"),
          col("docs"), col("tokens"))
    }.reduce(_.unionByName(_))
    val w = Window.orderBy(col("stage").asc)
    perStage.select(col("stage"), col("gate"),
      lag(col("docs"), 1).over(w).as("docs_in"),
      col("docs").as("docs_out"),
      lag(col("tokens"), 1).over(w).as("tokens_in"),
      col("tokens").as("tokens_out"),
      (lag(col("docs"), 1).over(w) - col("docs")).as("dropped_docs"),
      (lag(col("tokens"), 1).over(w) - col("tokens")).as("dropped_tokens"))
  }
}
