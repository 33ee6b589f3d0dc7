package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset-split operators for training-data
  * pipelines (north-star extension; no reference-repo counterpart).
  *
  * Everything here is a pure per-row projection/filter on an md5-derived
  * uniform — NO shuffle, no state, no RNG:
  *
  *  - the same row lands in the same split/sample on every run, every
  *    engine, and every cluster size (a `rand()`-based split changes
  *    membership per run and per partitioning — useless for a train/eval
  *    contract that must hold across reprocessing);
  *  - filters compose with scan pruning: sampling a parquet table is a
  *    single codegen'd scan-project-filter, so a 1% sample of 100 TB
  *    reads row groups once and shuffles nothing;
  *  - md5 (not xxhash64) so any engine can reproduce membership
  *    bit-for-bit — the DuckDB oracle checks the split assignment itself.
  */
object Sampling {

  /** Uniform [0, 1) from the first 60 bits of md5(salt ++ id) — the SAME
    * portable-hash arithmetic as [[graft.functions.TextFunctions.tokenHash60]]
    * (reused, not re-implemented: the oracle contract requires the two to
    * stay bit-identical): 15 hex digits → long → /2^60. Collision-free
    * enough for sampling; exactly reproducible in SQL as
    * `CAST('0x' || substr(md5(salt || CAST(id AS VARCHAR)), 1, 15) AS
    * BIGINT) / 1152921504606846976.0`.
    *
    * NULL ids hash as the empty string (coalesce) so every null-id row
    * deterministically gets the SAME uniform — they travel together into
    * one split / one sampling outcome instead of silently vanishing from
    * filters (null comparisons are null) while being assigned by
    * `otherwise` branches. */
  def hashUniform(id: Column, salt: String = ""): Column =
    graft.functions.TextFunctions
      .tokenHash60(concat(lit(salt), coalesce(id.cast("string"), lit(""))))
      .cast("double") / lit(1152921504606846976.0) // 2^60

  /** Add a `split` column assigning each row to one of `splits` by hash of
    * its id — the reproducible train/val/test split. Weights must sum to 1;
    * assignment is by cumulative threshold on [[hashUniform]], so a row's
    * split depends only on (salt, id) — stable under reprocessing,
    * repartitioning, and engine choice. Change `salt` to draw a fresh
    * independent split without touching the data.
    *
    * Leakage-safe GROUP splits are the same call keyed by the group
    * column (`assignSplit(df, "source")`): every row of a group hashes
    * identically, so the whole group lands in ONE split — near-dup
    * documents sharing a crawl source can never straddle train/test. */
  def assignSplit(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)] =
                    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                  salt: String = ""): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0), "split weights must be non-negative")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val u = hashUniform(col(idCol), salt)
    // cumulative thresholds in EXACT decimal arithmetic: double
    // accumulation gives 0.8+0.1 = 0.9000000000000001, which would
    // disagree with the documented SQL contract's literal `u < 0.9` for
    // hashes landing exactly between the two doubles
    val cum = splits.scanLeft(BigDecimal(0)) {
      case (acc, (_, w)) => acc + BigDecimal(w.toString)
    }.tail.map(_.toDouble)
    val assign = splits.init.zip(cum.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), threshold), rest) => when(u < threshold, name).otherwise(rest)
    }
    df.withColumn("split", assign)
  }

  /** Stratified deterministic sample: a per-stratum rate (e.g. language →
    * keep fraction for corpus rebalancing), `defaultRate` for strata not
    * listed. Same per-row projection shape — the rate lookup is a chained
    * `when`, not a join, so strata count in the hundreds stays a single
    * codegen'd stage. */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           rates: Map[String, Double],
                           defaultRate: Double = 0.0,
                           salt: String = ""): DataFrame = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0 && r <= 1),
      "rates must be in [0,1]")
    val rate = rates.toSeq.sortBy(_._1).foldRight(lit(defaultRate): Column) {
      case ((stratum, r), rest) => when(col(strataCol) === stratum, r).otherwise(rest)
    }
    df.filter(hashUniform(col(idCol), salt) < rate)
  }

  /** EXACT-quota stratified sample: exactly `min(quota_s, |stratum_s|)`
    * rows per stratum, strata without a quota dropped — the exact
    * counterpart of [[stratifiedHashSample]]'s Bernoulli rates, for when
    * the budget is a row COUNT that must be hit exactly (eval-set
    * construction, per-source caps in a training mix). Selection is the
    * quota-prefix of the per-stratum ranking by ([[hashUniform]], id):
    * deterministic, engine-portable (the oracle reproduces it in SQL),
    * and PREFIX-MONOTONE — raising a quota only ADDS rows, so nested
    * sample sizes nest as subsets, the property repeated-Bernoulli
    * sampling gives up.
    *
    * Scale shape: one shuffle on the stratum key + a keyed rank window —
    * no global sort, no driver-side quota loop; the quota lookup is a
    * map literal, evaluated per-row in codegen. Per-stratum row counts
    * can be huge, but the window only ranks — state is O(1) per row.
    * A skew-heavy stratum is one partition's sort: acceptable for quota
    * sampling (the output is quota-bounded), but pre-aggregate if a
    * single stratum exceeds an executor's spill budget. */
  def stratifiedExactSample(df: DataFrame, idCol: String, strataCol: String,
                            quotas: Map[String, Int],
                            salt: String = ""): DataFrame = {
    require(quotas.values.forall(_ >= 0), "quotas must be non-negative")
    val quota = element_at(typedLit(quotas), col(strataCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(hashUniform(col(idCol), salt).asc, col(idCol).asc)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= coalesce(quota, lit(0)))
      .drop("__rank")
  }

  /** Sample a temperature-weighted training MIX to a token budget — the
    * corpus-mix constructor: per-source keep rates
    * `r_s = min(1, budget·w_s / tokens_s)` with `w_s ∝ tokens_s^T`
    * ([[Corpus.mixingWeights]]), membership by the same deterministic
    * hash as every sampler here. Expected sampled token mass per source
    * ≈ budget·w_s; a source too small for its share saturates at rate 1
    * and contributes everything it has.
    *
    * The driver collects ONE row per source (the weights aggregate —
    * dozens of rows at any corpus size) to build the rate lookup; the
    * sampling itself remains a per-row scan filter, so drawing a mix
    * from 100 TB is one codegen'd scan with no shuffle. */
  def sampleToBudget(docs: DataFrame, idCol: String, sourceCol: String,
                     tokenCol: Column, budgetTokens: Long,
                     temperature: Double = 0.7, salt: String = ""): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val rates = Corpus.mixingWeights(docs, sourceCol, tokenCol, temperature)
      .collect() // one row per source — driver-bound by design
      .flatMap { r =>
        // a NULL source key or a null/zero token total contributes NOTHING
        // (defaultRate 0) instead of crashing the rate build or yielding a
        // NaN rate from 0/0 — mirrors stratifiedHashSample's `=== stratum`
        // null semantics and the oracle's inner join
        (Option(r.get(0)), if (r.isNullAt(1)) None else Some(r.getLong(1))) match {
          case (Some(src), Some(tokens)) if tokens > 0 =>
            Some(src.toString ->
              math.min(1.0, budgetTokens.toDouble * r.getDouble(2) / tokens))
          case _ => None
        }
      }
      .toMap
    stratifiedHashSample(docs, idCol, sourceCol, rates,
      defaultRate = 0.0, salt = salt)
  }

  /** Diversity (cluster-balanced) sampling: keep at most `quota` rows
    * per value of `clusterCol`, chosen by ascending
    * ([[hashUniform]]-style md5 hash, id) — deterministic, unbiased
    * within a cluster, and exactly reproducible in SQL. Paired with
    * [[Clustering.assign]] this is the standard "flatten the cluster
    * histogram" curation step (big boilerplate clusters contribute the
    * same number of examples as rare ones).
    *
    * Scale shape: the bounded per-cluster top-k
    * ([[graft.model.Aggregators.topKByScore]]: the heap for integral
    * ids, the built-in window limit for any other id type) — a shuffle
    * carries at most `quota` (hash, id) pairs per (partition, cluster),
    * never the rows; survivors join back by id, in the id's own type
    * (size-guarded broadcast under AQE). Selection order is
    * (score desc, id asc) over score = −hash-as-double, i.e. ascending
    * hash with id tie-break — ties from the 60-bit→double narrowing
    * break identically in any engine that sorts (CAST(hash AS DOUBLE),
    * id). */
  def diversitySample(df: DataFrame, idCol: String, clusterCol: String,
                      quota: Int, salt: String = ""): DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    val hash = graft.functions.TextFunctions.tokenHash60(
      concat(lit(salt), coalesce(col(idCol).cast("string"), lit(""))))
    // a null id can't be silently hashed/dropped — fail the job, named
    val id = when(col(idCol).isNull,
      raise_error(lit(s"diversitySample: null id in column $idCol")))
      .otherwise(col(idCol))
    val keep = graft.model.Aggregators.topKByScore(
      df.select(col(clusterCol), id.as("__id"),
        (-hash.cast("double")).as("__score")),
      Seq(clusterCol), "__score", "__id", quota)
    df.join(
      graft.model.Joins.maybeBroadcast(keep.select(col("__id"))),
      col(idCol) === col("__id"), "left_semi")
  }

  /** Importance resampling toward a target distribution (the DSIR
    * recipe — Xie et al., "Data Selection for Language Models via
    * Importance Resampling", NeurIPS 2023): score every raw document by
    * the log-likelihood ratio of a hashed-unigram bag-of-words model of
    * the TARGET corpus vs the RAW corpus (add-one-smoothed over
    * `buckets` hash buckets), then draw the `budget` documents with the
    * top Gumbel-perturbed scores — equivalent to sampling without
    * replacement ∝ the importance weights, but fully deterministic:
    * the Gumbel noise comes from the md5 uniform ([[hashUniform]]), so
    * membership is reproducible across runs, cluster sizes, and engines.
    *
    * Scale shape: two explode→count scans whose shuffles carry at most
    * `buckets` rows after partial aggregation (the driver collects the
    * ≤ `buckets`-row histograms to build the log-ratio literal — the
    * same bounded-collect contract as k-means centroids); scoring is a
    * pure per-row projection (an `aggregate` lambda over the token
    * array against the broadcast-literal ratio table — no join, no
    * shuffle); selection is TakeOrdered on the budget, never a global
    * sort. Both `logw` and the selection key are rounded to 4 decimals
    * so token-summation order can't flip membership between engines.
    *
    * Output: the selected raw rows plus `logw` (the rounded log-ratio
    * score) and `g_key` (the rounded Gumbel selection key). */
  def importanceResample(raw: DataFrame, target: DataFrame, idCol: String,
                         textCol: String, budget: Int, buckets: Int = 1024,
                         salt: String = "", ngrams: Int = 1): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(buckets > 0 && buckets <= (1 << 20),
      s"buckets must be in [1, 2^20], got $buckets")
    require(ngrams == 1 || ngrams == 2,
      s"ngrams must be 1 (unigram) or 2 (unigram+bigram), got $ngrams")
    def toks(c: Column) =
      array_remove(graft.functions.TextFunctions.tokens(c), "")
    // the paper's stronger feature set (`ngrams = 2`): token BIGRAMS
    // hash into the SAME bucket space alongside the unigrams — word
    // order becomes signal (a scrambled decoy corpus with identical
    // unigram counts separates; PipelineOpsSpec pins it).
    //
    // `t` must be a MATERIALIZED column (attribute ref), never the raw
    // tokenize subtree: higher-order-function lambdas re-evaluate every
    // expression inside their body per element, so an embedded
    // regex-split would run O(tokens) times per row — measured 17× on
    // the q111 bench line before this was hoisted. The bigram shift is
    // a zip_with over t and its 2.. tail (lambda sees element VARIABLES
    // only); the zip null-pads the shorter side and concat_ws would
    // silently drop the null (a phantom trailing unigram), so the
    // result is sliced back to n−1.
    def featsOf(t: Column) =
      if (ngrams == 1) t
      else {
        val n1 = greatest(size(t) - 1, lit(0))
        concat(t, slice(
          zip_with(t, slice(t, lit(2), n1), (a, b) => concat_ws(" ", a, b)),
          lit(1), n1))
      }
    def bucketOf(w: Column) =
      pmod(graft.functions.TextFunctions.tokenHash60(w), lit(buckets))
        .cast("int")
    def histogram(df: DataFrame): Map[Int, Long] =
      df.select(toks(col(textCol)).as("__dsir_toks"))
        .select(explode(featsOf(col("__dsir_toks"))).as("w"))
        .groupBy(bucketOf(col("w")).as("b"))
        .agg(count(lit(1)).as("c"))
        .collect() // ≤ buckets rows — driver-bound by design
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the two bounded histogram collects are independent scans — overlap
    // them (guide §2.6); at scale the target scan back-fills the raw
    // scan's tail
    val hists = graft.util.Par.run(Seq(
      () => histogram(raw), () => histogram(target)))
    val (cr, ct) = (hists(0), hists(1))
    val totR = cr.values.sum.toDouble
    val totT = ct.values.sum.toDouble
    val ratio: Seq[Double] = (0 until buckets).map { b =>
      math.log((ct.getOrElse(b, 0L) + 1.0) / (totT + buckets)) -
        math.log((cr.getOrElse(b, 0L) + 1.0) / (totR + buckets))
    }
    val ratioLit = typedLit(ratio)
    val logw = round(aggregate(featsOf(col("__dsir_toks")), lit(0.0),
      (acc, w) => acc + element_at(ratioLit, bucketOf(w) + 1)), 4)
    val gumbel = -log(-log(hashUniform(col(idCol), salt)))
    raw.withColumn("__dsir_toks", toks(col(textCol)))
      .withColumn("logw", logw)
      .drop("__dsir_toks")
      .withColumn("g_key", round(col("logw") + gumbel, 4))
      .orderBy(col("g_key").desc, col(idCol).asc)
      .limit(budget)
  }

  /** Deterministic global shuffle into `numShards` ordered shards — the
    * training-data EXPORT step: every row gets a `shard` in
    * [0, numShards) and a dense `pos` within its shard, both pure
    * functions of (salt, id), so the shuffled order is bit-stable under
    * reprocessing, repartitioning, and engine choice (a `rand()`-ordered
    * export is a different dataset every run — useless for resumable
    * training). Shard assignment and within-shard order use INDEPENDENT
    * hash draws (`salt` vs `salt|pos`), so position within a shard is
    * uncorrelated with the assignment.
    *
    * Scale shape: one shuffle on the shard key + one shard-keyed
    * ranking window — no global sort. Size `numShards` so a shard's
    * rows fit an executor's sort spill budget (at 100 TB that means
    * thousands of shards, which is what a training loader wants anyway);
    * the window carries rank state only, never buffers the shard. The
    * contract is SELF-ENFORCING: any shard exceeding `maxShardRows`
    * raises a named error at execution time (zero extra jobs — the
    * check rides the position column), so an undersized `numShards`
    * over a huge corpus fails loudly instead of silently handing one
    * executor a corpus-sized sort. */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
                    salt: String = "",
                    maxShardRows: Long = DefaultMaxShardRows): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    require(maxShardRows > 0, s"maxShardRows must be positive, got $maxShardRows")
    // least() guard: u < 1 strictly, but u·n can ROUND to n in double —
    // the guard is identical arithmetic on the oracle side
    val shard = least(floor(hashUniform(col(idCol), salt) * numShards),
      lit(numShards - 1)).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(hashUniform(col(idCol), salt + "|pos").asc, col(idCol).asc)
    val pos = (row_number().over(w) - 1).cast("long")
    df.withColumn("shard", shard)
      .withColumn("pos", when(pos >= maxShardRows,
        raise_error(concat(lit("shuffleShards: shard "),
          col("shard").cast("string"),
          lit(s" exceeds maxShardRows=$maxShardRows — raise numShards " +
            "(target rows/numShards to the executor sort spill budget) " +
            "or raise maxShardRows explicitly"))).cast("long"))
        .otherwise(pos))
  }

  /** Default per-shard row bound for [[shuffleShards]]: 2^27 ≈ 134M rows
    * keeps a one-task shard sort within a few GB of spill for typical
    * row widths; exports with wide rows should pass a lower bound. */
  val DefaultMaxShardRows: Long = 1L << 27

  /** GPT-style SEQUENCE PACKING — the pretraining export's last mile:
    * lay the corpus out in the deterministic md5-shuffled order (the
    * [[shuffleShards]] key doctrine: depends only on (salt, id), stable
    * under reprocessing), CONCATENATE it conceptually, and cut every
    * `seqLen` tokens; a document spans exactly the training sequences
    * its token interval covers (boundary splits are the standard
    * contract — no padding waste, no doc loss).
    *
    * Output per doc: `n_tokens`, `start` (0-based offset of the doc's
    * first token in the global stream), `seq_first`/`seq_last` (the
    * sequence ids covering it; NULL for token-free docs — they occupy
    * no interval). Integral `div` end to end, so the assignment is
    * exact past 2^53 tokens and an external SQL window replays it.
    *
    * Scale shape: ONE exact distributed running total
    * ([[Layout.prefixSum]] — range partition on the shuffle key, KEYED
    * windows, a ≤ numPartitions offsets collect; no global sort, no
    * single-partition window), then per-row arithmetic. Negative token
    * counts fail by name in-plan. */
  def packSequences(df: DataFrame, idCol: String, tokenCol: Column,
                    seqLen: Long, salt: String = "",
                    numPartitions: Option[Int] = None): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val keyed = df.select(col(idCol),
      when(tokenCol.cast("long") < 0, raise_error(concat(
        lit("packSequences: negative token count for "),
        col(idCol).cast("string")))).otherwise(tokenCol.cast("long"))
        .as("n_tokens"))
      .withColumn("__u", hashUniform(col(idCol), salt))
    val summed = graft.operators.Layout.prefixSum(keyed,
      Seq("__u", idCol), "n_tokens", "__cum", numPartitions)
    summed
      .withColumn("start", col("__cum") - col("n_tokens"))
      .select(col(idCol), col("n_tokens"), col("start"),
        expr(s"CASE WHEN n_tokens > 0 THEN start div ${seqLen}L END")
          .as("seq_first"),
        expr(s"CASE WHEN n_tokens > 0 THEN (__cum - 1L) div ${seqLen}L END")
          .as("seq_last"))
  }

  /** DOC-BOUNDARY-RESPECTING sequence packing — the other standard
    * export shape next to [[packSequences]]: no document ever crosses a
    * sequence boundary (the instruction-tuning / contamination-sensitive
    * pretraining contract), short docs are bin-packed to bound padding
    * waste, and the whole assignment is deterministic, exact-integral,
    * and SQL-replayable (no sequential first-fit state).
    *
    * The algorithm is harmonic length-bucketing: a doc of `len` tokens
    * (0 < len ≤ seqLen) lands in bucket `b = seqLen div len` — b docs of
    * its bucket always fit one sequence (each is ≤ seqLen div b tokens),
    * so bucket b fills sequences b docs at a time in the deterministic
    * md5-shuffled (hash, id) order. Every FULL sequence of bucket b is
    * > b/(b+1) full (each doc is > seqLen/(b+1) tokens), so padding
    * waste per full sequence is < seqLen/(b+1) — the worst case is the
    * (seqLen/2, seqLen] bucket at < half a sequence, exactly the bound
    * first-fit-decreasing gives without its sequential scan. Sequences
    * number densely: buckets ascending, then fill order within the
    * bucket; at most one partial (under-filled beyond the bound)
    * sequence exists per OCCUPIED bucket.
    *
    * Docs longer than `seqLen` have no boundary-respecting assignment:
    * they fail BY NAME unless `truncate = true` caps them at `seqLen`
    * (the output's `n_tokens` is the KEPT count). Zero-token docs get a
    * NULL (seq, off) — they occupy no interval, the [[packSequences]]
    * convention; a NULL token count flows through the same way (NULL
    * n_tokens, NULL assignment — also the packSequences convention),
    * so coalesce upstream if unknown counts should be an error.
    *
    * Output per doc: `n_tokens`, `seq` (global 0-based sequence id),
    * `off` (token offset inside the sequence; `off + n_tokens ≤
    * seqLen` always).
    *
    * Scale shape: one exact distributed rank ([[Layout.prefixSum]] over
    * (bucket, hash, id) — range partition + keyed windows, no global
    * sort), ONE bucket census collect (⌊seqLen/len⌋ takes ≤ ~2·√seqLen
    * distinct values — the classic divisor bound, a property of seqLen,
    * not the corpus), and one window KEYED by the sequence id (≤ seqLen
    * rows per partition by construction) for the in-sequence offsets.
    * Ids must be unique (the rank tie-breaker, as [[curriculumShards]]). */
  def packSequencesBinned(df: DataFrame, idCol: String, tokenCol: Column,
                          seqLen: Long, salt: String = "",
                          truncate: Boolean = false,
                          numPartitions: Option[Int] = None): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val raw = tokenCol.cast("long")
    val nonNeg = when(raw < 0, raise_error(concat(
      lit("packSequencesBinned: negative token count for "),
      col(idCol).cast("string")))).otherwise(raw)
    val bounded =
      if (truncate) least(nonNeg, lit(seqLen))
      else when(nonNeg > seqLen, raise_error(concat(
        lit("packSequencesBinned: document "), col(idCol).cast("string"),
        lit(s" exceeds seqLen=$seqLen tokens and truncate=false — no " +
          "boundary-respecting assignment exists; chunk it first or " +
          "pass truncate=true"))).cast("long"))
        .otherwise(nonNeg)
    val keyed = df.select(col(idCol), bounded.as("n_tokens"))
      .withColumn("__u", hashUniform(col(idCol), salt))
      .withColumn("__bkt",
        expr(s"CASE WHEN n_tokens > 0 THEN ${seqLen}L div n_tokens END"))
      .withColumn("__one", lit(1L))
    // exact global 1-based rank in (bucket asc nulls-first, hash, id)
    // order — within a bucket this is the deterministic fill order
    val ranked = graft.operators.Layout.prefixSum(keyed,
      Seq("__bkt", "__u", idCol), "__one", "__rk", numPartitions)
    // bucket census: ≤ ~2·√seqLen + 1 rows (divisor-count bound) — the
    // collect is bounded by the seqLen CHOICE, independent of corpus size
    val counts = ranked.groupBy("__bkt").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        r.getLong(1))
      .sortBy(_._1.getOrElse(Long.MinValue)) // NULL bucket ranks first
    // driver cumsums over the census: each bucket's global row offset
    // (rows of every earlier bucket in rank order, NULL group included)
    // and its first global sequence id (sequences number buckets
    // ascending; bucket b mints ceil(count/b) of them)
    var rowAcc = 0L
    var seqAcc = 0L
    val rowOff = Map.newBuilder[Long, Long]
    val seqOff = Map.newBuilder[Long, Long]
    counts.foreach { case (bOpt, c) =>
      bOpt.foreach { b =>
        rowOff += b -> rowAcc
        seqOff += b -> seqAcc
        seqAcc += (c + b - 1) / b
      }
      rowAcc += c
    }
    val rowOffLit = typedLit(rowOff.result())
    val seqOffLit = typedLit(seqOff.result())
    // 0-based rank within the bucket → which of the bucket's sequences
    // (exact integral div, the oracle's `//`)
    val rkInBucket = col("__rk") - lit(1L) -
      element_at(rowOffLit, col("__bkt"))
    val seqId = when(col("n_tokens") > 0,
      element_at(seqOffLit, col("__bkt")) +
        call_function("div", rkInBucket, col("__bkt")))
    val withSeq = ranked.withColumn("seq", seqId)
    // in-sequence offsets: a window KEYED by seq (≤ bucket-capacity ≤
    // seqLen rows per partition). Zero-token docs are kept OUT of the
    // window input — they would otherwise pool into one NULL-seq
    // partition of unbounded size.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seq"))
      .orderBy(col("__u").asc, col(idCol).asc)
    val packed = withSeq.filter(col("seq").isNotNull)
      .withColumn("off", coalesce(
        sum(col("n_tokens")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
    val empty = withSeq.filter(col("seq").isNull)
      .withColumn("off", lit(null).cast("long"))
    packed.unionByName(empty)
      .select(col(idCol), col("n_tokens"), col("seq"), col("off"))
  }

  /** Materialize [[packSequencesBinned]] as the on-disk training
    * export: parquet hive-partitioned by `shard = seq % numShards`
    * (round-robin — shards stay balanced whatever the bucket mix), each
    * shard's rows laid down in (seq, off) order, so a training loader
    * streams `shard=k/` sequentially and reads whole sequences in
    * boundary-respecting token order with no reader-side sort (the
    * [[writeAssigned]] contract). Zero-token docs occupy no interval
    * and are not exported. Adds one repartition on the shard key beyond
    * the packing's own work. */
  def writePackedBinned(df: DataFrame, idCol: String, tokenCol: Column,
                        seqLen: Long, numShards: Int, path: String,
                        salt: String = "",
                        truncate: Boolean = false): Unit =
    writeBinnedAssignment(
      packSequencesBinned(df, idCol, tokenCol, seqLen, salt, truncate),
      numShards, path)

  /** The [[writePackedBinned]] landing step over an ALREADY-computed
    * [[packSequencesBinned]] assignment — shared with the tokenizer-true
    * export so a caller holding the packed frame doesn't re-derive it. */
  private def writeBinnedAssignment(packed: DataFrame, numShards: Int,
                                    path: String): Unit = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    packed
      .filter(col("seq").isNotNull)
      .withColumn("shard", pmod(col("seq"), lit(numShards.toLong)).cast("int"))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("seq"), col("off"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** TOKENIZER-TRUE boundary-respecting packing: compose a trained
    * subword tokenizer's distributed encode with [[packSequencesBinned]]
    * — sequence capacity is budgeted in REAL tokenizer tokens (the
    * counts the training loader will actually see), not word or char
    * proxies. `exactOov = true` (default) makes the counts equal the
    * driver tokenizer for EVERY word, OOV included.
    *
    * ONE MATERIALIZATION: the encode DAG (corpus explode + vocab join +
    * per-doc aggregate) is eagerly `localCheckpoint`ed before packing —
    * the packing's rank, bucket census, and offset window otherwise each
    * re-derive the full encode per consumer (the composed-chain doctrine;
    * see the stage-yield funnel's shared-frames move). The returned
    * frame's plan reads the checkpoint, never the raw corpus.
    *
    * Returns the packed assignment (`idCol`, n_tokens, seq, off) with
    * `n_tokens` the KEPT (possibly truncated) tokenizer token count. */
  def packTokenizedBpe(docs: DataFrame, idCol: String, textCol: String,
                       model: graft.operators.Bpe.BpeModel, seqLen: Long,
                       salt: String = "", truncate: Boolean = true,
                       exactOov: Boolean = true): DataFrame =
    packCheckpointedCounts(
      graft.operators.Bpe.encodeTokenCounts(docs, idCol, textCol, model,
        exactOov),
      idCol, "n_bpe_tokens", seqLen, salt, truncate)

  /** [[packTokenizedBpe]] over a trained unigram-LM tokenizer
    * ([[graft.operators.Bpe.UnigramModel]]) — same composition, same
    * one-materialization contract. */
  def packTokenizedUnigram(docs: DataFrame, idCol: String, textCol: String,
                           model: graft.operators.Bpe.UnigramModel,
                           seqLen: Long, salt: String = "",
                           truncate: Boolean = true,
                           exactOov: Boolean = true): DataFrame =
    packCheckpointedCounts(
      graft.operators.Bpe.unigramTokenCounts(docs, idCol, textCol, model,
        exactOov),
      idCol, "n_uni_tokens", seqLen, salt, truncate)

  private def packCheckpointedCounts(counts0: DataFrame, idCol: String,
                                     tokenCol: String, seqLen: Long,
                                     salt: String,
                                     truncate: Boolean): DataFrame = {
    val counts = counts0.select(col(idCol), col(tokenCol))
      .transform(graft.util.Stage.materialize)
    packSequencesBinned(counts, idCol, col(tokenCol), seqLen, salt,
      truncate)
  }

  /** Land a tokenizer-true packed assignment ([[packTokenizedBpe]] /
    * [[packTokenizedUnigram]] output) as the on-disk training export —
    * the [[writePackedBinned]] layout (hive-partitioned round-robin
    * shards, (seq, off)-ordered within each) WITHOUT re-deriving the
    * packing. Returns the packed frame it wrote, for verdicts/joins. */
  def writePackedTokenized(packed: DataFrame, numShards: Int,
                           path: String): DataFrame = {
    writeBinnedAssignment(packed, numShards, path)
    packed
  }

  /** Materialize ANY (shard, pos)-assigned frame ([[shuffleShards]],
    * [[curriculumShards]]) as the loader-ready layout: parquet
    * hive-partitioned by `shard`, each shard's rows laid down in `pos`
    * order (repartition on the shard key → sortWithinPartitions → one
    * writer and ONE ordered file per shard), so a training loader
    * streams `shard=k/` sequentially with no reader-side sort. Adds
    * nothing beyond the assignment's own shuffles — the
    * within-partition sort feeds the writer directly. */
  def writeAssigned(assigned: DataFrame, numShards: Int, path: String): Unit = {
    require(assigned.columns.contains("shard") && assigned.columns.contains("pos"),
      "writeAssigned expects a (shard, pos)-assigned frame " +
        "(shuffleShards / curriculumShards output)")
    assigned
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Leakage-safe split: near-dup CLUSTERS travel together, so a
    * document can never sit in `train` while its near-duplicate sits in
    * `test` (the eval-contamination hole a plain per-id hash split
    * leaves open — the GPT-3 appendix problem). The split key is the
    * document's connected-component root over `pairs` (any near-dup
    * pair set: LSH, SimHash, embedding), falling back to the id for
    * unclustered docs, then the SAME md5 threshold arithmetic as
    * [[assignSplit]] — so on a pair-free corpus this IS `assignSplit`,
    * bit for bit.
    *
    * Scale shape: the closure runs on the PAIR graph (never the
    * corpus); the root table is cluster-membership-sized and joins back
    * size-guarded-broadcast. Split assignment stays a pure per-row
    * projection — reprocessing-stable, engine-portable.
    *
    * Output: input columns + `split`. */
  def leakSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                    splits: Seq[(String, Double)] =
                      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                    salt: String = "",
                    componentsDf: Option[DataFrame] = None): DataFrame = {
    // componentsDf: a PRECOMPUTED closure of `pairs` (the build-once
    // cache shape — see Dedup.dropNearDupsWith); when absent the split
    // closes the pairs itself
    val roots = componentsDf
      .getOrElse(Dedup.connectedComponents(pairs))
      .toDF("__lss_id", "__lss_root")
    val keyed = df
      .join(graft.model.Joins.maybeBroadcast(roots),
        col(idCol) === col("__lss_id"), "left")
      .withColumn("__lss_key", coalesce(col("__lss_root"), col(idCol)))
    assignSplit(keyed, "__lss_key", splits, salt)
      .drop("__lss_id", "__lss_root", "__lss_key")
  }

  /** Curriculum export: EXACT global rank by (score asc, id asc) turned
    * into balanced worker shards — `shard = rank % numShards`,
    * `pos = rank / numShards` — so W data-parallel loaders each reading
    * their shard in `pos` order consume the corpus in interleaved global
    * score order (the length/quality-curriculum layout). The rank is
    * exact, yet NO global single-partition sort ever runs:
    *
    *   1. pick `pivots` boundary rows deterministically (smallest
    *      md5-uniform draws — a TakeOrdered, collect is `pivots`-bounded);
    *   2. bucket every row by "# pivots lexicographically ≤ (score, id)"
    *      — a pure per-row loop over the pivot LITERALS (one compact
    *      `aggregate` over a literal array, same codegen-budget shape as
    *      the DSIR ratio lookup), so the assignment is identical in every
    *      job that evaluates it, with no cached partitioner state;
    *   3. count rows per bucket (collect is ≤ pivots+1 rows), cumsum
    *      driver-side into offset literals;
    *   4. rank = offset(bucket) + row_number within the bucket — the one
    *      window is KEYED by bucket, and buckets are range-disjoint in
    *      (score, id), so local order + offset IS the exact global rank.
    *
    * Size `pivots` to ≥ 4× the target parallelism (a bucket is one
    * task's sort, expected rows/pivots each); any bucket over
    * `maxBucketRows` fails by name at the (free) counts step instead of
    * silently handing one executor an outsized sort. Ties are impossible
    * because `idCol` must be unique; a NULL score fails by name. Prefer
    * numeric ids: string ids order by Spark's UTF8 binary collation,
    * which an external replay must match.
    *
    * Output: input columns + (shard int, pos long); rank = pos *
    * numShards + shard. Deterministic under any input partitioning. */
  def curriculumShards(df: DataFrame, idCol: String, score: Column,
                       numShards: Int, pivots: Int = 256,
                       maxBucketRows: Long = DefaultMaxShardRows): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    require(pivots > 0, s"pivots must be positive, got $pivots")
    require(maxBucketRows > 0,
      s"maxBucketRows must be positive, got $maxBucketRows")
    val id = col(idCol)
    // guard on the CASTED value: a non-numeric score ("n/a") casts to
    // NULL, which would silently sort nulls-first into the front of the
    // curriculum if only the raw column were null-checked
    val casted = score.cast("double")
    val scored = df.withColumn("__cur_score",
      when(casted.isNull || isnan(casted), raise_error(lit(
        "curriculumShards: NULL/NaN score — a curriculum needs a total " +
          "order (Spark orders NaN last but compares it as largest, so " +
          "an external replay would diverge); coalesce or filter first")))
        .otherwise(casted))
    // 1. deterministic pivot rows: the `pivots` smallest md5-uniform
    //    draws over ids (order-statistics sample — uniform over rows,
    //    stable across runs/partitionings), collected as (score, id)
    //    boundary pairs and sorted lexicographically.
    val pivotRows = scored
      .select(col("__cur_score").as("ps"), id.as("pid"),
        hashUniform(id, "curriculum|pivot").as("u"))
      .orderBy(col("u").asc, col("pid").asc)
      .limit(pivots)
      .collect() // ≤ pivots rows — driver-bound by design
    val pairs = pivotRows
      .map(r => (r.getDouble(0), r.get(1)))
      .sortBy(_._1) // stable sort; equal scores keep u-order — any
    //    consistent order works: the bucket expr uses the SAME literals
    val m = pairs.length
    // 2. bucket = # pivots (ps, pid) <= (score, id), lexicographic.
    //    Integral ids take the codegen'd binary-search kernel
    //    ([[graft.functions.PivotKernels.pivotBucket]] — O(log m) per
    //    row, pivot arrays as reference objects): the count of pivots
    //    <= key is invariant to pivot order, so the kernel's fully
    //    (score, id)-sorted arrays assign the SAME bucket the literal
    //    scan does (scores normalized +0.0 so the driver sort agrees
    //    with the kernel's primitive ==, where -0.0 == 0.0). Other id
    //    types keep the O(m) `aggregate` over literals — each pivot is
    //    an independent <= test, monotone under any stored order.
    val integralId = df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    def bucketExpr(sc: Column, rid: Column): Column =
      if (m == 0) lit(0)
      else if (integralId) {
        val sorted = pairs
          .map(p => (p._1 + 0.0, p._2.asInstanceOf[Number].longValue))
          .sorted
        graft.functions.PivotExpressions.pivotBucket(sc, rid.cast("long"),
          sorted.map(_._1).toArray, sorted.map(_._2).toArray)
      } else {
        val sLit = typedLit(pairs.map(_._1).toSeq)
        val iLit = array(pairs.map(p => lit(p._2)): _*)
        aggregate(sequence(lit(1), lit(m)), lit(0),
          (acc, j) => acc + when(
            element_at(sLit, j) < sc ||
              (element_at(sLit, j) === sc && element_at(iLit, j) <= rid),
            1).otherwise(0))
      }
    val bucketed = scored.withColumn("__cur_b", bucketExpr(col("__cur_score"), id))
    // 3. per-bucket counts -> rank offsets (collect ≤ pivots+1 rows)
    val counts = bucketed.groupBy("__cur_b").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val worst = if (counts.isEmpty) 0L else counts.values.max
    if (worst > maxBucketRows) throw new IllegalStateException(
      s"curriculumShards: a pivot bucket holds $worst rows > " +
        s"maxBucketRows=$maxBucketRows — raise `pivots` (target " +
        "rows/pivots to the executor sort spill budget) or raise " +
        "maxBucketRows explicitly")
    val offsets = (0 to m).scanLeft(0L)((acc, b) =>
      acc + counts.getOrElse(b, 0L)).init
    val offLit = typedLit(offsets)
    // 4. keyed window only — buckets are range-disjoint in (score, id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cur_b"))
      .orderBy(col("__cur_score").asc, id.asc)
    val rank = element_at(offLit, col("__cur_b") + 1) +
      (row_number().over(w) - 1).cast("long")
    bucketed
      .withColumn("__cur_rank", rank)
      .withColumn("shard", pmod(col("__cur_rank"), lit(numShards.toLong)).cast("int"))
      .withColumn("pos", floor(col("__cur_rank") / numShards).cast("long"))
      .drop("__cur_score", "__cur_b", "__cur_rank")
  }
}
