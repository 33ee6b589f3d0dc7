package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines (north-star
  * extension; no reference-repo counterpart). All operators are
  * shuffle-conscious:
  *
  *  - exact dedup is one hash aggregation (map-side partial combine);
  *  - n-gram Jaccard avoids the O(n²) cross join via an inverted shingle
  *    index (self-join on shingle) with a document-frequency cap on hot
  *    shingles — the standard all-pairs-similarity pruning; at 100 TB you
  *    run [[minhashLsh]] first and feed only candidate pairs here;
  *  - MinHash+LSH is the scale path: k min-hashes per doc (one aggregation
  *    over exploded shingles), banded into b buckets, candidates from
  *    equi-joins on (band, signature) — shuffle keyed on tiny band hashes,
  *    never on raw text.
  *
  * Hashes are md5-derived ([[tokenHash60]]) so the DuckDB oracle can
  * reproduce every signature bit-for-bit.
  */
object Dedup {

  /** Exact dedup on the normalized-text fingerprint: keeps the smallest id
    * per group (deterministic winner), reports group size. One shuffle on a
    * 16-byte hash — never on the text itself (at 100 TB the texts stay in
    * place; only fingerprints move). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count("*").as("n_dups"))

  /** Incremental exact dedup — which delta docs already exist in a stored
    * corpus (the batch-ingest production shape: dedup the DELTA against
    * the corpus, never re-dedup the corpus). A Bloom filter over the
    * corpus fingerprint hashes prefilters the delta to bloom HITS (true
    * dups + ~fpp·|delta| false positives); only that small candidate set
    * is exact-verified with a fingerprint semi-join, so the corpus
    * fingerprint set joins against candidates instead of the whole delta.
    * Bloom misses are definitively new (no false negatives) and never
    * touch the join.
    *
    * Result is EXACT (the verification kills every false positive) —
    * identical to the plain delta⋈corpus anti-join, which is what the
    * oracle checks. Output: delta's (idCol, fp, is_dup).
    *
    * At 100 TB the corpus fingerprint set comes from the stored dedup
    * index and `expectedItems` is its known cardinality; here it defaults
    * to one count job. */
  def exactDelta(corpus: DataFrame, delta: DataFrame,
                 idCol: String, textCol: String,
                 fpp: Double = 1e-6,
                 expectedItems: Option[Long] = None): DataFrame = {
    // eager localCheckpoint: count, bloom aggregation, and the
    // verification semi-join all consume this — without materialization
    // the fingerprint+distinct corpus pass runs three times
    val corpusFp = corpus.select(fingerprint(col(textCol)).as("fp"))
      .distinct().transform(graft.util.Stage.materialize)
    val bloom = Decontaminate.serializeBloom(
      corpusFp.select(xxhash64(col("fp")).as("h")), "h",
      expectedItems.getOrElse(corpusFp.count()), fpp)
    val deltaFp = delta.select(col(idCol), fingerprint(col(textCol)).as("fp"))
    val candidates = deltaFp
      .filter(Decontaminate.mightContain(bloom, xxhash64(col("fp"))))
    val verified = candidates.join(corpusFp, Seq("fp"), "left_semi")
      .select(col(idCol)).withColumn("__dup", lit(1))
    deltaFp.join(verified, Seq(idCol), "left")
      .select(col(idCol), col("fp"),
        coalesce(col("__dup"), lit(0)).as("is_dup"))
  }

  /** Distinct (doc, shingle-hash) pairs — the inverted-index input. The
    * shingle is hashed to a long immediately (codegen'd xxhash64): every
    * downstream shuffle/join moves 8-byte keys instead of multi-word
    * strings, and set intersections/min-hashes only need equality. At
    * ~2⁻⁶⁴ pair-collision probability the Jaccard counts are exact for
    * any realistic corpus. */
  def docShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      // tokens staged as a real column BEFORE the shingle lambda — the HOF
      // re-evaluates its argument subtree per element, and handing it the
      // raw split() costs O(tokens²) re-splits per doc (see
      // TextFunctions.shinglesFromTokens)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), n)).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
      .distinct()

  /** Exact all-pairs n-gram Jaccard ≥ threshold via inverted shingle index:
    * join docs sharing a shingle, count the intersection, derive the union
    * from per-doc shingle counts. `maxDf` drops shingles appearing in more
    * than that many docs (stop-shingles produce quadratic join fan-out and
    * can't push a true near-dup below threshold when dropped... they CAN
    * affect exact scores, so the oracle applies the same cap — the operator
    * semantics include the cap). The cap is ON by default (256): a single
    * shingle shared by d documents fans out to d²/2 join rows, so an
    * uncapped index is quadratic in the hottest stop-shingle — with the
    * cap, per-shingle fan-out is bounded by maxDf²/2 no matter the corpus.
    * Pass `maxDf = None` only for small corpora where exact uncapped
    * scores matter more than the bound. */
  val DefaultMaxDf = 256

  /** Build the capped inverted shingle index ONCE — the input every dedup
    * operator here consumes. At scale (and in the shared query layer) this
    * is THE thing to materialize: `buildShingleIndex(...).persist()` (or
    * write it out), then pass it to [[jaccardPairs]]/[[minhashLsh]] as
    * `shinglesDf` with `maxDf = None`. Passing a raw index plus a `maxDf`
    * instead re-runs the cap aggregation + semi-join in EVERY branch of the
    * consuming plan (sizes, both join sides, signatures — 3-4×), and
    * concurrent first-use races the cache fill; that recomputation was a
    * measured 10× slowdown on the sf0.1 bench. */
  def buildShingleIndex(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3,
                        maxDf: Option[Int] = Some(DefaultMaxDf)): DataFrame =
    capShingles(docShingles(docs, idCol, textCol, n), maxDf)

  /** Drop shingles whose document frequency exceeds the cap. The semi-join
    * moves the join key first; restore (doc_id, s) order — downstream
    * toDF("i", "s") renames POSITIONALLY. */
  private def capShingles(sh: DataFrame, maxDf: Option[Int]): DataFrame =
    maxDf match {
      case None => sh
      case Some(cap) =>
        val df = sh.groupBy("s").agg(count("*").as("df")).filter(col("df") <= cap)
        sh.join(df.select("s"), Seq("s"), "left_semi").select("doc_id", "s")
    }

  /** Shared tail of every Jaccard path (exact, cross-corpus,
    * LSH-verified): attach per-side sizes to (i, j, inter) candidate
    * counts, derive union from |A|+|B|−|A∩B|, keep pairs ≥ threshold.
    * `sizesI`/`sizesJ` columns: (i, sz_i) / (j, sz_j). */
  private def scorePairs(inter: DataFrame, sizesI: DataFrame,
                         sizesJ: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizesI, "i")
      .join(sizesJ, "j")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_i") + col("sz_j") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("i", "j", "jaccard")

  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.8,
                   maxDf: Option[Int] = Some(DefaultMaxDf),
                   shinglesDf: Option[DataFrame] = None): DataFrame = {
    val sh = shinglesDf.getOrElse(docShingles(docs, idCol, textCol, n))
    val filtered = capShingles(sh, maxDf)
    val sizes = filtered.groupBy("doc_id").agg(count("*").as("sz"))
    val a = filtered.toDF("i", "s")
    val b = filtered.toDF("j", "s")
    val inter = a.join(b, "s").filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count("*").as("inter"))
    scorePairs(inter, sizes.toDF("i", "sz_i"), sizes.toDF("j", "sz_j"), threshold)
  }

  /** Cross-corpus n-gram overlap — the train/eval DECONTAMINATION check:
    * pairs (i ∈ left, j ∈ right) whose n-gram Jaccard ≥ threshold, via the
    * same inverted-index join as [[jaccardPairs]] but across two corpora
    * (no i<j dedup — the sides are distinct by construction). Run it with
    * `left` = training corpus and `right` = benchmark/eval set before
    * training: any hit is an eval document leaking into training data.
    * The right side (eval sets are small) drives broadcast-ability of the
    * index join; the maxDf cap applies to EACH side's index. Returns
    * (i, j, jaccard).
    *
    * Each side's index feeds TWO plan branches (its sizes and the
    * intersection join), so at scale pass PRE-BUILT (persisted or
    * checkpointed) indexes via `leftShinglesDf`/`rightShinglesDf` with
    * `maxDf = None` — same contract as [[buildShingleIndex]]: without it
    * the tokenize+shingle+cap pipeline runs twice per side per action. */
  def crossJaccardPairs(left: DataFrame, right: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxDf: Option[Int] = Some(DefaultMaxDf),
                        leftShinglesDf: Option[DataFrame] = None,
                        rightShinglesDf: Option[DataFrame] = None): DataFrame = {
    val shL = capShingles(
      leftShinglesDf.getOrElse(docShingles(left, idCol, textCol, n)), maxDf)
    val shR = capShingles(
      rightShinglesDf.getOrElse(docShingles(right, idCol, textCol, n)), maxDf)
    val sizesL = shL.groupBy("doc_id").agg(count("*").as("sz_i")).toDF("i", "sz_i")
    val sizesR = shR.groupBy("doc_id").agg(count("*").as("sz_j")).toDF("j", "sz_j")
    val inter = shL.toDF("i", "s").join(shR.toDF("j", "s"), "s")
      .groupBy("i", "j").agg(count("*").as("inter"))
    scorePairs(inter, sizesL, sizesR, threshold)
  }

  /** Hot-bucket guard cap for the LSH band joins ([[minhashLsh]],
    * [[graft.operators.Similarity.nearDupPairs]]): an exact-duplicate
    * cluster of d docs shares its FULL signature, so it collides in every
    * band and an unguarded band self-join emits d²/2 candidates per band —
    * the shingle maxDf cap cannot bound this (identical docs collide on
    * whole signatures regardless of shingle df). Buckets up to the cap
    * join all-pairs (semantics unchanged); a bucket above it degrades to
    * CONNECTIVITY-PRESERVING star pairs (bucket-min id, member): d−1
    * candidates, so the transitive closure still merges the cluster and
    * [[dropNearDups]] keeps exactly one canonical member, while the
    * candidate count stays linear in the bucket size. The trade: in a hot
    * bucket of near-but-NOT-identical docs a star pair can fail exact
    * verification where a non-star pair would have passed, so pair
    * ENUMERATION in hot buckets can under-report — run [[exact]] dedup
    * first (hot buckets are overwhelmingly exact-dup clusters) or raise
    * the cap. Measured fixture buckets are ≤ 11 at every gate scale vs
    * this cap, so the guard is inert until a corpus actually needs it. */
  val DefaultMaxBucket = 256

  /** Candidate (i, j) pairs from a bucketed relation: all-pairs within
    * buckets of ≤ cap rows, star pairs (bucket min, member) above —
    * see [[DefaultMaxBucket]]. `rows` columns: `id` + `keys`.
    *
    * Plan shape: the bucketed rows are hash-repartitioned on the keys
    * and EAGERLY materialized (localCheckpoint) before fanning out to
    * the size aggregation, both self-join sides, and the hot-star join.
    * Measured necessity, not caution: exchange reuse does NOT dedupe
    * these branches when the upstream projection carries a large typed
    * literal (the tables×planes hyperplane tensor in
    * [[graft.operators.Similarity.nearDupPairs]] defeats plan
    * canonicalization), so without materialization the projection ran
    * once per branch — 28 s vs 11 s unguarded on the sf0.1 embedding
    * step; WITH it the guarded path is 4.5-7 s, faster than the
    * unguarded join (whose two sides pay the projection twice for the
    * same reason). The materialized relation is (id, keys) only — the
    * same bytes the shuffle itself moves. The hot-bucket set is tiny by
    * construction (only buckets > cap) and is broadcast, so neither the
    * anti-join nor the star join adds a shuffle. */
  private[operators] def guardedBucketPairs(rows: DataFrame, id: String,
      keys: Seq[String], cap: Int): DataFrame = {
    if (cap == Int.MaxValue) { // unguarded: exactly the plain self-join plan
      val side = rows.select((keys :+ id).map(col): _*)
      return side.toDF((keys :+ "i"): _*)
        .join(side.toDF((keys :+ "j"): _*), keys)
        .filter(col("i") < col("j"))
        .select("i", "j")
    }
    val parted = rows.repartition(keys.map(col): _*).transform(graft.util.Stage.materialize)
    val sizes = parted.groupBy(keys.map(col): _*)
      .agg(count("*").as("__bsz"), min(col(id)).as("__bmin"))
    // size-guarded broadcast: the hot set is tiny by contract (only
    // buckets above cap survive the filter), but a pathological corpus
    // could mint millions of them — the guard degrades to a shuffle join
    // instead of forcing an executor-OOM broadcast
    val hot = graft.model.Joins.maybeBroadcast(sizes.filter(col("__bsz") > cap))
    val small = parted.join(hot.select(keys.map(col): _*), keys, "left_anti")
    val allPairs = small.toDF((keys :+ "i"): _*)
      .join(small.toDF((keys :+ "j"): _*), keys)
      .filter(col("i") < col("j"))
      .select("i", "j")
    // __bmin < id for every non-min member, so i < j holds by construction
    val star = parted.join(hot, keys)
      .filter(col(id) =!= col("__bmin"))
      .select(col("__bmin").as("i"), col(id).as("j"))
    allPairs.unionByName(star)
  }

  /** k min-hashes per document: min over shingles of xxhash64(seed,
    * shingle), one grouped aggregation computing all k mins in a single
    * pass over the exploded shingles (map-side combine makes the shuffle k
    * longs per doc, not one row per shingle). xxhash64 (codegen'd, ~20×
    * cheaper than md5) is fine here: signatures are internal — only the
    * exact-Jaccard verification needs engine portability. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 32,
                        shinglesDf: Option[DataFrame] = None): DataFrame = {
    val sh = shinglesDf.getOrElse(docShingles(docs, idCol, textCol, n))
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("s"))).as(s"mh$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash + banded LSH candidate pairs, exact-verified.
    *
    * Signatures (k mins) are split into `bands` bands of k/bands rows; docs
    * colliding on any band's full sub-signature become candidates
    * (equi-join per band on the band tuple — a few longs — then distinct).
    * Candidates are then verified with the exact Jaccard, so precision is
    * 1.0 and only recall depends on the banding (with k=32, bands=8,
    * r=4: P[miss a 0.8-similar pair] = (1-0.8⁴)^8 ≈ 0.8%^... ≈ 0.013).
    *
    * Returns (i, j, jaccard) for verified pairs — same shape as
    * [[jaccardPairs]], computed without the all-pairs shingle join.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, k: Int = 32, bands: Int = 8,
                 threshold: Double = 0.8,
                 maxDf: Option[Int] = Some(DefaultMaxDf),
                 shinglesDf: Option[DataFrame] = None,
                 maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // build the shingle index once: signatures AND verification reuse it
    // (otherwise the dominant tokenize+hash+distinct pass runs twice).
    // The stop-shingle cap applies to the WHOLE index — signatures and
    // verification — so minhashLsh(maxDf=c) == jaccardPairs(maxDf=c) up
    // to LSH recall, and the same capped oracle checks both.
    val shIdx = capShingles(
      shinglesDf.getOrElse(docShingles(docs, idCol, textCol, n)), maxDf)
    val sig = minhashSignatures(docs, idCol, textCol, n, k, Some(shIdx))
    // band rows via ONE posexplode of the band arrays — a per-band
    // union-of-selects would re-run the signature aggregation once per
    // band per join side (16× at the defaults; measured ~3× on q20)
    val bandArr = array((0 until bands).map { b =>
      array((b * r until (b + 1) * r).map(i => col(s"mh$i")): _*)
    }: _*)
    val bandRows = sig.select(col("doc_id"),
      posexplode(bandArr).as(Seq("band", "sig")))
    val cands = guardedBucketPairs(bandRows, "doc_id", Seq("band", "sig"),
      maxBucket.getOrElse(Int.MaxValue)).distinct()

    // exact verification of candidates only
    val sh = shIdx
    val sizes = sh.groupBy("doc_id").agg(count("*").as("sz"))
    // join the second side on (doc, shingle) so only matching shingles
    // survive the join (a join on doc alone would fan out to
    // |cands| × |shingles|² rows before filtering)
    val inter = cands
      .join(sh.toDF("i", "s"), "i")
      .join(sh.toDF("j", "s"), Seq("j", "s"))
      .groupBy("i", "j").agg(count("*").as("inter"))
    scorePairs(inter, sizes.toDF("i", "sz_i"), sizes.toDF("j", "sz_j"), threshold)
  }

  /** 60-bit SimHash per document: bit j of the signature is the sign of
    * Σ_tokens (±w by bit j of the token hash). One explode + one grouped
    * aggregation with 60 conditional sums — a single shuffle of 60
    * values per doc. Multiset semantics (repeated tokens vote
    * repeatedly).
    *
    * `idfWeighted = false` (default): uniform ±1 votes — Charikar's
    * original form. `idfWeighted = true`: each token votes with its
    * smoothed idf, ln((N+1)/(df+1)) + 1 — the production weighting for
    * TEMPLATED corpora, where boilerplate shared by most docs dominates
    * uniform votes and collapses documents with distinct payloads into
    * one signature; idf self-down-weights exactly those tokens (a
    * corpus-wide token is worth ~ln(1)+1 per vote, a rare payload token
    * ~ln(N)+1), so the signature follows the CONTENT. Costs one extra
    * doc-frequency aggregation over (doc, token) pairs and one
    * token-keyed join back, size-guarded broadcast when the vocabulary
    * is small ([[graft.model.Joins.maybeBroadcast]]). */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              idfWeighted: Boolean = false): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("t"))
      .withColumn("h", tokenHash60(col("t")))
    val voting =
      if (!idfWeighted) tok.withColumn("w", lit(1.0))
      else {
        val n = docs.count()
        val idf = tok.select("doc_id", "t").distinct()
          .groupBy("t").agg(count(lit(1)).as("__df"))
          .select(col("t"),
            (log(lit(n + 1.0) / (col("__df") + 1.0)) + 1.0).as("w"))
        tok.join(graft.model.Joins.maybeBroadcast(idf), "t")
      }
    val votes = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, col("w"))
        .otherwise(-col("w"))).as(s"v$j")
    }
    val agg = voting.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sig = (0 until 60).map { j =>
      when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** All pairs within `maxHamming` bits over a (id, signature) table —
    * the pigeonhole-banding primitive shared by [[simhashPairs]] (60-bit
    * text simhash) and [[graft.operators.Multimodal]] image hashes
    * (64-bit aHash): split `bits` into (maxHamming+1) bands; any pair
    * within distance maxHamming must agree EXACTLY on ≥1 band (pigeonhole
    * — the differing bits can't touch every band), so equi-joins on band
    * values find all of them with no cross join; exact-verify with
    * bit_count(xor). Input columns: (idCol, sigCol: long).
    *
    * No hot-bucket guard here, deliberately: an identical-signature
    * cluster of d docs is d²/2 hamming-0 pairs in the OUTPUT itself, so
    * no output-preserving cap exists — the [[guardedBucketPairs]] star
    * degradation would silently drop true ≤-maxHamming pairs that this
    * operator's exact oracle enumerates. The scale discipline is the
    * ordering contract: run [[exact]] dedup first, which removes
    * identical docs (and with them identical signatures) before banding. */
  def hammingPairs(sig: DataFrame, idCol: String, sigCol: String,
                   bits: Int, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming $maxHamming not in [0, $bits)")
    val nb = maxHamming + 1
    val w = bits / nb // band width in bits (the LAST band absorbs the remainder)
    // one posexplode instead of an nb-way union: the union form re-ran
    // the upstream signature computation once per band per join side
    val bandArr = array((0 until nb).map { b =>
      val width = if (b == nb - 1) bits - b * w else w // remainder band
      shiftright(col(sigCol), b * w)
        .bitwiseAND(if (width >= 64) -1L else (1L << width) - 1)
    }: _*)
    val bandRows = sig.select(col(idCol).as("doc_id"),
      posexplode(bandArr).as(Seq("band", "bits")), col(sigCol).as("sig"))
      .select("doc_id", "band", "bits", "sig")
    bandRows.toDF("i", "band", "bits", "sig_i")
      .join(bandRows.toDF("j", "band", "bits", "sig_j"), Seq("band", "bits"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        bit_count(col("sig_i").bitwiseXOR(col("sig_j"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs: hamming distance ≤ maxHamming over the
    * 60-bit signatures, via [[hammingPairs]] banding. `idfWeighted`
    * selects the weighted-vote signature (see [[simhash]]). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   idfWeighted: Boolean = false): DataFrame =
    hammingPairs(simhash(docs, idCol, textCol, idfWeighted), "doc_id",
      "simhash", bits = 60, maxHamming = maxHamming)

  /** Connected components over a near-dup pair set — the canonicalization
    * step after pair generation: near-duplication is NOT transitive, but
    * keep/drop decisions must be (if A~B and B~C, keeping both A and C
    * still double-counts B's content), so pairs are closed transitively
    * and each cluster elects one canonical member (its minimum id).
    *
    * Algorithm: iterative min-label propagation — every node starts
    * labeled with its own id; each round every node takes the min of its
    * own and its neighbors' labels; stop when a round changes nothing.
    * Each round is ONE shuffle of (node, label) pairs (an equi-join on
    * node id plus a min-aggregation — no vectors, no text), and labels
    * persist between rounds so lineage never replays. Round count is
    * bounded by the cluster diameter: near-dup clusters are quasi-cliques
    * (most members pair directly), so real workloads close in 2–4 rounds
    * (entity-resolution name graphs measured ~11 — digit-substitution
    * chains); past `maxIter` rounds the operator FALLS BACK to
    * [[connectedComponentsLogN]] (rounds ∝ log n, diameter-immune)
    * rather than raising or returning a half-merged clustering. NOTE a label-VALUE
    * pointer-jumping variant (also pulling label(label(x)) per round)
    * was tried and reverted: it halves rounds only when id order
    * correlates with graph distance — the min-id node inside a ball must
    * sit on its far side for the jump to extend reach — so on
    * permuted-id chains it saved nothing while paying a self-join per
    * round. A true O(log n) closure is the large-star/small-star edge
    * rewrite (Kiveris et al.), a different algorithm worth its own
    * operator if diameters ever grow past `maxIter`. Convergence is detected with
    * a 1-row changed-count action per round (`limit(1)` — existence, not
    * enumeration).
    *
    * Output: (doc_id, component) for every doc that appears in a pair.
    * Docs with no pairs are their own singleton components and are
    * omitted — [[dropNearDups]] treats absence as keep. The result is
    * already materialized (eager localCheckpoint — reading it never
    * replays the propagation rounds); its blocks are freed by the
    * ContextCleaner once the DataFrame is unreferenced.
    *
    * @param pairs near-dup pairs, e.g. [[minhashLsh]]/[[jaccardPairs]] output
    */
  def connectedComponents(pairs: DataFrame, iCol: String = "i",
                          jCol: String = "j", maxIter: Int = 20): DataFrame =
    connectedComponents(pairs, iCol, jCol, maxIter, LocalMaxEdges)

  /** Edge count up to which [[connectedComponents]] closes on the driver. */
  private val LocalMaxEdges = 1000000L

  /** [[connectedComponents]] with its small-graph size guard as a
    * parameter: 0 forces the distributed path (the specs pin both paths
    * and the maxIter fallback). */
  private[graft] def connectedComponents(pairs: DataFrame, iCol: String,
                                         jCol: String, maxIter: Int,
                                         localMaxEdges: Long): DataFrame = {
    // both edge directions from ONE evaluation of `pairs` — a
    // union(pairs, pairs.reversed) embeds the (potentially expensive)
    // pair-generation plan twice and evaluates it twice in the persist
    // fill; measured 2× the whole LSH pipeline on q34
    val edges = pairs
      .select(explode(array(
        struct(col(iCol).as("src"), col(jCol).as("dst")),
        struct(col(jCol).as("src"), col(iCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist()
    try {
      // SMALL-GRAPH FAST PATH (maybeBroadcast's doctrine applied to the
      // closure): each distributed round costs a fixed 3-4 Spark jobs,
      // so a few-thousand-edge graph pays seconds of scheduling for
      // microseconds of work — measured 9 rounds x ~0.35 s on q98's
      // representative-edge graphs. Below the size guard, collect the
      // (already linear, never member x member) edge list and run an
      // exact min-root union-find driver-side; at scale the count is
      // one pass over the just-persisted blocks and the distributed
      // path proceeds untouched. The guard is `localMaxEdges`
      // (LocalMaxEdges by default; 0 forces the distributed path —
      // the specs pin both paths' equivalence).
      val idOrd = localOrdering(edges.schema("src").dataType)
      if (localMaxEdges > 0 && idOrd.isDefined && edges.count() <= localMaxEdges)
        return localClosure(edges, idOrd.get)
      // localCheckpoint (eager) per round, NOT persist: the propagation
      // join embeds the previous round's plan TWICE (self side + neighbor
      // side), so without lineage truncation the logical plan doubles per
      // round and Catalyst analysis/canonicalization goes exponential in
      // the round count — the classic iterative-Spark trap (caching
      // truncates recomputation, not the logical plan). Checkpointing
      // replaces each round's plan with its materialized blocks, keeping
      // planning O(1) per round. Swap for reliable `checkpoint` on a
      // cluster where executor loss mid-algorithm matters.
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .withColumn("component", col("doc_id"))
        .transform(graft.util.Stage.materialize)
      var round = 0
      var converged = false
      while (!converged && round < maxIter) {
        // min over self + neighbors' labels, one join + one aggregation
        val nbr = edges
          .join(labels.select(col("doc_id").as("dst"),
            col("component").as("nbr_comp")), "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(min(col("nbr_comp")).as("nbr_min"))
        // the changed flag rides IN the label row: convergence detection
        // is then a filter over the just-materialized blocks — no extra
        // next⋈prev join shuffle per round
        val next = labels
          .join(nbr, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("component"), coalesce(col("nbr_min"), col("component")))
              .as("component"),
            // id-type-generic (no typed sentinel): null nbr_min = no change
            (col("nbr_min").isNotNull && col("nbr_min") < col("component"))
              .as("changed"))
          .transform(graft.util.Stage.materialize)
        val changed = next.filter(col("changed")).limit(1).count()
        // previous round's blocks are GC'd by ContextCleaner
        labels = next.select("doc_id", "component")
        converged = changed == 0
        round += 1
      }
      if (!converged) {
        // diameter exceeded the round budget: fall back to the
        // O(log n) star-rewrite closure instead of dying — a chain-
        // heavy graph 19 rounds into a 100 TB job deserves the correct
        // answer, not an exception; the warning keeps the shape visible
        System.err.println(
          s"[cc] no convergence in $maxIter rounds (diameter-heavy " +
            "graph) — falling back to connectedComponentsLogN")
        return connectedComponentsLogN(pairs, iCol, jCol)
      }
      labels
    } finally edges.unpersist(): Unit
  }

  /** Driver-side Ordering matching Spark's `min` for the id types that
    * actually flow through closures (integral + string); None keeps an
    * exotic id type on the distributed path. */
  private def localOrdering(dt: org.apache.spark.sql.types.DataType)
  : Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType    => Some(Ordering.by((v: Any) => v.asInstanceOf[Byte].toLong))
      case ShortType   => Some(Ordering.by((v: Any) => v.asInstanceOf[Short].toLong))
      case IntegerType => Some(Ordering.by((v: Any) => v.asInstanceOf[Int].toLong))
      case LongType    => Some(Ordering.by((v: Any) => v.asInstanceOf[Long]))
      // compare CODE POINTS, matching Spark's min over strings
      // (UTF8String.compareTo = UTF-8 byte order = code-point order):
      // Scala's String ordering compares UTF-16 code units, which ranks
      // supplementary-plane characters BELOW U+E000–U+FFFF — for ids
      // containing such characters the local fast path would pick a
      // different min root than the distributed path, making component
      // labels depend on the edge-count threshold. Iterating code points
      // in place avoids the two fresh byte-array encodes PER COMPARISON
      // that a getBytes(UTF_8) comparator costs inside the sort/min loop
      case StringType => Some(new Ordering[Any] {
        def compare(x: Any, y: Any): Int = {
          val a = x.asInstanceOf[String]
          val b = y.asInstanceOf[String]
          var i = 0
          var j = 0
          while (i < a.length && j < b.length) {
            val ca = a.codePointAt(i)
            val cb = b.codePointAt(j)
            if (ca != cb) return Integer.compare(ca, cb)
            i += Character.charCount(ca)
            j += Character.charCount(cb)
          }
          Integer.compare(a.length - i, b.length - j)
        }
      })
      case _           => None
    }
  }

  /** Exact min-root union-find over a collected symmetric edge list:
    * the smaller root absorbs the larger, so every component's root IS
    * its minimum — identical labels to min-label propagation, without
    * the per-round job scheduling. Returns the same (doc_id, component)
    * LocalRelation shape the distributed paths produce. */
  private def localClosure(edges: DataFrame,
                           ord: Ordering[Any]): DataFrame = {
    val rows = edges.collect()
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      if (parent.get(a) == null) parent.put(a, a)
      if (parent.get(b) == null) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val dt = edges.schema("src").dataType
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val n = it.next()
      out.add(org.apache.spark.sql.Row(n, find(n)))
    }
    edges.sparkSession.createDataFrame(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", dt),
        org.apache.spark.sql.types.StructField("component", dt))))
  }

  /** O(log n)-round connected components — the large-star/small-star
    * edge-rewrite algorithm (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) for graphs whose DIAMETER defeats
    * [[connectedComponents]]' min-label propagation (rounds there ∝
    * diameter; here ∝ log n regardless of shape — the answer to the
    * long-chain caveat documented on the default operator).
    *
    *  - large-star: every node connects its strictly-larger neighbors
    *    to the minimum of its closed neighborhood;
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    to that minimum.
    *
    * Alternating the two strictly shrinks potential until the edge set
    * is a union of stars centered at component minima; each half-round
    * is one aggregation + one join + one distinct over the EDGE set
    * (heavier per round than label propagation — prefer the default for
    * quasi-clique near-dup graphs, this one for adversarial chains).
    * Same output contract as [[connectedComponents]]: (doc_id,
    * component-min) for every node appearing in a pair, eagerly
    * materialized. */
  def connectedComponentsLogN(pairs: DataFrame, iCol: String = "i",
                              jCol: String = "j",
                              maxIter: Int = 40): DataFrame = {
    // canonical undirected edges (min, max), self-loops dropped
    var edges = pairs
      .select(least(col(iCol), col(jCol)).as("u"),
        greatest(col(iCol), col(jCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(graft.util.Stage.materialize)
    // one star half-round: m(u) = min over u's closed neighborhood;
    // rewrite each kept (u, v) edge to (m_u, v). `keepLarger` selects
    // which endpoint set is re-attached.
    def star(e: DataFrame, keepLarger: Boolean): DataFrame = {
      val sym = e.select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("x"))
        .select(col("x.a").as("a"), col("x.b").as("b"))
      val mins = sym.groupBy("a")
        .agg(least(min(col("b")), first(col("a"))).as("m"))
      val kept =
        if (keepLarger) sym.filter(col("b") > col("a"))
        else sym.filter(col("b") <= col("a"))
      val rewritten = kept.join(mins, "a")
        .select(least(col("m"), col("b")).as("u"),
          greatest(col("m"), col("b")).as("v"))
      // small-star also re-attaches u ITSELF to its neighborhood min
      // (the paper's v ∈ Γ⁺(u), v ≤ u includes v = u): without it a
      // node whose neighbors are all larger loses its only edge when
      // (u, m) rewrites to the self-loop (m, m)
      val self =
        if (keepLarger) rewritten
        else rewritten.unionByName(
          mins.select(least(col("m"), col("a")).as("u"),
            greatest(col("m"), col("a")).as("v")))
      self
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // convergence: edge multiset unchanged (order-free count + hash —
    // one aggregation over the just-materialized blocks)
    def sig(e: DataFrame): (Long, Long) = {
      // bit_xor: order-free and overflow-free (an ANSI sum of 2^63-
      // scale hashes overflows); rows are distinct so XOR is a sound
      // set signature
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var round = 0
    var stable = false
    // carry the previous round's signature — each round aggregates only
    // the NEW edge set (sig(edges) always equals last round's sig(next))
    var edgeSig = sig(edges)
    while (!stable && round < maxIter) {
      val next = star(star(edges, keepLarger = true), keepLarger = false)
        .transform(graft.util.Stage.materialize)
      val nextSig = sig(next)
      stable = nextSig == edgeSig
      edges = next
      edgeSig = nextSig
      round += 1
    }
    require(stable,
      s"large-star/small-star did not stabilize within $maxIter rounds")
    // stable state: stars centered at component minima — membership is
    // the edge list itself, plus each center labeling itself; nodes
    // appearing ONLY in self-pairs (dropped from the edge set) get
    // their own label, matching [[connectedComponents]]' contract
    val starLabels = edges
      .select(col("v").as("doc_id"), col("u").as("component"))
      .unionByName(edges.select(col("u").as("doc_id"),
        col("u").as("component")))
      .distinct()
    val selfOnly = pairs.filter(col(iCol) === col(jCol))
      .select(col(iCol).as("doc_id")).distinct()
      .join(starLabels.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("component", col("doc_id"))
    starLabels.unionByName(selfOnly).transform(graft.util.Stage.materialize)
  }

  /** Keep one canonical document per near-dup cluster: transitively close
    * `pairs` with [[connectedComponents]] and anti-join every non-minimum
    * cluster member out of `docs`. Docs in no pair survive untouched. */
  def dropNearDups(docs: DataFrame, pairs: DataFrame, idCol: String,
                   iCol: String = "i", jCol: String = "j"): DataFrame =
    dropNearDupsWith(docs, connectedComponents(pairs, iCol, jCol), idCol)

  /** [[dropNearDups]] against a PRECOMPUTED closure (the
    * (doc_id, component) shape [[connectedComponents]] returns) — the
    * build-once cache shape: several consumers of one pair set close it
    * once and share the component table. */
  def dropNearDupsWith(docs: DataFrame, components: DataFrame,
                       idCol: String): DataFrame = {
    val losers = components
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware survivor selection: like [[dropNearDups]] but each
    * cluster's canonical survivor is the member with the HIGHEST
    * `scoreCol` (ties broken by smallest id) instead of the smallest id —
    * the production policy: keep the best copy, not the first-crawled.
    *
    * Scale shape: one closure + ONE aggregation per component (`min_by`
    * over a (−score, id) struct — no per-cluster window, no member ×
    * member work); the score lookup is an id-keyed join, so `pairs` may
    * cover any subset of docs and unpaired docs pass through untouched.
    * NULL scores rank below every real score (−∞), so a null-scored
    * member only survives when its whole cluster is null-scored and it
    * holds the smallest id. `scoreCol` must be numeric. */
  def dropNearDupsKeepBest(docs: DataFrame, pairs: DataFrame, idCol: String,
                           scoreCol: String,
                           iCol: String = "i", jCol: String = "j"): DataFrame =
    dropNearDupsKeepBestWith(docs, connectedComponents(pairs, iCol, jCol),
      idCol, scoreCol)

  /** [[dropNearDupsKeepBest]] against a precomputed closure — see
    * [[dropNearDupsWith]]. */
  def dropNearDupsKeepBestWith(docs: DataFrame, components: DataFrame,
                               idCol: String, scoreCol: String): DataFrame = {
    val member = components
      .join(docs.select(col(idCol).as("doc_id"),
        coalesce(col(scoreCol).cast("double"),
          lit(Double.NegativeInfinity)).as("__s")), "doc_id")
    val winners = member.groupBy("component")
      .agg(min_by(col("doc_id"),
        struct((-col("__s")).as("ns"), col("doc_id").as("id"))).as("__win"))
    val losers = member.join(winners, "component")
      .filter(col("doc_id") =!= col("__win"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-group duplication report — the corpus-quality summary a pipeline
    * owner reads before deciding what to crawl less of: for each
    * `groupCol` value, how many docs sit in a near-dup cluster
    * (`n_clustered`), how many [[dropNearDups]] would drop
    * (`n_dropped` — every cluster member except the canonical min-id
    * winner), and the drop share. Composes the existing closure: one
    * left join of the (cluster-members-only) component table back to the
    * docs, one group-keyed aggregation — the join fan-in is bounded by
    * the docs themselves, never pairs².
    *
    * Output: (groupCol, n_docs, n_clustered, n_dropped, dup_share). */
  def dedupReport(docs: DataFrame, pairs: DataFrame, idCol: String,
                  groupCol: String,
                  iCol: String = "i", jCol: String = "j"): DataFrame =
    dedupReportWith(docs, connectedComponents(pairs, iCol, jCol),
      idCol, groupCol)

  /** [[dedupReport]] against a precomputed closure — see
    * [[dropNearDupsWith]]. */
  def dedupReportWith(docs: DataFrame, components: DataFrame, idCol: String,
                      groupCol: String): DataFrame = {
    val cc = components
      .withColumnRenamed("doc_id", idCol)
    docs.select(col(idCol), col(groupCol))
      .join(cc, Seq(idCol), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("component").isNotNull, 1L).otherwise(0L))
          .as("n_clustered"),
        sum(when(col("component").isNotNull && col(idCol) =!= col("component"),
          1L).otherwise(0L)).as("n_dropped"))
      .withColumn("dup_share",
        round(col("n_dropped").cast("double") / col("n_docs"), 6))
  }

  /** Incremental NEAR-dup dedup — the [[exactDelta]] shape for MinHash/
    * Jaccard near-duplication: dedup a DELTA of documents against a stored
    * corpus shingle index (never re-deduping the corpus), first-arrival-
    * wins. This is the micro-batch unit of streaming near-dup dedup
    * ([[graft.streaming.DocStreaming.startNearDupDedup]]) and of any
    * batch-ingest pipeline.
    *
    *  - CROSS edges (delta vs corpus) come from [[crossJaccardPairs]] over
    *    the two prebuilt indexes — candidates via the inverted-index
    *    equi-join, EXACT-verified (jaccard ≥ threshold), so precision
    *    matches the batch operator.
    *  - WITHIN edges (delta vs delta) come from [[minhashLsh]] over the
    *    delta's index.
    *  - Every corpus endpoint is collapsed to one sentinel node
    *    (Long.MinValue) before the transitive closure: any delta doc whose
    *    component touches the corpus is a dup (the corpus member already
    *    won its cluster), and merging corpus nodes can only merge
    *    components that would EACH drop all their delta members anyway —
    *    so the collapse is lossless for the keep/drop decision while
    *    keeping the closure's node set delta-sized.
    *
    * Chaining matches batch CC semantics when the store holds ALL seen
    * docs' shingles (survivors and dups alike — append the returned
    * `deltaIndex` regardless): a doc near a *dropped* doc is transitively
    * near that doc's cluster and must drop too.
    *
    * Ids must be numeric (the sentinel is Long.MinValue). The maxDf cap
    * applies per-side at index-build time — on a corpus where the cap
    * actually bites, per-batch caps are a slightly weaker filter than one
    * global cap (same contract as any incremental index).
    *
    * The cross-verification join is Bloom-PREFILTERED (the [[exactDelta]]
    * discipline): a filter over the corpus's shingle hashes cuts the
    * delta-side join input to shingles that might exist in the corpus, so
    * a mostly-fresh delta contributes almost nothing to the intersection
    * join — false positives only enlarge the join input (the exact
    * verification kills them); false negatives don't exist, so no
    * candidate is ever missed. Per-doc shingle sizes are computed over
    * the FULL index rows of each pair endpoint (an undercounted size
    * would inflate jaccard), restricted to candidate docs so the corpus
    * is never shuffled — see [[crossPairsBloom]] for the full scale
    * contract. At 100 TB pass `expectedShingles` from the stored index's
    * metadata instead of paying the count job.
    *
    * Returns (survivors, deltaIndex): the delta docs that survive, and the
    * delta's capped shingle index to append to the store. */
  def nearDupDelta(corpusIndex: Option[DataFrame], delta: DataFrame,
                   idCol: String, textCol: String,
                   n: Int = 3, k: Int = 32, bands: Int = 8,
                   threshold: Double = 0.8,
                   maxDf: Option[Int] = Some(DefaultMaxDf),
                   fpp: Double = 1e-6,
                   expectedShingles: Option[Long] = None,
                   distinctCorpus: Boolean = false,
                   deltaShinglesDf: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    // eager localCheckpoint: the index feeds cross-verification (sizes +
    // intersection), LSH signatures, and within-verification — without
    // materialization the tokenize+shingle+distinct pass replays per
    // branch. A caller carving the delta index from an already-persisted
    // shared index passes it via deltaShinglesDf (with the cap semantics
    // it was built under — the buildShingleIndex contract) and skips the
    // re-materialization.
    // name-normalized: downstream renames are positional (capShingles
    // contract), so a provided index must be coerced to (doc_id, s).
    // A provided (carved) index is materialized too: the fixed-width
    // (doc_id, s) rows feed SIX consumers (signatures, within sizes,
    // both within-verification sides, the bloom probe, cross sizes) —
    // each re-ran the carve filter over the stored index per branch.
    val deltaIdx = deltaShinglesDf
      .map(_.select("doc_id", "s").transform(graft.util.Stage.materialize))
      .getOrElse(buildShingleIndex(delta, idCol, textCol, n, maxDf)
        .transform(graft.util.Stage.materialize))
    val sc = delta.sparkSession.sparkContext
    def within() = graft.util.Jobs.labeled(sc, "neardup-delta: within-LSH")(
      minhashLsh(delta, idCol, textCol, n, k, bands, threshold,
        maxDf = None, shinglesDf = Some(deltaIdx)))
    val edges = corpusIndex match {
      case None => within().select("i", "j")
      case Some(corpusIdx) =>
        // the within-delta LSH leg (band materialization) and the
        // cross-corpus leg (corpus count + bloom build + intersection)
        // share only the already-materialized deltaIdx — overlap them
        // (guide §2.6); previously five eager barriers ran serially
        val legs = graft.util.Par.run(Seq(
          () => within(),
          () => graft.util.Jobs.labeled(sc, "neardup-delta: cross-bloom")(
            crossPairsBloom(corpusIdx, deltaIdx, threshold, fpp,
              expectedShingles, distinctCorpus))))
        // collapse every corpus endpoint to the sentinel (see scaladoc)
        legs(0).select("i", "j").unionByName(
          legs(1).select(lit(Long.MinValue).as("i"), col("j")))
    }
    (dropNearDups(delta, edges, idCol), deltaIdx)
  }

  /** Bloom-prefiltered cross near-dup pairs between a STORED corpus
    * shingle index and a delta index — the candidate+verify core of
    * [[nearDupDelta]], also directly usable for index-vs-index
    * decontamination. Returns (i ∈ corpus, j ∈ delta, jaccard ≥
    * threshold), exact.
    *
    * Scale shape — the corpus index is only ever SCANNED, never shuffled:
    * the bloom build is a tree aggregation; the intersection join's delta
    * side is bloom-cut and small (broadcastable), so the corpus streams
    * through it; and per-doc corpus sizes are computed AFTER restricting
    * to the candidate docs that actually appear in `inter` (a semi-join
    * against the materialized candidate ids — lossless, since scorePairs
    * only reads sizes for pair endpoints). A full corpus groupBy here was
    * the one per-batch corpus shuffle this design couldn't afford.
    *
    * `distinctCorpus = true` adds a defensive full dedup of the store
    * (one corpus shuffle) — only needed when the store may hold duplicate
    * (doc, s) rows; [[graft.streaming.DocStreaming.startNearDupDedup]]
    * writes per-batch-id partitions idempotently, so its replays never
    * duplicate and the default skips the shuffle. */
  def crossPairsBloom(corpusIdx: DataFrame, deltaIdx0: DataFrame,
                      threshold: Double = 0.8, fpp: Double = 1e-6,
                      expectedShingles: Option[Long] = None,
                      distinctCorpus: Boolean = false): DataFrame = {
    // normalize BOTH sides' column order by name before any positional
    // toDF rename below — a caller-supplied index stored as (s, doc_id)
    // would otherwise silently join doc ids against shingle hashes
    val deltaIdx = deltaIdx0.select("doc_id", "s")
    val corpus0 = corpusIdx.select("doc_id", "s")
    val corpus =
      if (distinctCorpus) corpus0.distinct().transform(graft.util.Stage.materialize)
      else corpus0
    val deltaHit = bloomPrefilteredDelta(corpus, deltaIdx, fpp,
      expectedShingles)
    // eager: inter feeds BOTH the candidate-size semi-join and the final
    // score join — measured: the planner does NOT reuse the aggregation
    // subplan across the two consumers (the semi-join branch canonicalizes
    // differently), so without materialization the corpus scan and the
    // hit-row shuffle run once per branch. It is small: one row per
    // surviving candidate pair.
    val inter = corpus.toDF("i", "s").join(deltaHit.toDF("j", "s"), "s")
      .groupBy("i", "j").agg(count("*").as("inter"))
      .transform(graft.util.Stage.materialize)
    val sizesI = corpus
      .join(inter.select(col("i").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(count("*").as("sz_i")).toDF("i", "sz_i")
    val sizesJ = deltaIdx.groupBy("doc_id")
      .agg(count("*").as("sz_j")).toDF("j", "sz_j")
    scorePairs(inter, sizesI, sizesJ, threshold)
  }

  /** The delta side of [[crossPairsBloom]]'s intersection join: delta
    * index rows whose shingle might exist in the corpus (bloom probe —
    * false positives pass through to exact verification, false negatives
    * impossible). Package-visible so the plan-shape suite can assert the
    * probe is really in the plan (the checkpoint inside crossPairsBloom
    * truncates it out of the returned DataFrame's lineage). */
  private[graft] def bloomPrefilteredDelta(corpusIdx: DataFrame,
                                           deltaIdx: DataFrame,
                                           fpp: Double = 1e-6,
                                           expectedShingles: Option[Long] = None): DataFrame = {
    val bloom = Decontaminate.serializeBloom(corpusIdx.select("s"), "s",
      expectedShingles.getOrElse(corpusIdx.count()), fpp)
    deltaIdx.filter(Decontaminate.mightContain(bloom, col("s")))
  }

  // -------------------------------------------------------------------
  // Substring-level exact dedup — the Lee et al. 2022 ExactSubstr family
  // ("Deduplicating Training Data Makes Language Models Better"): find
  // and remove every token span of >= minTokens tokens that appears
  // verbatim in >= 2 distinct documents (boilerplate headers, licenses,
  // templated text inside otherwise-distinct docs). The paper builds one
  // monolithic suffix array; the distributed re-expression is a k-gram
  // inverted index — a token span of length >= k is shared by two docs
  // iff every one of its k-token grams is shared, so the union of
  // duplicated k-grams IS the duplicated-span set, found with one hash
  // aggregation instead of a global sort.
  // -------------------------------------------------------------------

  /** All duplicated-gram start positions per doc: (idCol, start) where
    * the k-token gram at 1-based token position `start` appears verbatim
    * in >= 2 DISTINCT docs (within-doc repetition alone is q29's
    * repetition-score domain, not dedup). Shared by [[duplicateSpans]]
    * and [[removeDuplicateSpans]].
    *
    * Scale shape: texts never shuffle — each doc row explodes into
    * (id, start, 16-byte md5 gram hash) locally, and only those fixed-
    * width rows move. The duplicated-hash set comes from min(id)!=max(id)
    * (partial-aggregatable — never a collect_list posting list, so a
    * boilerplate gram in 100M docs costs two longs per map partition,
    * not a 100M-entry list), then a co-partitioned equi-join marks the
    * positions. The gram rows are computed twice (once per shuffle) —
    * at 100 TB recomputing a projection beats persisting a corpus-sized
    * intermediate. */
  private def duplicatedStarts(docs: DataFrame, idCol: String,
                               textCol: String, k: Int): DataFrame = {
    val grams = gramRows(docs, idCol, textCol, k)
    val dup = grams.groupBy("__h")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .where(col("__mn") =!= col("__mx"))
      .select("__h")
    grams.join(dup, "__h").select(col(idCol), col("start"))
  }

  /** k-gram position rows (idCol, start, __h): the 16-byte md5 of every
    * k-token gram, 1-based token position. The shared front end of the
    * ExactSubstr family — [[duplicateSpans]] censuses these within one
    * corpus, [[Decontaminate.contaminatedSpans]] probes them against an
    * eval corpus. Texts never shuffle: the explode is local and only the
    * fixed-width (id, int, 16-byte) rows move. */
  private[operators] def gramRows(docs: DataFrame, idCol: String,
                                  textCol: String, k: Int): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("__ts"))
      .where(size(col("__ts")) >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(col("__ts")) - (k - 1)),
        i => unhex(md5(concat_ws(" ", slice(col("__ts"), i, lit(k))))))))
      .select(col(idCol), (col("pos") + 1).as("start"), col("col").as("__h"))

  /** Per-doc merged spans as the flat (s1, e1, s2, e2, …) int array over
    * 1-based inclusive token positions, from (idCol, start) gram-start
    * rows — one groupBy(id) with a per-doc sorted collect (bounded by the
    * doc's own token count, the same bound as holding the tokens array)
    * and one codegen'd merge kernel ([[graft.functions.MergeSpans]]). */
  private[operators] def spansFromStarts(starts: DataFrame, idCol: String,
                                         k: Int): DataFrame =
    starts
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("start"))).as("__starts"))
      .select(col(idCol),
        graft.functions.SpanExpressions.mergeSpans(col("__starts"), k)
          .as("__spans"))

  private def spanArrays(docs: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame =
    spansFromStarts(duplicatedStarts(docs, idCol, textCol, k), idCol, k)

  /** (idCol, span_start, span_end) rows from a flat span-array frame. */
  private[operators] def explodeSpanArrays(spanArr: DataFrame,
                                           idCol: String): DataFrame =
    spanArr
      .select(col(idCol), explode(transform(
        // `/` is double division in Spark — cast back to int for sequence
        sequence(lit(0), (size(col("__spans")) / 2).cast("int") - 1),
        i => struct(
          element_at(col("__spans"), i * 2 + 1).as("span_start"),
          element_at(col("__spans"), i * 2 + 2).as("span_end")))).as("__sp"))
      .select(col(idCol), col("__sp.span_start"), col("__sp.span_end"))

  /** Removal against a precomputed span-array frame: covered tokens drop,
    * span-free docs pass through `textCol` byte-identical, other columns
    * untouched. */
  private[operators] def removeSpansWith(docs: DataFrame, spanArr: DataFrame,
                                         idCol: String,
                                         textCol: String): DataFrame =
    docs.join(spanArr, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__spans").isNull, col(textCol))
          .otherwise(graft.functions.SpanExpressions.removeSpans(
            tokens(col(textCol)), col("__spans"))))
      .drop("__spans")

  /** Duplicated-span report: (idCol, span_start, span_end) — every
    * maximal run of token positions (1-based, inclusive) covered by some
    * `minTokens`-token gram shared verbatim with another doc. Adjacent
    * runs merge (covered positions form one contiguous region). */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     minTokens: Int): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    explodeSpanArrays(spanArrays(docs, idCol, textCol, minTokens), idCol)
  }

  /** Removal transform: every duplicated span occurrence is dropped from
    * every doc (the public deduplicate-text-datasets tool's semantics —
    * keeping one canonical copy per span would need a global winner
    * election per span cluster; compose [[dropNearDupsKeepBest]] upstream
    * when survivor selection matters). Docs with no duplicated span pass
    * through with `textCol` byte-identical; rebuilt docs are whitespace-
    * normalized (tokens rejoined with single spaces) and may become empty
    * when fully covered. All other columns pass through unchanged. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           minTokens: Int): DataFrame =
    removeSpansWith(docs, spanArrays(docs, idCol, textCol, minTokens),
      idCol, textCol)

  // -------------------------------------------------------------------
  // Paragraph-grain exact dedup — CCNet stage 1 (Wenzek et al. 2020,
  // "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  // Data"): census every paragraph corpus-wide by a NORMALIZED hash
  // (lowercase, non-letter characters stripped, whitespace collapsed —
  // the paper's digit/punctuation-insensitive key), keep exactly ONE
  // canonical occurrence of each duplicated paragraph, drop the rest,
  // and re-stitch each affected doc from its surviving paragraphs.
  // Boilerplate (navigation bars, cookie banners, license footers) is
  // paragraph-shaped and survives doc-level dedup — this is the stage
  // that removes it.
  // -------------------------------------------------------------------

  /** CCNet paragraph dedup. `sep` delimits paragraphs within `textCol`
    * (a literal separator, not a regex; "\n" for line-grain CCNet).
    * Canonical election is the keep-best doctrine of [[dropNearDups]]:
    * the occurrence with the smallest (id, position) survives — min doc
    * id corpus-wide, first occurrence within that doc (so a paragraph
    * repeated inside one doc also collapses to its first occurrence).
    * Paragraphs whose normalized form is EMPTY (blank lines, pure
    * digits/punctuation) are structure, not content — never censused,
    * always kept. Docs that lose nothing pass through `textCol`
    * byte-identical (they skip the split/rejoin entirely); other
    * columns pass through unchanged everywhere.
    *
    * Scale shape: paragraph TEXT never shuffles — each doc explodes
    * locally to fixed-width (id, pos, 16-byte md5-of-normalized) rows
    * and only those move. The census is one hash aggregation per gram
    * hash with a partial-aggregable min(struct(id, pos)) winner (never
    * a posting list: boilerplate in 100M docs costs one struct per map
    * partition). Dropped positions join back by hash (co-partitioned),
    * fold to one bounded int array per AFFECTED doc, and the rebuild
    * joins that array to `docs` by id — untouched docs see a NULL and
    * keep their original string. */
  def dropDuplicateParagraphs(docs: DataFrame, idCol: String,
                              textCol: String,
                              sep: String = "\n"): DataFrame = {
    val occ = paragraphOccurrences(docs, idCol, textCol, sep)
    val winners = occ.groupBy("__h")
      .agg(min(struct(col(idCol).as("id"), col("pos").as("p"))).as("__w"),
        count(lit(1)).as("__c"))
      .where(col("__c") > 1) // unique paragraphs have nothing to drop
      .select(col("__h"), col("__w.id").as("__wid"), col("__w.p").as("__wp"))
    val drops = occ.join(winners, "__h")
      .where(!(col(idCol) === col("__wid") && col("pos") === col("__wp")))
    rebuildWithoutPositions(docs, drops, idCol, textCol, sep)
  }

  /** WITHIN-document repetition removal — the C4/Gopher "fix" stage
    * that salvages a boilerplate-heavy document instead of dropping it:
    * drop all-but-FIRST occurrences of each duplicate line (normalized
    * as in [[dropDuplicateParagraphs]]) inside each document and
    * re-stitch. Cross-document boilerplate is
    * [[dropDuplicateParagraphs]]'s job; this one NEVER looks across
    * documents — a line shared by every doc but unique within each is
    * kept everywhere — so after it
    * [[graft.operators.Quality.repetitionReport]]'s duplicate-line
    * fraction of the output is ~0 (law-tested).
    *
    * Lines normalizing to "" (blank, digits/punct-only) are structure,
    * not content — always kept, even when repeated; docs that lose
    * nothing pass through `textCol` byte-identical, and a NULL text
    * stays NULL.
    *
    * Each ROW is its own document: a line repeated across two rows that
    * share an id is kept in both (the census never looks across rows).
    *
    * Scale shape: one projection over one scan — each row splits into
    * lines, normalizes them with the [[paragraphNorm]] column, and keeps
    * first occurrences in one hash-set pass
    * ([[graft.functions.DocKernels.keepFirstLines]]); nothing shuffles
    * and no join runs. */
  def removeRepeatedLines(docs: DataFrame, idCol: String, textCol: String,
                          sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "paragraph separator must be non-empty")
    val lines = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    docs.withColumn(textCol, graft.functions.DocExpressions.keepFirstLines(
      col(textCol), lines, transform(lines, paragraphNorm(_)), sep))
  }

  /** The NORMALIZED paragraph (lower, non-letters stripped keeping
    * whitespace, runs collapsed, trimmed — replayable verbatim in ANSI
    * SQL) that paragraph dedup censuses and line removal compares.
    * \p{L} keeps letters of EVERY script — an [a-z]-only class would
    * normalize all non-Latin text to "" and make paragraph dedup a
    * silent no-op on the multilingual corpora CCNet targets. */
  private def paragraphNorm(p: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(p), "[^\\p{L}\\s]", ""), "\\s+", " "))

  /** Fixed-width paragraph-occurrence rows (idCol, pos, __h): 1-based
    * split position and the 16-byte md5 of the [[paragraphNorm]]
    * paragraph. Paragraphs normalizing to "" are structure, not
    * content — never emitted. Texts never shuffle: the
    * split/normalize/hash is local per doc row. */
  private def paragraphOccurrences(docs: DataFrame, idCol: String,
                                   textCol: String, sep: String): DataFrame = {
    require(sep.nonEmpty, "paragraph separator must be non-empty")
    val sepRe = java.util.regex.Pattern.quote(sep)
    docs
      .select(col(idCol), posexplode(split(col(textCol), sepRe, -1)))
      .select(col(idCol), (col("pos") + 1).as("pos"),
        paragraphNorm(col("col")).as("__n"))
      .where(col("__n") =!= "")
      .select(col(idCol), col("pos"), unhex(md5(col("__n"))).as("__h"))
  }

  /** Re-stitch each affected doc without its dropped 1-based positions
    * (`drops`: (idCol, pos) rows — folded to one bounded int array per
    * affected doc). Untouched docs keep their original string
    * byte-identical (they skip the split/rejoin entirely). */
  private def rebuildWithoutPositions(docs: DataFrame, drops: DataFrame,
                                      idCol: String, textCol: String,
                                      sep: String): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val perDoc = drops
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("pos"))).as("__dp"))
    docs.join(perDoc, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__dp").isNull, col(textCol))
          .otherwise(concat_ws(sep,
            filter(split(col(textCol), sepRe, -1),
              (_, i) => !array_contains(col("__dp"), i + 1)))))
      .drop("__dp")
  }

  /** Persist the paragraph census of an ingested corpus: the DISTINCT
    * normalized-paragraph hashes, parquet at `root/hashes` — the stored
    * half of [[dropDuplicateParagraphsDelta]] (16 bytes per distinct
    * paragraph, orders of magnitude under the corpus). */
  def saveParagraphStore(docs: DataFrame, idCol: String, textCol: String,
                         root: String, sep: String = "\n"): Unit =
    paragraphOccurrences(docs, idCol, textCol, sep)
      .select("__h").distinct()
      // hive batch partitions from day one (the initial corpus is batch
      // -1) so every delta append is a per-batch overwrite dir — the
      // replay-idempotent sink discipline
      .withColumn("batch", lit(-1L))
      .write.partitionBy("batch").mode("overwrite").parquet(s"$root/hashes")

  /** INCREMENTAL paragraph dedup (the q55/q58 delta doctrine at
    * paragraph grain): deduplicate a delta batch against the stored
    * census without touching the ingested corpus — a delta paragraph
    * drops when its normalized hash is already stored (some earlier doc
    * holds the canonical copy) or loses the within-delta election
    * (min (id, pos) keeps); survivors re-stitch, and their hashes fold
    * into the store so the next delta sees them. Already-emitted docs
    * are never rewritten — ≡ the batch [[dropDuplicateParagraphs]] over
    * (ingested ∪ delta) restricted to the delta docs whenever delta ids
    * sort after ingested ids (the append-only id contract every delta
    * path here shares; PipelineOpsSpec pins the equivalence).
    *
    * Scale shape: the delta's fixed-width (id, pos, hash) rows probe a
    * Bloom filter of the stored hashes first — bloom misses are
    * DEFINITELY fresh and skip the store entirely, so the exact
    * confirm join touches only the (tiny) hit set, never
    * delta × store.
    *
    * The store update writes the delta's fresh distinct hashes to a
    * per-batch overwrite partition (`hashes/batch=<id>`). Pass a STABLE
    * `batchId` to make retries idempotent: the probe EXCLUDES the
    * call's own batch partition from the store read, so a re-run after
    * a downstream failure sees exactly the pre-call store (its earlier
    * partial append cannot make the delta's own paragraphs look
    * "already ingested" and silently strip every doc) and overwrites
    * its own partition. Without `batchId` a fresh id is allocated per
    * call — fine for one-shot pipelines, NOT retry-safe. */
  def dropDuplicateParagraphsDelta(delta: DataFrame, idCol: String,
                                   textCol: String, root: String,
                                   sep: String = "\n",
                                   update: Boolean = true,
                                   expectedStoreHashes: Option[Long] = None,
                                   fpp: Double = 0.01,
                                   batchId: Option[Long] = None): DataFrame = {
    // batch -1 is RESERVED for the initial corpus partition written by
    // saveParagraphStore: a delta claiming it would exclude the whole
    // initial store from the probe (every stored paragraph looks fresh)
    // and then overwrite hashes/batch=-1, destroying the census
    require(batchId.forall(_ >= 0),
      s"batchId must be >= 0 (got ${batchId.get}) — batch -1 is " +
        "reserved for the initial corpus written by saveParagraphStore")
    val spark = delta.sparkSession
    val storeAll = spark.read.parquet(s"$root/hashes")
    require(storeAll.columns.contains("batch"),
      s"$root/hashes predates batch partitions — rebuild it with " +
        "saveParagraphStore")
    val store = batchId.map(b => storeAll.filter(col("batch") =!= b))
      .getOrElse(storeAll).select("__h")
    // delta-sized fixed-width rows materialized ONCE: occ feeds the
    // bloom-hit filter, the fresh filter, the within-delta election and
    // the store update — composed lazily the split+normalize+md5
    // pipeline re-ran per branch (4-6× per action)
    val occ = paragraphOccurrences(delta, idCol, textCol, sep)
      .transform(graft.util.Stage.materialize)
    // the Bloom layer wants LONG keys (the docShingles doctrine) — fold
    // the 16-byte census hash through xxhash64 for the probe only; the
    // exact confirm joins still run on the full md5 bytes
    val bloom = Decontaminate.serializeBloom(
      store.select(xxhash64(col("__h")).as("__x")), "__x",
      expectedStoreHashes.getOrElse(store.count()), fpp)
    val hits = occ.filter(
      Decontaminate.mightContain(bloom, xxhash64(col("__h"))))
    // bloom hit + exact confirm → canonical already ingested → drop
    val stored = hits.join(store, Seq("__h"), "left_semi")
      .select(col(idCol), col("pos"))
    // fresh = definite misses + false positives the exact join cleared;
    // within-delta election over exactly these (a hash that is stored
    // must NOT also elect a delta winner)
    val fresh = occ.filter(
        !Decontaminate.mightContain(bloom, xxhash64(col("__h"))))
      .unionByName(hits.join(store, Seq("__h"), "left_anti"))
    val winners = fresh.groupBy("__h")
      .agg(min(struct(col(idCol).as("id"), col("pos").as("p"))).as("__w"),
        count(lit(1)).as("__c"))
      .where(col("__c") > 1)
      .select(col("__h"), col("__w.id").as("__wid"), col("__w.p").as("__wp"))
    val freshLosers = fresh.join(winners, "__h")
      .where(!(col(idCol) === col("__wid") && col("pos") === col("__wp")))
      .select(col(idCol), col("pos"))
    val rebuilt = rebuildWithoutPositions(delta,
      stored.unionByName(freshLosers), idCol, textCol, sep)
    if (update) {
      val bid = batchId.getOrElse {
        val dir = new org.apache.hadoop.fs.Path(s"$root/hashes")
        graft.streaming.StoreCompaction.nextBatch(
          dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
      }
      fresh.select("__h").distinct()
        .write.mode("overwrite").parquet(s"$root/hashes/batch=$bid")
    }
    rebuilt
  }
}
