package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.builders.Tpch
import graft.functions.TextFunctions
import graft.model.{DataCube, Hierarchy, Measure}
import graft.operators.{Dedup, Events, Sampling, Similarity}
import graft.util.SessionMemo

/** Corpus-curation and sampling queries: splits, mixing weights, sequence
  * packing, chunking, stratified/diversity sampling, DSIR, quality
  * classifier + CCNet buckets, prototype pruning, curriculum shards, and
  * the composed end-to-end pipelines.
  * Part of the [[ExtensionQueries]] surface (see its scaladoc for the
  * portability conventions every oracle follows).
  */
private[queries] trait CurationQueries { self: ExtensionQueryHelpers =>

  // -------------------------------------------------------------------
  // q35 — deterministic train/val/test split: hash-of-id assignment
  //       (Sampling.assignSplit), per-split count + id range + char
  //       volume. The ORACLE CHECKS MEMBERSHIP itself (same md5-derived
  //       uniform in DuckDB), not just sizes — a changed hash or
  //       threshold arithmetic fails the row hash.
  // -------------------------------------------------------------------
  def q35(s: SparkSession, dir: String): DataFrame =
    sorted(Sampling.assignSplit(docs(s, dir), "doc_id")
      .groupBy("split")
      .agg(count("*").as("n"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"),
        sum("n_chars").as("sum_chars")))

  val q35Sql: String =
    """WITH h AS (
      |  SELECT doc_id, n_chars,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |           / 1152921504606846976.0 AS u
      |  FROM documents
      |)
      |SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
      |            ELSE 'test' END AS split,
      |       count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM h GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q40 — sequence packing: per-source streaming concat-and-cut into
  //       512-token packs (Packing.packSummary); per-pack doc count and
  //       token fill. Window cumsum partitions by source — no
  //       unpartitioned-window funnel.
  // -------------------------------------------------------------------
  def q40(s: SparkSession, dir: String): DataFrame =
    sorted(graft.operators.Packing.packSummary(
      docs(s, dir), "doc_id", TextFunctions.nTokens(col("text")),
      budget = 512, shardCol = "source"))

  val q40Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |         len(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents
      |), s AS (
      |  SELECT source, doc_id, tok,
      |         SUM(tok) OVER (PARTITION BY source ORDER BY doc_id) - tok AS strt
      |  FROM t
      |)
      |SELECT source, CAST(floor(strt / 512.0) AS BIGINT) AS pack_seq,
      |       count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens
      |FROM s GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q47 — RAG token-window chunking: width-64 windows advancing by 48
  //       (16-token overlap), chunk text fingerprinted for cross-engine
  //       hash comparison. Start positions = multiples of stride below
  //       the token count in BOTH engines (range() in DuckDB, the
  //       floor-div sequence in Spark) — the window arithmetic itself is
  //       what the hash pins.
  // -------------------------------------------------------------------
  def q47(s: SparkSession, dir: String): DataFrame =
    sorted(graft.operators.Chunking.chunkFingerprints(
      docs(s, dir), "doc_id", "text", width = 64, stride = 48))

  val q47Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents
      |), st AS (
      |  SELECT doc_id, t, unnest(range(0, len(t), 48)) AS strt FROM toks
      |), c AS (
      |  SELECT doc_id, CAST(strt // 48 AS INT) AS chunk_idx,
      |         list_slice(t, strt + 1, strt + 64) AS chunk
      |  FROM st
      |)
      |SELECT doc_id, chunk_idx, CAST(len(chunk) AS INT) AS n_tokens,
      |       md5(array_to_string(chunk, ' ')) AS chunk_fp
      |FROM c
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q48 — temperature-weighted corpus mixing (tokens^0.7 sampling
  //       weights): per-source token totals are integer-exact; the only
  //       float arithmetic (pow + normalize) is rounded to 6 decimals in
  //       both engines.
  // -------------------------------------------------------------------
  def q48(s: SparkSession, dir: String): DataFrame =
    sorted(graft.operators.Corpus.mixingWeights(
      docs(s, dir), "source", TextFunctions.nTokens(col("text")),
      temperature = 0.7))

  val q48Sql: String =
    """WITH per AS (
      |  SELECT source,
      |         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |           AS tokens
      |  FROM documents GROUP BY 1
      |)
      |SELECT source, tokens,
      |       round(pow(CAST(tokens AS DOUBLE), 0.7) /
      |             (SELECT sum(pow(CAST(tokens AS DOUBLE), 0.7)) FROM per), 6)
      |         AS weight
      |FROM per
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q56 — corpus-mix construction end-to-end: temperature weights (q48)
  //       → per-source keep rates min(1, budget·w/tokens) → deterministic
  //       hash sampling (q35's md5-u) → per-source sampled mass. The
  //       oracle re-derives the rates from the same integer token counts
  //       and 6-decimal-rounded weights, so the float arithmetic is
  //       bit-identical and membership itself is checked.
  // -------------------------------------------------------------------
  def q56(s: SparkSession, dir: String): DataFrame =
    sorted(Sampling.sampleToBudget(
      docs(s, dir), "doc_id", "source", TextFunctions.nTokens(col("text")),
      budgetTokens = 10000L, temperature = 0.7)
      .select(col("doc_id"), col("source"),
        TextFunctions.nTokens(col("text")).cast("long").as("tok"))
      .groupBy("source")
      .agg(count("*").as("n_docs"), sum("tok").as("sum_tokens")))

  val q56Sql: String =
    """WITH per AS (
      |  SELECT source,
      |         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |           AS tokens
      |  FROM documents GROUP BY 1
      |), w AS (
      |  SELECT source, tokens,
      |         round(pow(CAST(tokens AS DOUBLE), 0.7) /
      |               (SELECT sum(pow(CAST(tokens AS DOUBLE), 0.7)) FROM per), 6)
      |           AS weight
      |  FROM per
      |), r AS (
      |  SELECT source, least(1.0, 10000.0 * weight / tokens) AS rate FROM w
      |), s AS (
      |  SELECT d.doc_id, d.source,
      |         CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS tok
      |  FROM documents d JOIN r USING (source)
      |  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |          / 1152921504606846976.0 < r.rate
      |)
      |SELECT source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens
      |FROM s GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q65 — EXACT-quota stratified sample: exactly N rows per source,
  //       membership = the quota-prefix of the per-source ranking by
  //       the portable md5 hash (Sampling.stratifiedExactSample). The
  //       ORACLE REPRODUCES MEMBERSHIP row-for-row (same md5-derived
  //       ordering in DuckDB), so a changed hash, ordering, or tiebreak
  //       fails the row hash — not just the counts.
  // -------------------------------------------------------------------
  def q65(s: SparkSession, dir: String): DataFrame =
    sorted(Sampling.stratifiedExactSample(docs(s, dir), "doc_id", "source",
        Map("src1" -> 40, "src2" -> 10, "src3" -> 7))
      .select("doc_id", "source"))

  val q65Sql: String =
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source ORDER BY
      |           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |             AS BIGINT) / 1152921504606846976.0, doc_id) AS rn
      |  FROM documents
      |)
      |SELECT doc_id, source FROM ranked
      |WHERE rn <= CASE source WHEN 'src1' THEN 40 WHEN 'src2' THEN 10
      |                        WHEN 'src3' THEN 7 ELSE 0 END
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q77 — DATA-QUALITY AUDIT: declarative constraint checks (Quality
  //       .audit) — completeness, key uniqueness, range, accepted
  //       values — ALL computed in one aggregation over one scan of
  //       orders (rules 3 and 4 differ only in bound so the report
  //       shows both a passing and a failing range rule). Exact counts;
  //       oracle = the same metrics as a UNION ALL of plain aggregates.
  // -------------------------------------------------------------------
  def q77(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    import graft.operators.Quality._
    val orders = Tpch.table(s, dir, "orders")
    sorted(Quality.audit(orders, Seq(
      NotNull("o_custkey"),
      Unique(Seq("o_orderkey")),
      InRange("o_totalprice", 0.0, 600000.0),
      InRange("o_totalprice", 0.0, 100000.0),
      AcceptedValues("o_orderpriority", Seq(
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))
  }

  val q77Sql: String =
    """SELECT 1 AS rule_no, 'not_null' AS rule, 'o_custkey' AS target,
      |       count(*) AS n_rows,
      |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS violations,
      |       CASE WHEN sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
      |            THEN 1 ELSE 0 END AS pass
      |FROM orders
      |UNION ALL
      |SELECT 2, 'unique', 'o_orderkey', count(*),
      |       CAST(count(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
      |            - count(DISTINCT o_orderkey) AS BIGINT),
      |       CASE WHEN count(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
      |                 = count(DISTINCT o_orderkey) THEN 1 ELSE 0 END
      |FROM orders
      |UNION ALL
      |SELECT 3, 'in_range', 'o_totalprice', count(*),
      |       CAST(sum(CASE WHEN o_totalprice IS NOT NULL
      |                     AND (o_totalprice < 0 OR o_totalprice > 600000)
      |                     THEN 1 ELSE 0 END) AS BIGINT),
      |       CASE WHEN sum(CASE WHEN o_totalprice IS NOT NULL
      |                     AND (o_totalprice < 0 OR o_totalprice > 600000)
      |                     THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
      |FROM orders
      |UNION ALL
      |SELECT 4, 'in_range', 'o_totalprice', count(*),
      |       CAST(sum(CASE WHEN o_totalprice IS NOT NULL
      |                     AND (o_totalprice < 0 OR o_totalprice > 100000)
      |                     THEN 1 ELSE 0 END) AS BIGINT),
      |       CASE WHEN sum(CASE WHEN o_totalprice IS NOT NULL
      |                     AND (o_totalprice < 0 OR o_totalprice > 100000)
      |                     THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
      |FROM orders
      |UNION ALL
      |SELECT 5, 'accepted_values', 'o_orderpriority', count(*),
      |       CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
      |                     AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH',
      |                       '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
      |                     THEN 1 ELSE 0 END) AS BIGINT),
      |       CASE WHEN sum(CASE WHEN o_orderpriority IS NOT NULL
      |                     AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH',
      |                       '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
      |                     THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
      |FROM orders
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST, 6 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q83 — N-GRAM LM QUALITY SCORE (the perplexity filter): add-one-
  //       smoothed bigram model trained on the corpus itself, each doc
  //       scored by mean -log2 P(w2|w1). Bigrams come from a per-row
  //       zip of the token array with its own tail (no self-join); the
  //       model is two count aggregations; scoring is one shuffle join
  //       on the bigram key. The 4-decimal rounding makes the float
  //       mean hash-stable against summation-order drift.
  // -------------------------------------------------------------------
  def q83(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    sorted(Corpus.lmScore(docs(s, dir), "doc_id", "text"))
  }

  val q83Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(trim(text), '\s+'),
      |                     w -> w <> '') AS t
      |  FROM documents
      |), tok AS (
      |  SELECT unnest(t) AS w FROM toks
      |), uni AS (
      |  SELECT w, count(*) AS cw FROM tok GROUP BY 1
      |), v AS (
      |  SELECT count(DISTINCT w) AS v FROM tok
      |), bg AS (
      |  SELECT doc_id, t[g.i] AS w1, t[g.i+1] AS w2
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
      |  WHERE len(t) >= 2
      |), bgc AS (
      |  SELECT w1, w2, count(*) AS cbg FROM bg GROUP BY 1, 2
      |), scored AS (
      |  SELECT bg.doc_id,
      |         -log2((bgc.cbg + 1.0) / (uni.cw + v.v)) AS nll
      |  FROM bg
      |  JOIN bgc USING (w1, w2)
      |  JOIN uni ON uni.w = bg.w1
      |  CROSS JOIN v
      |)
      |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 4) AS nll
      |FROM scored GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q93 — LEARNED QUALITY CLASSIFIER verdict: the CCNet/fastText-style
  //       filter — hashed-BoW logistic regression trained to separate
  //       the fixture corpus ("curated") from deterministic id-salted
  //       gibberish ("crawl garbage"), evaluated on a held-out split.
  //       LBFGS coefficients carry fp summation noise, so the
  //       hash-checked columns are the deterministic test size plus a
  //       wide-margin accuracy verdict (q31/q50 doctrine).
  // -------------------------------------------------------------------
  def q93(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Quality
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    // garbage shares a 200-token vocabulary (id-arithmetic draw), so the
    // held-out half is IN-vocabulary — a per-doc-unique salt would make
    // every test token OOV and the verdict would measure the prior
    val garbage = d.select((col("doc_id") + 100000L).as("doc_id"),
      concat_ws(" ", (0 until 40).map(i =>
        concat(lit("gk_"),
          pmod(col("doc_id") * 7 + lit(i * 13), lit(200)))): _*).as("text"))
    val all = d.withColumn("label", lit(1))
      .unionByName(garbage.withColumn("label", lit(0)))
    val train = all.filter(pmod(col("doc_id"), lit(2)) === 0)
    val test = all.filter(pmod(col("doc_id"), lit(2)) === 1)
    // same bounded-fit doctrine as q142: maxIter 10 → 5 (fixture text vs
    // id-salted gibberish separates wide in few iterations — verdict
    // measured 1 at every SF) + the 8k-row stratified at-scale bound
    // (inert at fixture SFs; both classes always survive the thin)
    val model = Quality.trainQualityClassifier(train, "text", "label",
      numFeatures = 1 << 16, maxIter = 5, maxTrainRows = 8192)
    val scored = Quality.scoreQuality(model, test, "doc_id", "text")
      .join(test.select("doc_id", "label"), "doc_id")
    val row = scored.agg(count(lit(1)).as("n"),
      sum(when((col("quality") >= 0.5).cast("int") === col("label"), 1L)
        .otherwise(0L)).as("correct")).head()
    val (n, correct) = (row.getLong(0), row.getLong(1))
    Seq((n, if (correct >= (n * 0.95).toLong) 1 else 0))
      .toDF("n_test", "acc_ok")
  }

  val q93Sql: String =
    """SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 2 = 1)
      |          + (SELECT count(*) FROM documents WHERE (doc_id + 100000) % 2 = 1)
      |        AS BIGINT) AS n_test,
      |       1 AS acc_ok""".stripMargin

  // -------------------------------------------------------------------
  // q142 — TRAINED LANGUAGE-ID verdict (fastText shape: hashed char
  //        n-grams + multinomial LR): three pseudo-languages planted by
  //        id arithmetic with disjoint character inventories (prefixes
  //        ka/zo/mx, offset numeral ranges), trained on even ids,
  //        evaluated held-out on odd ids. LBFGS coefficients carry fp
  //        noise, so the hash-checked columns are the deterministic
  //        test size plus a wide-margin accuracy verdict (q93 doctrine).
  //        The heuristic q17 langId stays the zero-setup fallback.
  // -------------------------------------------------------------------
  def q142(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Quality
    val li = pmod(col("doc_id"), lit(3)).cast("int")
    val planted = docs(s, dir).select(col("doc_id"),
      element_at(array(lit("aa"), lit("bb"), lit("cc")), li + 1).as("lang"),
      concat_ws(" ", (0 until 30).map(i =>
        concat(element_at(array(lit("ka"), lit("zo"), lit("mx")), li + 1),
          lit("_"),
          pmod(col("doc_id") * 7 + lit(i * 13), lit(150)) + li * 150)): _*)
        .as("text"))
    val train = planted.filter(pmod(col("doc_id"), lit(2)) === 0)
    val test = planted.filter(pmod(col("doc_id"), lit(2)) === 1)
    // Fit cost is bounded two ways, output unchanged (verdict only needs
    // acc ≥ 95% held-out, and the planted languages have DISJOINT
    // character inventories — verdict measured 1 at every SF with these
    // settings): (a) maxIter 10 → 5 — each LBFGS iteration is 1-2 full
    // gradient passes (more under line search), and at bench scale the
    // fit is pass-count × job-overhead bound (one 12–20 s job measured),
    // while the data is linearly separable in very few iterations;
    // (b) maxTrainRows = 8192 label-stratified (inert at the fixture
    // SFs, the 100 TB bound — an UNbounded LBFGS fit is convergence-
    // luck-dominated: 12.5 s → 223 s swings on identical data, the r16
    // langid-gate lesson).
    val model = Quality.trainLangId(train, "text", "lang",
      numFeatures = 1 << 16, maxIter = 5, maxTrainRows = 8192)
    val pred = Quality.predictLang(model, test, "doc_id", "text")
      .select(col("doc_id"), col("lang").as("pred"))
    val row = pred.join(test.select("doc_id", "lang"), "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("ok"))
      .head()
    val (n, correct) = (row.getLong(0), row.getLong(1))
    Seq((n, if (correct >= (n * 0.95).toLong) 1 else 0))
      .toDF("n_test", "acc_ok")
  }

  val q142Sql: String =
    """SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 2 = 1)
      |        AS BIGINT) AS n_test,
      |       1 AS acc_ok""".stripMargin

  // -------------------------------------------------------------------
  // q143 — CURATION PIPELINE v4: the full RefinedWeb/CCNet chain as ONE
  //        oracle row. TEN composed stages: block-preserving HTML
  //        extraction → language-ID gate (keep en; docs planted French
  //        by id arithmetic must drop) → Gopher quality gate →
  //        WITHIN-doc repeated-line removal (each doc repeats its own
  //        boiler line, once case-varied) → CROSS-doc paragraph dedup
  //        (group boilerplate + the "Doc <n>" title lines, which all
  //        normalize to "doc" — one global winner) → post-dedup length
  //        re-gate → MinHash near-dup drop with keep-best (longest
  //        text) → span decontamination against the raw src0 slice
  //        (the planted group boiler of an src0 ref doc is itself a
  //        12-gram leak — cut where it survived dedup) → UniMax
  //        allocation at budget 3/2 · total, 2 epochs max (the
  //        PLAN-composed unimaxWeights, so the chain is one DAG) →
  //        deterministic shuffle-to-shards. Output: per (shard, source)
  //        doc count, token mass, and the source's UniMax weight —
  //        drift in ANY stage or stage boundary fails one hash.
  // -------------------------------------------------------------------
  /** The v4 chain's stage frames, shared by q143 (final shard output)
    * and q152 (stage-yield funnel) so the two oracle rows can never
    * drift apart: both count/aggregate the SAME frames at the SAME
    * localCheckpoint'ed boundaries. */
  private[graft] final case class V4Stages(
      input: DataFrame, extracted: DataFrame, en: DataFrame,
      kept: DataFrame, fixed: DataFrame, para: DataFrame,
      regated: DataFrame, sized: DataFrame, deduped: DataFrame,
      trainSide: DataFrame, cleaned: DataFrame)

  /** Build-once memo for the v4 chain's stage frames, keyed per
    * (session, dir) — the cube/shingle-index doctrine: q143 and q152
    * both consume the SAME ten localCheckpoint'ed stage boundaries, so
    * the second consumer must ride the first one's materialization
    * instead of re-running the whole chain (the chain is the single
    * most expensive composed computation in the suite). Filling
    * `cleaned` runs every stage (each boundary is localCheckpoint'ed
    * eagerly at build); the bench accounts it on its own `build_v4`
    * line. Frames are checkpoint-backed, so there is nothing to
    * unpersist: dropping the reference lets the ContextCleaner reclaim
    * the blocks. */
  private[graft] val v4Memo = new SessionMemo[V4Stages]("v4",
    build = buildV4Stages, fill = _.cleaned.count(): Unit, release = _ => ())

  private[queries] def v4Stages(s: SparkSession, dir: String): V4Stages =
    v4Memo.get(s, dir)

  /** Drop the memoized v4 chain (the curation workload rebuilds it). */
  def invalidateV4(s: SparkSession, dir: String): Unit = v4Memo.invalidate(s, dir)

  /** Build and fill the v4 chain (q143 AND q152 consume it, so its cost
    * must not be absorbed into whichever runs first). */
  def warmV4(s: SparkSession, dir: String): Unit = v4Memo.warm(s, dir)

  /** Label the jobs a stage boundary triggers (guide-§1.5 job labels:
    * the bench UI, the traced phase records and `Jobs.counted` with a
    * description attribute work per stage).
    * Restores the caller's previous description (advisor note r17). */
  private def lbl[A](s: SparkSession, what: String)(body: => A): A =
    graft.util.Jobs.labeled(s.sparkContext, what)(body)

  private def buildV4Stages(s: SparkSession, dir: String): V4Stages = {
    import graft.operators.{Decontaminate, Dedup, Quality}
    val t = docs(s, dir)
      .select(col("doc_id"), col("source"),
        TextFunctions.tokens(col("text")).as("ts"))
      .where(size(col("ts")) >= 24)
    // the plant joins on rid = doc_id % 7 + 1 ∈ [1, 7], so only the
    // boilers of docs 1..7 can ever match — filtering here turns a
    // whole-corpus tokenize pass (the optimizer cannot infer the
    // expression's domain) into a 7-row broadcast side; join output is
    // identical by construction
    val ref = t.where(col("doc_id").between(1, 7))
      .select(col("doc_id").as("rid"),
        concat_ws(" ", slice(col("ts"), 1, 12)).as("boiler"))
    def own = concat_ws(" ", slice(col("ts"), 11, 8))
    val frPad = Seq.fill(2)(
      "le la les et en du des un une est").mkString(" ")
    val body = when(pmod(col("doc_id"), lit(11)) === 3,
      concat(lit("<p>"), lit(frPad), lit("</p>")))
      .otherwise(concat(
        lit("<p>"), concat_ws(" ", slice(col("ts"), 1, 10)),
        lit("</p><p>"),
        when(pmod(col("doc_id"), lit(2)) === 0, upper(col("boiler")))
          .otherwise(col("boiler")),
        lit("</p><!-- hidden --><p>"), own, lit("</p><p>"), own,
        lit("</p><p>"),
        concat_ws(" ", slice(col("ts"), lit(19), size(col("ts")) - 18)),
        lit(" &amp; more</p>")))
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><script type=\"text/javascript\">var x = 1 < 2;" +
        "</script><style>p { color: red }</style></head><body>"), body,
      lit("</body></html>"))
    // Stage boundaries are localCheckpoint'ed — the production shape: a
    // real pipeline materializes between stages (CCNet writes each
    // stage's output). Composed lazily instead, every stage's 2-3
    // internal self-references MULTIPLY down the chain: the un-cut
    // ten-stage plan re-derived the extraction subtree 288 times
    // (measured at sf0.001) with zero exchange reuse. Each cut makes
    // its stage compute exactly once.
    val planted = t.withColumn("rid", col("doc_id") % 7 + 1)
      .join(ref, "rid")
      .select(col("doc_id"), col("source"), html.as("html"))
    val extracted = lbl(s, "v4: extract") {
      planted.select(col("doc_id"), col("source"),
        TextFunctions.stripHtmlBlocks(col("html")).as("text"))
        .transform(graft.util.Stage.materialize)
    }
    val en = extracted.where(TextFunctions.langId(col("text")) === "en")
    // the language gate, the Gopher gate and the line fix are all
    // per-row: the stage below is one projection over one scan
    val kept = en.where(Quality.gopherPasses(col("text"),
      Quality.GopherParams(minWords = 10, maxWords = 1000,
        stopwords = Seq("the", "a", "data", "value", "table"))))
    val fixed = lbl(s, "v4: lang+gopher+lines") {
      Dedup.removeRepeatedLines(kept, "doc_id", "text")
        .transform(graft.util.Stage.materialize)
    }
    val para = Dedup.dropDuplicateParagraphs(fixed, "doc_id", "text")
    def toksOf(c: Column) = array_remove(TextFunctions.tokens(c), "")
    val regated = para.where(size(toksOf(col("text"))) >= 10)
    val sized = lbl(s, "v4: paradedup+regate") {
      regated.withColumn("n_chars2", length(col("text")))
        .transform(graft.util.Stage.materialize)
    }
    // capped shingle index materialized ONCE and fed to the LSH with
    // maxDf = None — the buildShingleIndex contract: passing a raw frame
    // plus maxDf re-runs the tokenize+shingle+distinct+cap pipeline in
    // every consuming branch (signatures, both verification sides,
    // sizes — 4× per action)
    val v4ShIdx = lbl(s, "v4: shingle-index") {
      Dedup.buildShingleIndex(sized, "doc_id", "text", n = 3)
        .transform(graft.util.Stage.materialize)
    }
    val pairs = Dedup.minhashLsh(sized, "doc_id", "text",
      n = 3, k = 32, bands = 8, threshold = 0.8,
      maxDf = None, shinglesDf = Some(v4ShIdx))
    val deduped = Dedup.dropNearDupsKeepBest(sized, pairs,
      "doc_id", "n_chars2")
    val evalDocs = docs(s, dir).where(col("source") === "src0")
    val trainSide = deduped.where(col("source") =!= "src0")
    val cleaned = lbl(s, "v4: lsh-dedup+decontaminate") {
      Decontaminate.removeContaminatedSpans(
        trainSide, evalDocs,
        "doc_id", "text", minTokens = 12)
        .transform(graft.util.Stage.materialize)
    }
    V4Stages(t, extracted, en, kept, fixed, para, regated, sized,
      deduped, trainSide, cleaned)
  }

  private[queries] def v4Toks(c: Column): Column =
    array_remove(TextFunctions.tokens(c), "")

  def q143(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Corpus, Sampling}
    val st = v4Stages(s, dir)
    val cleaned = st.cleaned
    val alloc = Corpus.unimaxWeights(cleaned, "source",
      size(v4Toks(col("text"))), budgetNum = 3L, budgetDen = 2L,
      maxEpochs = 2.0)
    val sharded = Sampling.shuffleShards(cleaned, "doc_id", numShards = 8)
    val out = sharded.groupBy("shard", "source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(v4Toks(col("text"))).cast("long")).as("total_tokens"))
      .join(alloc.select(col("source"), col("weight")), Seq("source"))
    sorted(out.select(col("shard"), col("source"), col("n_docs"),
      col("total_tokens"), col("weight")))
  }

  // -------------------------------------------------------------------
  // q144 — SEQUENCE PACKING (the pretraining export's last mile): the
  //        corpus in deterministic md5-shuffled order, conceptually
  //        concatenated and cut every 512 tokens; each doc reports its
  //        global token offset and the sequence ids it spans (boundary
  //        splits are the standard contract). Exact distributed prefix
  //        sum — no global sort — with integral div end to end, so the
  //        oracle's ONE window replays every offset bit-for-bit.
  // -------------------------------------------------------------------
  def q144(s: SparkSession, dir: String): DataFrame =
    sorted(Sampling.packSequences(docs(s, dir), "doc_id",
      TextFunctions.nTokens(col("text")), seqLen = 512)
      .select("doc_id", "n_tokens", "start", "seq_first", "seq_last"))

  val q144Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS n_tokens,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |         AS BIGINT) / 1152921504606846976.0 AS u
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY u, doc_id) AS BIGINT) AS cum
      |  FROM t
      |)
      |SELECT doc_id, n_tokens,
      |  CAST(cum - n_tokens AS BIGINT) AS start,
      |  CASE WHEN n_tokens > 0
      |       THEN CAST((cum - n_tokens) // 512 AS BIGINT) END AS seq_first,
      |  CASE WHEN n_tokens > 0
      |       THEN CAST((cum - 1) // 512 AS BIGINT) END AS seq_last
      |FROM c
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST, 5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q145 — WEIGHTED SOURCE INTERLEAVE (the epoch schedule): UniMax
  //        picks the mixing weights, then each source's k-th document
  //        (deterministic md5-shuffled per-source order) lands at
  //        interleave key k / w — smooth weighted round-robin — and the
  //        global key order becomes the (shard, pos) loader layout via
  //        the exact pivot-bucket rank (no global sort). Oracle replays
  //        the water-fill, the per-source ranks, the key arithmetic,
  //        and the global order in plain windows.
  // -------------------------------------------------------------------
  def q145(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val d = docs(s, dir)
    val alloc = Corpus.unimaxWeights(d, "source",
      TextFunctions.nTokens(col("text")), budgetNum = 3L, budgetDen = 2L,
      maxEpochs = 2.0)
    sorted(Corpus.interleaveByWeight(d, "doc_id", "source",
      alloc.select(col("source"), col("weight")), numShards = 8,
      pivots = 64)
      .select("doc_id", "source", "shard", "pos"))
  }

  val q145Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      |  FROM documents
      |), per AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS tokens FROM t GROUP BY 1
      |), tot AS (
      |  SELECT CAST(3 * sum(tokens) // 2 AS DOUBLE) AS b, count(*) AS kk
      |  FROM per
      |), o AS (
      |  SELECT source, tokens, 2.0 * tokens AS cap,
      |         row_number() OVER (ORDER BY 2.0 * tokens, source) AS i,
      |         coalesce(sum(2.0 * tokens) OVER (
      |           ORDER BY 2.0 * tokens, source
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
      |  FROM per
      |), levl AS (
      |  SELECT (b - pfx) / (kk - i + 1) AS lc
      |  FROM o, tot WHERE cap >= (b - pfx) / (kk - i + 1)
      |  ORDER BY i LIMIT 1
      |), wts AS (
      |  SELECT source, round(least(cap, lc) / b, 6) AS w
      |  FROM o CROSS JOIN levl CROSS JOIN tot
      |), keyed AS (
      |  SELECT t.doc_id, t.source,
      |    row_number() OVER (PARTITION BY t.source ORDER BY
      |      CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15))
      |           AS BIGINT) / 1152921504606846976.0,
      |      t.doc_id) / w.w AS key
      |  FROM t JOIN wts w USING (source)
      |), r AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (ORDER BY key, doc_id) - 1 AS rk
      |  FROM keyed
      |)
      |SELECT doc_id, source, CAST(rk % 8 AS INT) AS shard,
      |       CAST(rk // 8 AS BIGINT) AS pos
      |FROM r
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST""".stripMargin

  /** The v4 chain's oracle CTE prefix: every stage replayed in SQL —
    * plant, block-aware extraction, stopword language-ID, Gopher rules,
    * within-doc then cross-doc line dedup with renumbered positions,
    * the length re-gate, exact-Jaccard pairs + recursive closure +
    * keep-best, the 12-gram decontamination islands, the UniMax
    * water-fill, and the md5 shard assignment. Built programmatically
    * so the language profiles stay single-sourced from
    * [[TextFunctions.langProfiles]]. Shared by q143 (final select) and
    * q152 (funnel select) — the two oracles read the SAME stage CTEs,
    * mirroring the shared [[v4Stages]] on the Spark side. */
  private[queries] val q143Ctes: String = {
    val profs = TextFunctions.langProfiles.sortBy(_._1)
    val hitExprs = profs.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, y -> y IN ($lst))) AS h_$l"
    }.mkString(",\n      |         ")
    val g = profs.map { case (l, _) => s"h_$l" }
      .mkString("greatest(", ", ", ")")
    // stripHtmlBlocks' chain, generated by a fold so the nesting is
    // balanced by construction (pattern, replacement) in engine order
    val extractExpr = Seq(
      ("'(?s)<!--.*?-->'", "' '"),
      ("'(?is)<script[^>]*>.*?</script>'", "' '"),
      ("'(?is)<style[^>]*>.*?</style>'", "' '"),
      ("'(?i)<(?:/?(?:p|div|h[1-6]|li|ul|ol|tr|table|blockquote|section|article)\\b[^>]*|br\\s*/?)>'",
        "chr(10)"),
      ("'<[^>]+>'", "' '"),
      ("'&nbsp;'", "' '"),
      ("'&lt;'", "'<'"),
      ("'&gt;'", "'>'"),
      ("'&quot;'", "'\"'"),
      ("'&#39;'", "chr(39)"),
      ("'&amp;'", "'&'"),
      ("'[ \\t\\r\\f]+'", "' '"),
      ("' ?\\n ?'", "chr(10)"),
      ("'\\n+'", "chr(10)"),
      ("'^\\n+|\\n+$$'", "''")
    ).foldLeft("html") { case (acc, (pat, rep)) =>
      s"regexp_replace($acc, $pat, $rep, 'g')"
    }
    s"""WITH RECURSIVE t AS MATERIALIZED (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ts
      |  FROM documents
      |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 24
      |), ref AS MATERIALIZED (
      |  SELECT doc_id AS rid, array_to_string(ts[1:12], ' ') AS boiler
      |  FROM t
      |), h AS MATERIALIZED (
      |  SELECT t.doc_id, t.source,
      |    '<html><head><title>Doc ' || CAST(t.doc_id AS VARCHAR) ||
      |    '</title><script type="text/javascript">var x = 1 < 2;' ||
      |    '</script><style>p { color: red }</style></head><body>' ||
      |    CASE WHEN t.doc_id % 11 = 3
      |         THEN '<p>le la les et en du des un une est ' ||
      |              'le la les et en du des un une est</p>'
      |         ELSE '<p>' || array_to_string(ts[1:10], ' ') || '</p><p>' ||
      |              (CASE WHEN t.doc_id % 2 = 0 THEN upper(boiler)
      |                    ELSE boiler END) ||
      |              '</p><!-- hidden --><p>' ||
      |              array_to_string(ts[11:18], ' ') || '</p><p>' ||
      |              array_to_string(ts[11:18], ' ') || '</p><p>' ||
      |              array_to_string(ts[19:], ' ') || ' &amp; more</p>'
      |    END || '</body></html>' AS html
      |  FROM t JOIN ref ON ref.rid = t.doc_id % 7 + 1
      |), x AS MATERIALIZED (
      |  SELECT doc_id, source, trim($extractExpr) AS text
      |  FROM h
      |), lt AS MATERIALIZED (
      |  SELECT doc_id, source, text,
      |         string_split_regex(trim(text), '\\s+') AS toks
      |  FROM x
      |), lh AS MATERIALIZED (
      |  SELECT doc_id, source, text,
      |         $hitExprs
      |  FROM lt
      |), en AS MATERIALIZED (
      |  SELECT doc_id, source, text FROM lh
      |  WHERE $g > 0 AND h_en = $g AND h_de < $g
      |), w AS MATERIALIZED (
      |  SELECT doc_id, source, text,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |                y -> y <> '') AS ws,
      |    string_split(text, chr(10)) AS ls
      |  FROM en
      |), v AS MATERIALIZED (
      |  SELECT doc_id, source, text,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    list_sum(list_transform(ws, y -> length(y))) AS sum_len,
      |    length(text) - length(replace(text, '#', '')) AS n_hash,
      |    (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
      |    len(ls) AS n_lines,
      |    len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS n_bullet,
      |    len(list_filter(ls, l -> rtrim(l) LIKE '%...')) AS n_eline,
      |    len(list_filter(ws, y -> regexp_matches(y, '[A-Za-z]'))) AS n_alpha,
      |    len(list_intersect(list_transform(ws, y -> lower(y)),
      |        ['the', 'a', 'data', 'value', 'table'])) AS stop_hits
      |  FROM w
      |), kept AS MATERIALIZED (
      |  SELECT doc_id, source, text FROM v
      |  WHERE n_words BETWEEN 10 AND 1000
      |    AND sum_len * 1.0 / n_words BETWEEN 3.0 AND 10.0
      |    AND (n_hash + n_ell) * 1.0 / n_words <= 0.1
      |    AND n_bullet * 1.0 / n_lines <= 0.1
      |    AND n_eline * 1.0 / n_lines <= 0.3
      |    AND n_alpha * 1.0 / n_words >= 0.8
      |    AND stop_hits >= 2
      |), sp AS MATERIALIZED (
      |  SELECT doc_id, source, string_split(text, chr(10)) AS ps FROM kept
      |), occ AS MATERIALIZED (
      |  SELECT doc_id, source, u.i AS pos, u.para,
      |         trim(regexp_replace(regexp_replace(lower(u.para),
      |           '[^\\p{L}\\s]', '', 'g'), '\\s+', ' ', 'g')) AS n
      |  FROM sp, LATERAL (SELECT unnest(ps) AS para,
      |                           unnest(range(1, len(ps) + 1)) AS i) u
      |), d1 AS MATERIALIZED (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |           row_number() OVER (PARTITION BY doc_id, md5(n)
      |                              ORDER BY pos) AS rn
      |    FROM occ WHERE n <> '')
      |  WHERE rn > 1
      |), k1 AS MATERIALIZED (
      |  SELECT o.doc_id, o.source, o.para, o.n,
      |         row_number() OVER (PARTITION BY o.doc_id
      |                            ORDER BY o.pos) AS np
      |  FROM occ o LEFT JOIN d1 ON d1.doc_id = o.doc_id AND d1.pos = o.pos
      |  WHERE d1.doc_id IS NULL
      |), d2 AS MATERIALIZED (
      |  SELECT doc_id, np FROM (
      |    SELECT doc_id, np,
      |           row_number() OVER (PARTITION BY md5(n)
      |                              ORDER BY doc_id, np) AS rn,
      |           count(*) OVER (PARTITION BY md5(n)) AS c
      |    FROM k1 WHERE n <> '')
      |  WHERE c > 1 AND rn > 1
      |), k2 AS MATERIALIZED (
      |  SELECT k1.doc_id, k1.source, k1.para, k1.np
      |  FROM k1 LEFT JOIN d2 ON d2.doc_id = k1.doc_id AND d2.np = k1.np
      |  WHERE d2.doc_id IS NULL
      |), reb AS MATERIALIZED (
      |  SELECT doc_id, source,
      |         string_agg(para, chr(10) ORDER BY np) AS text
      |  FROM k2 GROUP BY 1, 2
      |), rg AS MATERIALIZED (
      |  SELECT doc_id, source, text,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |                y -> y <> '') AS tks
      |  FROM reb
      |  WHERE len(list_filter(string_split_regex(trim(text), '\\s+'),
      |                        y -> y <> '')) >= 10
      |), sh0 AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |         tks[gg.i] || ' ' || tks[gg.i+1] || ' ' || tks[gg.i+2] AS sgl
      |  FROM rg, LATERAL (SELECT unnest(range(1, len(tks)-1)) AS i) gg
      |  WHERE len(tks) >= 3
      |  UNION
      |  SELECT doc_id, array_to_string(tks, ' ') FROM rg WHERE len(tks) < 3
      |), shc AS MATERIALIZED (
      |  SELECT * FROM sh0
      |  WHERE sgl IN (SELECT sgl FROM sh0 GROUP BY sgl
      |                HAVING count(*) <= 256)
      |), sizes AS MATERIALIZED (
      |  SELECT doc_id, count(*) nsh FROM shc GROUP BY 1
      |), prs AS MATERIALIZED (
      |  SELECT a.doc_id i, b.doc_id j, count(*) inter
      |  FROM shc a JOIN shc b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), jp AS MATERIALIZED (
      |  SELECT i, j
      |  FROM prs JOIN sizes sa ON sa.doc_id = i
      |           JOIN sizes sb ON sb.doc_id = j
      |  WHERE inter * 1.0 / (sa.nsh + sb.nsh - inter) >= 0.8
      |), edges AS MATERIALIZED (
      |  SELECT i AS a, j AS b FROM jp UNION SELECT j, i FROM jp
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS MATERIALIZED (
      |  SELECT a AS doc_id, least(a, min(b)) AS component
      |  FROM reach GROUP BY a
      |), rankd AS MATERIALIZED (
      |  SELECT c.doc_id,
      |         row_number() OVER (PARTITION BY c.component
      |                            ORDER BY length(d.text) DESC,
      |                                     c.doc_id) AS rn
      |  FROM comp c JOIN rg d USING (doc_id)
      |), dd AS MATERIALIZED (
      |  SELECT rg.doc_id, rg.source, rg.tks FROM rg
      |  LEFT JOIN rankd r USING (doc_id)
      |  WHERE r.doc_id IS NULL OR r.rn = 1
      |), evg AS MATERIALIZED (
      |  SELECT DISTINCT md5(array_to_string(ets[gi.i:gi.i+11], ' ')) AS gh
      |  FROM (SELECT string_split_regex(trim(text), '\\s+') AS ets
      |        FROM documents WHERE source = 'src0') e,
      |       LATERAL (SELECT unnest(range(1, len(ets) - 10)) AS i) gi
      |  WHERE len(ets) >= 12
      |), trg AS MATERIALIZED (
      |  SELECT doc_id, gi.i AS strt,
      |         md5(array_to_string(tks[gi.i:gi.i+11], ' ')) AS gh
      |  FROM dd, LATERAL (SELECT unnest(range(1, len(tks) - 10)) AS i) gi
      |  WHERE source <> 'src0' AND len(tks) >= 12
      |), ds AS MATERIALIZED (
      |  SELECT doc_id, strt FROM trg WHERE gh IN (SELECT gh FROM evg)
      |), brk AS MATERIALIZED (
      |  SELECT doc_id, strt,
      |         CASE WHEN strt > lag(strt) OVER (PARTITION BY doc_id
      |                                          ORDER BY strt) + 12
      |              THEN 1 ELSE 0 END AS b
      |  FROM ds
      |), isl AS MATERIALIZED (
      |  SELECT doc_id, strt,
      |         sum(b) OVER (PARTITION BY doc_id ORDER BY strt) AS grp
      |  FROM brk
      |), spans AS MATERIALIZED (
      |  SELECT doc_id, min(strt) AS s, max(strt) + 11 AS e
      |  FROM isl GROUP BY doc_id, grp
      |), trtok AS MATERIALIZED (
      |  SELECT doc_id, source, gi.i AS i, tks[gi.i] AS wrd
      |  FROM dd, LATERAL (SELECT unnest(range(1, len(tks) + 1)) AS i) gi
      |  WHERE source <> 'src0'
      |), keep AS MATERIALIZED (
      |  SELECT tp.doc_id, tp.source, tp.i, tp.wrd FROM trtok tp
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |                    WHERE sp.doc_id = tp.doc_id
      |                      AND tp.i BETWEEN sp.s AND sp.e)
      |), cl AS MATERIALIZED (
      |  SELECT doc_id, source,
      |         list_filter(list(wrd ORDER BY i), y -> y <> '') AS ct
      |  FROM keep GROUP BY 1, 2
      |), cln AS MATERIALIZED (
      |  SELECT d.doc_id, d.source, coalesce(len(cl.ct), 0) AS ntok
      |  FROM (SELECT doc_id, source FROM dd WHERE source <> 'src0') d
      |  LEFT JOIN cl ON cl.doc_id = d.doc_id
      |), per AS MATERIALIZED (
      |  SELECT source, CAST(sum(ntok) AS BIGINT) AS tokens
      |  FROM cln GROUP BY 1
      |), tot AS MATERIALIZED (
      |  SELECT CAST(3 * sum(tokens) // 2 AS DOUBLE) AS b, count(*) AS kk
      |  FROM per
      |), o AS MATERIALIZED (
      |  SELECT source, tokens, 2.0 * tokens AS cap,
      |         row_number() OVER (ORDER BY 2.0 * tokens, source) AS i,
      |         coalesce(sum(2.0 * tokens) OVER (
      |           ORDER BY 2.0 * tokens, source
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
      |  FROM per
      |), levl AS MATERIALIZED (
      |  SELECT (b - pfx) / (kk - i + 1) AS lc
      |  FROM o, tot WHERE cap >= (b - pfx) / (kk - i + 1)
      |  ORDER BY i LIMIT 1
      |), wts AS MATERIALIZED (
      |  SELECT source, round(least(cap, lc) / b, 6) AS weight
      |  FROM o CROSS JOIN levl CROSS JOIN tot
      |), shd AS MATERIALIZED (
      |  SELECT doc_id, source, ntok,
      |    CAST(least(floor(
      |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |           AS BIGINT) / 1152921504606846976.0 * 8), 7) AS INT) AS shard
      |  FROM cln
      |)""".stripMargin
  }

  val q143Sql: String = q143Ctes +
    """
      |SELECT shard, sh.source, count(*) AS n_docs,
      |       CAST(sum(ntok) AS BIGINT) AS total_tokens,
      |       w.weight
      |FROM shd sh JOIN wts w ON w.source = sh.source
      |GROUP BY shard, sh.source, w.weight
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST, 5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q104 — IMPORTANCE RESAMPLING toward a target distribution (the DSIR
  //        recipe): raw = all documents, target = the English slice;
  //        every doc scored by the add-one-smoothed hashed-unigram
  //        log-likelihood ratio over 256 buckets, the top 50 selected by
  //        the md5-Gumbel-perturbed key. Spark side is two B-bounded
  //        histogram scans + a pure per-row projection; the oracle
  //        replays the identical arithmetic (md5 bucket hash, Laplace
  //        smoothing, natural logs, 4-decimal rounding, Gumbel from the
  //        same md5 uniform).
  // -------------------------------------------------------------------
  def q104(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    sorted(Sampling.importanceResample(d, d.filter(col("lang") === "en"),
        "doc_id", "text", budget = 50, buckets = 256)
      .select("doc_id", "logw", "g_key"))
  }

  val q104Sql: String =
    """WITH raww AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(trim(text), '\s+'),
      |                            w -> w <> '')) AS w
      |  FROM documents
      |), tgtw AS (
      |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
      |                            w -> w <> '')) AS w
      |  FROM documents WHERE lang = 'en'
      |), rb AS (
      |  SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b,
      |         count(*) AS c
      |  FROM raww GROUP BY 1
      |), tb AS (
      |  SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b,
      |         count(*) AS c
      |  FROM tgtw GROUP BY 1
      |), tot AS (
      |  SELECT (SELECT count(*) FROM raww) AS tr,
      |         (SELECT count(*) FROM tgtw) AS tt
      |), perdoc AS (
      |  SELECT r.doc_id,
      |         sum(ln((coalesce(tb.c, 0) + 1.0) / (tot.tt + 256)) -
      |             ln((rb.c + 1.0) / (tot.tr + 256))) AS lw
      |  FROM (SELECT doc_id,
      |               CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b
      |        FROM raww) r
      |  JOIN rb USING (b) LEFT JOIN tb USING (b) CROSS JOIN tot
      |  GROUP BY 1
      |), keyed AS (
      |  SELECT d.doc_id, round(coalesce(p.lw, 0.0), 4) AS logw,
      |         round(round(coalesce(p.lw, 0.0), 4) + -ln(-ln(
      |           CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
      |                AS BIGINT) / 1152921504606846976.0)), 4) AS g_key
      |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
      |)
      |SELECT * FROM (
      |  SELECT doc_id, logw, g_key FROM keyed
      |  ORDER BY g_key DESC, doc_id LIMIT 50
      |) sel
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q105 — DETERMINISTIC SHUFFLE-TO-SHARDS export: every document gets a
  //        shard in [0, 8) and a dense within-shard position, both pure
  //        md5 functions of the id (independent draws for assignment vs
  //        order). The oracle checks the FULL (shard, pos) assignment —
  //        a changed hash, shard arithmetic, or ordering tie-break fails
  //        the row hash.
  // -------------------------------------------------------------------
  def q105(s: SparkSession, dir: String): DataFrame =
    sorted(Sampling.shuffleShards(docs(s, dir), "doc_id", numShards = 8)
      .select("doc_id", "shard", "pos"))

  val q105Sql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) / 1152921504606846976.0 AS u,
      |         CAST(('0x' || substr(md5('|pos' || CAST(doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) / 1152921504606846976.0 AS u2
      |  FROM documents
      |)
      |SELECT doc_id, CAST(least(floor(u * 8), 7) AS INT) AS shard,
      |       CAST(row_number() OVER (
      |              PARTITION BY CAST(least(floor(u * 8), 7) AS INT)
      |              ORDER BY u2, doc_id) - 1 AS BIGINT) AS pos
      |FROM h
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q106 — END-TO-END CURATION PIPELINE, the canonical LLM-data recipe
  //        as ONE composed oracle row: length filter → near-dup dedup
  //        with keep-best survivor selection → DSIR importance
  //        resampling toward the English slice → deterministic
  //        shuffle-to-shards export. Four operators composed exactly as
  //        a user would chain them; the oracle replays the whole chain
  //        (shingle CTE + recursive closure + keep-best ranking + md5
  //        bucket LM + Gumbel selection + shard assignment) in SQL, so
  //        any drift in ANY stage (or in how stages compose) fails one
  //        hash.
  // -------------------------------------------------------------------
  def q106(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val toks = array_remove(TextFunctions.tokens(col("text")), "")
    val filtered = d.filter(size(toks) >= 30)
    // capped shingle index over the FILTERED corpus (cannot ride the
    // shared shingles3 cache — membership and the df cap differ),
    // materialized once so the LSH's four consuming branches read the
    // checkpoint instead of re-running tokenize+shingle+cap each
    // (the buildShingleIndex contract)
    val shIdx = Dedup.buildShingleIndex(filtered, "doc_id", "text", n = 3)
      .transform(graft.util.Stage.materialize)
    val pairs = Dedup.minhashLsh(filtered, "doc_id", "text",
      n = 3, k = 32, bands = 8, threshold = 0.8,
      maxDf = None, shinglesDf = Some(shIdx))
    // materialized: the resampler scans it three ways (raw histogram,
    // target histogram, scoring pass) — lazily composed, the keep-best
    // anti-join re-ran per scan
    val deduped = Dedup.dropNearDupsKeepBest(filtered, pairs,
      "doc_id", "n_chars")
      .transform(graft.util.Stage.materialize)
    val resampled = Sampling.importanceResample(deduped,
      deduped.filter(col("lang") === "en"), "doc_id", "text",
      budget = 100, buckets = 256)
    val sharded = Sampling.shuffleShards(resampled, "doc_id", numShards = 4)
    sorted(sharded.select("doc_id", "lang", "logw", "shard", "pos"))
  }

  val q106Sql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, lang, text, n_chars,
      |         string_split_regex(trim(text), '\s+') AS t
      |  FROM documents
      |), f AS (
      |  SELECT * FROM toks
      |  WHERE len(list_filter(t, w -> w <> '')) >= 30
      |), sh0 AS (
      |  SELECT DISTINCT doc_id, t[g.i] || ' ' || t[g.i+1] || ' ' || t[g.i+2] AS s
      |  FROM f, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i) g
      |  WHERE len(t) >= 3
      |  UNION
      |  SELECT doc_id, array_to_string(t, ' ') AS s FROM f WHERE len(t) < 3
      |), sh AS (
      |  SELECT * FROM sh0
      |  WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 256)
      |), sizes AS (
      |  SELECT doc_id, count(*) n FROM sh GROUP BY 1
      |), pairs AS (
      |  SELECT a.doc_id i, b.doc_id j, count(*) inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), jp AS (
      |  SELECT i, j
      |  FROM pairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
      |), edges AS (
      |  SELECT i AS a, j AS b FROM jp UNION SELECT j, i FROM jp
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS component
      |  FROM reach GROUP BY a
      |), ranked AS (
      |  SELECT c.doc_id,
      |         row_number() OVER (PARTITION BY c.component
      |                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
      |  FROM comp c JOIN f d USING (doc_id)
      |), dd AS (
      |  SELECT f.doc_id, f.lang, f.text FROM f
      |  LEFT JOIN ranked r USING (doc_id)
      |  WHERE r.doc_id IS NULL OR r.rn = 1
      |), raww AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(trim(text), '\s+'),
      |                            w -> w <> '')) AS w
      |  FROM dd
      |), tgtw AS (
      |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
      |                            w -> w <> '')) AS w
      |  FROM dd WHERE lang = 'en'
      |), rb AS (
      |  SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b,
      |         count(*) AS c
      |  FROM raww GROUP BY 1
      |), tb AS (
      |  SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b,
      |         count(*) AS c
      |  FROM tgtw GROUP BY 1
      |), tot AS (
      |  SELECT (SELECT count(*) FROM raww) AS tr,
      |         (SELECT count(*) FROM tgtw) AS tt
      |), perdoc AS (
      |  SELECT r.doc_id,
      |         sum(ln((coalesce(tb.c, 0) + 1.0) / (tot.tt + 256)) -
      |             ln((rb.c + 1.0) / (tot.tr + 256))) AS lw
      |  FROM (SELECT doc_id,
      |               CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b
      |        FROM raww) r
      |  JOIN rb USING (b) LEFT JOIN tb USING (b) CROSS JOIN tot
      |  GROUP BY 1
      |), keyed AS (
      |  SELECT d.doc_id, d.lang, round(coalesce(p.lw, 0.0), 4) AS logw,
      |         round(round(coalesce(p.lw, 0.0), 4) + -ln(-ln(
      |           CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
      |                AS BIGINT) / 1152921504606846976.0)), 4) AS g_key
      |  FROM dd d LEFT JOIN perdoc p USING (doc_id)
      |), sel AS (
      |  SELECT doc_id, lang, logw FROM keyed
      |  ORDER BY g_key DESC, doc_id LIMIT 100
      |), h AS (
      |  SELECT doc_id, lang, logw,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) / 1152921504606846976.0 AS u,
      |         CAST(('0x' || substr(md5('|pos' || CAST(doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) / 1152921504606846976.0 AS u2
      |  FROM sel
      |)
      |SELECT doc_id, lang, logw, CAST(least(floor(u * 4), 3) AS INT) AS shard,
      |       CAST(row_number() OVER (
      |              PARTITION BY CAST(least(floor(u * 4), 3) AS INT)
      |              ORDER BY u2, doc_id) - 1 AS BIGINT) AS pos
      |FROM h
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q111 — DSIR WITH BIGRAM FEATURES (q104's stronger variant, per the
  //        paper): token bigrams hash into the same bucket space as the
  //        unigrams, so word ORDER carries signal. The oracle replays
  //        the combined unigram+bigram stream bucket-for-bucket.
  // -------------------------------------------------------------------
  def q111(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    sorted(Sampling.importanceResample(d, d.filter(col("lang") === "en"),
        "doc_id", "text", budget = 50, buckets = 256, ngrams = 2)
      .select("doc_id", "logw", "g_key"))
  }

  val q111Sql: String =
    """WITH toksrc AS (
      |  SELECT doc_id, lang,
      |         list_filter(string_split_regex(trim(text), '\s+'),
      |                     w -> w <> '') AS t
      |  FROM documents
      |), feats AS (
      |  SELECT doc_id, lang, unnest(t) AS w FROM toksrc
      |  UNION ALL
      |  SELECT doc_id, lang, t[g.i] || ' ' || t[g.i+1] AS w
      |  FROM toksrc, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
      |  WHERE len(t) >= 2
      |), rb AS (
      |  SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b,
      |         count(*) AS c
      |  FROM feats GROUP BY 1
      |), tb AS (
      |  SELECT CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b,
      |         count(*) AS c
      |  FROM feats WHERE lang = 'en' GROUP BY 1
      |), tot AS (
      |  SELECT (SELECT count(*) FROM feats) AS tr,
      |         (SELECT count(*) FROM feats WHERE lang = 'en') AS tt
      |), perdoc AS (
      |  SELECT r.doc_id,
      |         sum(ln((coalesce(tb.c, 0) + 1.0) / (tot.tt + 256)) -
      |             ln((rb.c + 1.0) / (tot.tr + 256))) AS lw
      |  FROM (SELECT doc_id,
      |               CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b
      |        FROM feats) r
      |  JOIN rb USING (b) LEFT JOIN tb USING (b) CROSS JOIN tot
      |  GROUP BY 1
      |), keyed AS (
      |  SELECT d.doc_id, round(coalesce(p.lw, 0.0), 4) AS logw,
      |         round(round(coalesce(p.lw, 0.0), 4) + -ln(-ln(
      |           CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
      |                AS BIGINT) / 1152921504606846976.0)), 4) AS g_key
      |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
      |)
      |SELECT * FROM (
      |  SELECT doc_id, logw, g_key FROM keyed
      |  ORDER BY g_key DESC, doc_id LIMIT 50
      |) sel
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q116 — PROTOTYPE/OUTLIER PRUNING (Sorscher et al. 2022 / D4):
  //        score every embedding by cosine to its own cluster centroid,
  //        drop the 30% most prototypical (redundant core) and 10%
  //        least (noise tail) per cluster — membership-exact. Cluster
  //        key and centroids are construction-derived (vec_id % 8; the
  //        centroid IS the normalized seed embedding vec_id = cluster),
  //        q97's doctrine: the oracle replays the cosine, the bounded-
  //        histogram order statistics, and the tie-keeping cuts itself;
  //        pairing with TRAINED k-means is ClusteringSpec's job.
  // -------------------------------------------------------------------
  def q116(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Clustering, Similarity}
    val e = emb(s, dir).select("vec_id", "embedding")
    val k = 8
    val cents: Array[Array[Double]] = e.filter(col("vec_id") < k)
      .orderBy("vec_id")
      .select(Similarity.normalize(col("embedding")).as("nv"))
      .collect().map(_.getSeq[Double](0).toArray)
    sorted(Clustering.prototypePrune(
        e.withColumn("cluster", pmod(col("vec_id"), lit(k)).cast("int")),
        cents, pruneFrac = 0.3, outlierFrac = 0.1,
        clusterCol = Some("cluster"))
      .select(col("cluster"), col("vec_id"), col("proto")))
  }

  val q116Sql: String =
    """WITH s AS (
      |  SELECT vec_id AS cid, embedding AS se FROM embeddings
      |  WHERE vec_id < 8
      |), p AS (
      |  SELECT e.vec_id, e.vec_id % 8 AS cluster, e.embedding AS ve, s.se
      |  FROM embeddings e JOIN s ON s.cid = e.vec_id % 8
      |), ex AS (
      |  SELECT vec_id, cluster, unnest(ve)::DOUBLE v, unnest(se)::DOUBLE c
      |  FROM p
      |), d AS (
      |  SELECT vec_id, cluster,
      |         round(SUM(v*c) / sqrt(SUM(v*v)) / sqrt(SUM(c*c)), 4) AS proto
      |  FROM ex GROUP BY 1, 2
      |), hist AS (
      |  SELECT cluster, proto, count(*) AS cnt FROM d GROUP BY 1, 2
      |), cum AS (
      |  SELECT cluster, proto,
      |         sum(cnt) OVER (PARTITION BY cluster ORDER BY proto) AS cum,
      |         sum(cnt) OVER (PARTITION BY cluster) AS n
      |  FROM hist
      |), thr AS (
      |  SELECT cluster,
      |         min(proto) FILTER (WHERE cum >=
      |           floor(CAST(0.1 AS DOUBLE) * n) + 1) AS lo,
      |         min(proto) FILTER (WHERE cum >=
      |           n - floor(CAST(0.3 AS DOUBLE) * n)) AS hi
      |  FROM cum GROUP BY 1
      |)
      |SELECT CAST(d.cluster AS INT) AS cluster, d.vec_id, d.proto
      |FROM d JOIN thr USING (cluster)
      |WHERE d.proto >= thr.lo AND d.proto <= thr.hi
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q117 — CCNet QUALITY BUCKETS (Wenzek et al. 2020 §4.4): score every
  //        doc with the q83 bigram-LM NLL, then bucket per SOURCE into
  //        terciles (0 = lowest NLL = fluent head, 2 = tail) by exact
  //        per-group order statistics over the bounded rounded-score
  //        histogram — never a data-sized sort. The oracle replays LM
  //        scoring AND the ceil(f·n) boundary arithmetic (IEEE double
  //        both sides — fraction literals cast to DOUBLE so DuckDB's
  //        DECIMAL literals can't change the product).
  // -------------------------------------------------------------------
  def q117(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Corpus, Quality}
    val d = docs(s, dir)
    val scoredDocs = Corpus.lmScore(d, "doc_id", "text")
      .join(d.select("doc_id", "source"), "doc_id")
    sorted(Quality.scoreBuckets(scoredDocs, "source", "nll")
      .select("doc_id", "source", "nll", "bucket"))
  }

  val q117Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(trim(text), '\s+'),
      |                     w -> w <> '') AS t
      |  FROM documents
      |), tok AS (
      |  SELECT unnest(t) AS w FROM toks
      |), uni AS (
      |  SELECT w, count(*) AS cw FROM tok GROUP BY 1
      |), v AS (
      |  SELECT count(DISTINCT w) AS v FROM tok
      |), bg AS (
      |  SELECT doc_id, t[g.i] AS w1, t[g.i+1] AS w2
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
      |  WHERE len(t) >= 2
      |), bgc AS (
      |  SELECT w1, w2, count(*) AS cbg FROM bg GROUP BY 1, 2
      |), scored AS (
      |  SELECT bg.doc_id,
      |         -log2((bgc.cbg + 1.0) / (uni.cw + v.v)) AS nll
      |  FROM bg
      |  JOIN bgc USING (w1, w2)
      |  JOIN uni ON uni.w = bg.w1
      |  CROSS JOIN v
      |), sc AS (
      |  SELECT doc_id, round(avg(nll), 4) AS nll FROM scored GROUP BY 1
      |), scd AS (
      |  SELECT sc.doc_id, dd.source, sc.nll
      |  FROM sc JOIN documents dd USING (doc_id)
      |), hist AS (
      |  SELECT source, nll, count(*) AS cnt FROM scd GROUP BY 1, 2
      |), cum AS (
      |  SELECT source, nll,
      |         sum(cnt) OVER (PARTITION BY source ORDER BY nll) AS cum,
      |         sum(cnt) OVER (PARTITION BY source) AS n
      |  FROM hist
      |), thr AS (
      |  SELECT source,
      |         min(nll) FILTER (WHERE cum >=
      |           ceiling(CAST(0.3333333333333333 AS DOUBLE) * n)) AS t1,
      |         min(nll) FILTER (WHERE cum >=
      |           ceiling(CAST(0.6666666666666666 AS DOUBLE) * n)) AS t2
      |  FROM cum GROUP BY 1
      |)
      |SELECT scd.doc_id, scd.source, scd.nll,
      |       CAST(CASE WHEN scd.nll > t2 THEN 2
      |                 WHEN scd.nll > t1 THEN 1 ELSE 0 END AS INT) AS bucket
      |FROM scd JOIN thr USING (source)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q119 — END-TO-END CURATION PIPELINE v2, composing the round-12
  //        operators as ONE oracle row (the q106 doctrine): span-level
  //        DECONTAMINATION against the src0 eval slice → bigram-LM
  //        scoring of the REBUILT text (model trained on the cleaned
  //        corpus itself — the stitch-point bigrams matter) → CCNet
  //        per-source terciles keeping head+middle → deterministic
  //        shuffle-to-shards export. The oracle replays every stage in
  //        SQL: the gram census + gaps-and-islands spans, the cleaned
  //        token lists (kept positions re-stitched in order), the
  //        Laplace bigram NLL over the cleaned corpus, the bounded-
  //        histogram tercile cuts, and the md5 shard assignment — drift
  //        in any stage, or in how stages compose, fails one hash.
  //        Docs cleaned below 2 tokens drop out of LM scoring (no
  //        bigrams) and thus out of the pipeline, both sides.
  // -------------------------------------------------------------------
  def q119(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Corpus, Decontaminate, Quality, Sampling}
    val d = docs(s, dir)
    // stage boundary MATERIALIZED (the v4-chain doctrine): `cleaned`
    // feeds lmScore five ways (unigram counts, vocab, bigram model,
    // scoring pass) plus the source join — composed lazily, the whole
    // decontamination subtree (gram census, bloom probe, span removal
    // rebuild) re-ran once per consumer
    val cleaned = Decontaminate.removeContaminatedSpans(
      d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
      "doc_id", "text", minTokens = 12)
      .transform(graft.util.Stage.materialize)
    val scored = Corpus.lmScore(cleaned, "doc_id", "text")
      .join(cleaned.select("doc_id", "source"), "doc_id")
    val kept = Quality.scoreBuckets(scored, "source", "nll")
      .filter(col("bucket") <= 1)
    sorted(Sampling.shuffleShards(kept, "doc_id", numShards = 4)
      .select("doc_id", "source", "nll", "bucket", "shard", "pos"))
  }

  val q119Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ts
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, source, t.i AS start,
      |         md5(array_to_string(ts[t.i:t.i+11], ' ')) AS h
      |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts) - 10)) AS i) t
      |  WHERE len(ts) >= 12
      |), ev AS (
      |  SELECT DISTINCT h FROM g WHERE source = 'src0'
      |), ds AS (
      |  SELECT doc_id, start FROM g
      |  WHERE source <> 'src0' AND h IN (SELECT h FROM ev)
      |), brk AS (
      |  SELECT doc_id, start,
      |         CASE WHEN start > lag(start) OVER (PARTITION BY doc_id
      |                                            ORDER BY start) + 12
      |              THEN 1 ELSE 0 END AS b
      |  FROM ds
      |), isl AS (
      |  SELECT doc_id, start,
      |         sum(b) OVER (PARTITION BY doc_id ORDER BY start) AS grp
      |  FROM brk
      |), spans AS (
      |  SELECT doc_id, min(start) AS s, max(start) + 11 AS e
      |  FROM isl GROUP BY doc_id, grp
      |), tokpos AS (
      |  SELECT doc_id, source, t.i AS i, ts[t.i] AS w
      |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) t
      |  WHERE source <> 'src0'
      |), keep AS (
      |  SELECT tp.doc_id, tp.source, tp.i, tp.w
      |  FROM tokpos tp
      |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
      |                    WHERE sp.doc_id = tp.doc_id
      |                      AND tp.i BETWEEN sp.s AND sp.e)
      |), cl AS (
      |  SELECT doc_id, source,
      |         list_filter(list(w ORDER BY i), x -> x <> '') AS t
      |  FROM keep GROUP BY 1, 2
      |), u AS (
      |  SELECT unnest(t) AS w FROM cl
      |), uni AS (
      |  SELECT w, count(*) AS cw FROM u GROUP BY 1
      |), v AS (
      |  SELECT count(DISTINCT w) AS v FROM u
      |), bg AS (
      |  SELECT doc_id, source, t[g2.i] AS w1, t[g2.i+1] AS w2
      |  FROM cl, LATERAL (SELECT unnest(range(1, len(t))) AS i) g2
      |  WHERE len(t) >= 2
      |), bgc AS (
      |  SELECT w1, w2, count(*) AS cbg FROM bg GROUP BY 1, 2
      |), scdoc AS (
      |  SELECT bg.doc_id, bg.source,
      |         -log2((bgc.cbg + 1.0) / (uni.cw + v.v)) AS nll
      |  FROM bg JOIN bgc USING (w1, w2) JOIN uni ON uni.w = bg.w1
      |  CROSS JOIN v
      |), sc AS (
      |  SELECT doc_id, source, round(avg(nll), 4) AS nll
      |  FROM scdoc GROUP BY 1, 2
      |), hist AS (
      |  SELECT source, nll, count(*) AS cnt FROM sc GROUP BY 1, 2
      |), cum AS (
      |  SELECT source, nll,
      |         sum(cnt) OVER (PARTITION BY source ORDER BY nll) AS cum,
      |         sum(cnt) OVER (PARTITION BY source) AS n
      |  FROM hist
      |), thr AS (
      |  SELECT source,
      |         min(nll) FILTER (WHERE cum >=
      |           ceiling(CAST(0.3333333333333333 AS DOUBLE) * n)) AS t1,
      |         min(nll) FILTER (WHERE cum >=
      |           ceiling(CAST(0.6666666666666666 AS DOUBLE) * n)) AS t2
      |  FROM cum GROUP BY 1
      |), keptd AS (
      |  SELECT sc.doc_id, sc.source, sc.nll,
      |         CAST(CASE WHEN sc.nll > t2 THEN 2
      |                   WHEN sc.nll > t1 THEN 1 ELSE 0 END AS INT) AS bucket
      |  FROM sc JOIN thr USING (source)
      |  WHERE sc.nll <= t2
      |), h2 AS (
      |  SELECT doc_id, source, nll, bucket,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) / 1152921504606846976.0 AS u,
      |         CAST(('0x' || substr(md5('|pos' || CAST(doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) / 1152921504606846976.0 AS u2
      |  FROM keptd
      |)
      |SELECT doc_id, source, nll, bucket,
      |       CAST(least(floor(u * 4), 3) AS INT) AS shard,
      |       CAST(row_number() OVER (
      |              PARTITION BY CAST(least(floor(u * 4), 3) AS INT)
      |              ORDER BY u2, doc_id) - 1 AS BIGINT) AS pos
      |FROM h2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q120 — length-curriculum shards: EXACT global rank by (n_chars,
  //        doc_id) via pivot buckets + keyed window (no global sort),
  //        interleaved into 8 worker shards. The oracle computes the
  //        same rank with one ORDER BY window — legitimate in DuckDB at
  //        oracle scale, exactly what the operator exists to AVOID at
  //        100 TB. pivots=16 forces real multi-bucket offsets at sf0.01.
  // -------------------------------------------------------------------
  def q120(s: SparkSession, dir: String): DataFrame =
    sorted(Sampling.curriculumShards(docs(s, dir), "doc_id",
      col("n_chars").cast("double"), numShards = 8, pivots = 16)
      .select(col("doc_id"), col("shard"), col("pos")))

  val q120Sql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |         row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE), doc_id)
      |           - 1 AS rk
      |  FROM documents
      |)
      |SELECT doc_id, CAST(rk % 8 AS INT) AS shard,
      |       CAST(rk // 8 AS BIGINT) AS pos
      |FROM r
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q122 — leakage-safe split: near-dup clusters travel together (split
  //        key = connected-component root over the LSH pair graph,
  //        falling back to the id), then q35's exact md5 threshold
  //        arithmetic. Membership-level oracle: the recursive-CTE
  //        closure (q34 vocabulary) + the same hash in DuckDB.
  // -------------------------------------------------------------------
  def q122(s: SparkSession, dir: String): DataFrame = {
    val (pairs, comps) = neardupPairs3(s, dir)
    sorted(Sampling.leakSafeSplit(docs(s, dir), "doc_id", pairs,
      componentsDf = Some(comps))
      .select(col("doc_id"), col("split")))
  }

  val q122Sql: String = {
    val cte = shingleCteWith(Some(Dedup.DefaultMaxDf))
      .replaceFirst("WITH ", "WITH RECURSIVE ")
    cte + """, jp AS (
      |  SELECT i, j
      |  FROM pairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
      |), edges AS (
      |  SELECT i AS a, j AS b FROM jp UNION SELECT j, i FROM jp
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS component
      |  FROM reach GROUP BY a
      |), h AS (
      |  SELECT d.doc_id,
      |         CAST(('0x' || substr(md5(CAST(coalesce(c.component, d.doc_id)
      |           AS VARCHAR)), 1, 15)) AS BIGINT)
      |           / 1152921504606846976.0 AS u
      |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
      |)
      |SELECT doc_id,
      |       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM h
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin
  }

  // -------------------------------------------------------------------
  // q125 — composed pipeline v3: leakage-safe split (near-dup clusters
  //        travel together) → train slice → EXACT length-curriculum
  //        shards, the whole chain under ONE oracle hash (the q106/q119
  //        doctrine): closure, md5 split, and rank arithmetic replayed
  //        stage by stage in DuckDB.
  // -------------------------------------------------------------------
  def q125(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (pairs, comps) = neardupPairs3(s, dir)
    val train = Sampling.leakSafeSplit(d, "doc_id", pairs,
      componentsDf = Some(comps))
      .filter(col("split") === "train")
    sorted(Sampling.curriculumShards(train, "doc_id",
      col("n_chars").cast("double"), numShards = 4, pivots = 16)
      .select(col("doc_id"), col("shard"), col("pos")))
  }

  val q125Sql: String = {
    val cte = shingleCteWith(Some(Dedup.DefaultMaxDf))
      .replaceFirst("WITH ", "WITH RECURSIVE ")
    cte + """, jp AS (
      |  SELECT i, j
      |  FROM pairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
      |), edges AS (
      |  SELECT i AS a, j AS b FROM jp UNION SELECT j, i FROM jp
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS component
      |  FROM reach GROUP BY a
      |), tr AS (
      |  SELECT d.doc_id, d.n_chars
      |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
      |  WHERE CAST(('0x' || substr(md5(CAST(coalesce(c.component, d.doc_id)
      |          AS VARCHAR)), 1, 15)) AS BIGINT)
      |          / 1152921504606846976.0 < 0.8
      |), r AS (
      |  SELECT doc_id,
      |         row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE), doc_id)
      |           - 1 AS rk
      |  FROM tr
      |)
      |SELECT doc_id, CAST(rk % 4 AS INT) AS shard,
      |       CAST(rk // 4 AS BIGINT) AS pos
      |FROM r
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin
  }

  // -------------------------------------------------------------------
  // q128 — UNIMAX EPOCH-CAPPED MIXING (Chung et al. 2023): allocate a
  //        1.5×-total-tokens budget across three planted skew classes
  //        (big 6 : mid 3 : small 1 by doc id) by water-filling under a
  //        2-epoch repeat cap — 'small' and 'mid' hit the cap, 'big'
  //        absorbs the freed budget at the water level. The oracle
  //        replays the census, the ascending-capacity scan, the closed-
  //        form level, and every rounded output column.
  // -------------------------------------------------------------------
  def q128(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("src",
      when(col("doc_id") % 10 < 6, "big")
        .when(col("doc_id") % 10 < 9, "mid").otherwise("small"))
    val total = d.agg(sum(col("n_chars").cast("long")))
      .collect()(0).getLong(0)
    sorted(graft.operators.Corpus.unimaxAllocation(
      d, "src", col("n_chars"), budget = 3L * total / 2L, maxEpochs = 2.0))
  }

  val q128Sql: String =
    """WITH d AS (
      |  SELECT CASE WHEN doc_id % 10 < 6 THEN 'big'
      |              WHEN doc_id % 10 < 9 THEN 'mid'
      |              ELSE 'small' END AS src,
      |         n_chars
      |  FROM documents
      |), per AS (
      |  SELECT src, CAST(sum(n_chars) AS BIGINT) AS tokens
      |  FROM d GROUP BY 1
      |), tot AS (
      |  SELECT CAST(3 * sum(tokens) // 2 AS DOUBLE) AS b,
      |         count(*) AS k
      |  FROM per
      |), o AS (
      |  SELECT src, tokens, 2.0 * tokens AS cap,
      |         row_number() OVER (ORDER BY 2.0 * tokens, src) AS i,
      |         coalesce(sum(2.0 * tokens) OVER (
      |           ORDER BY 2.0 * tokens, src
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
      |  FROM per
      |), lev AS (
      |  SELECT (b - pfx) / (k - i + 1) AS lc
      |  FROM o, tot WHERE cap >= (b - pfx) / (k - i + 1)
      |  ORDER BY i LIMIT 1
      |)
      |SELECT src, tokens, round(cap, 4) AS capacity,
      |       round(least(cap, lc), 4) AS alloc_tokens,
      |       round(least(cap, lc) / tokens, 4) AS epochs,
      |       round(least(cap, lc) / b, 6) AS weight
      |FROM o CROSS JOIN lev CROSS JOIN tot
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q150 — TEMPERATURE-SAMPLED MIXING (the mT5/XLM-R power law next to
  //        q128's UniMax cap): the q128 planted 6:3:1 skew, alpha = 0.3,
  //        budget = 1× total — share ∝ tokens^0.3, so `small` upsamples
  //        (epochs > 1) and `big` downweights, with no epoch cliff. The
  //        oracle replays census → pow → normalize → allocation with the
  //        engine's evaluation order; round-6/round-4 display absorbs
  //        window summation order.
  // -------------------------------------------------------------------
  def q150(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("src",
      when(col("doc_id") % 10 < 6, "big")
        .when(col("doc_id") % 10 < 9, "mid").otherwise("small"))
    sorted(graft.operators.Corpus.temperatureWeights(
      d, "src", col("n_chars"), alpha = 0.3))
  }

  val q150Sql: String =
    """WITH d AS (
      |  SELECT CASE WHEN doc_id % 10 < 6 THEN 'big'
      |              WHEN doc_id % 10 < 9 THEN 'mid'
      |              ELSE 'small' END AS src,
      |         n_chars
      |  FROM documents
      |), per AS (
      |  SELECT src, CAST(sum(n_chars) AS BIGINT) AS tokens
      |  FROM d GROUP BY 1
      |), t AS (
      |  SELECT src, tokens,
      |         pow(CAST(tokens AS DOUBLE), 0.3) AS w,
      |         sum(pow(CAST(tokens AS DOUBLE), 0.3)) OVER () AS sumw,
      |         CAST((1 * sum(tokens) OVER ()) // 1 AS DOUBLE) AS b
      |  FROM per
      |)
      |SELECT src, tokens,
      |       round(w / sumw, 6) AS weight,
      |       round(b * (w / sumw), 4) AS alloc_tokens,
      |       round(b * (w / sumw) / tokens, 4) AS epochs
      |FROM t
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST, 5 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q133 — PER-SOURCE DISTRIBUTION DRIFT: KL and Jensen–Shannon
  //        divergence of each source's unigram distribution vs the whole
  //        corpus, over the global top-256 vocabulary + one <oov>
  //        bucket, add-one smoothed. The "did this month's crawl shift
  //        vocabulary?" monitor. Deterministic vocabulary cut (count
  //        desc, term asc) and natural-log arithmetic in one fixed
  //        order, rounded 6 — the oracle replays the numbers.
  // -------------------------------------------------------------------
  def q133(s: SparkSession, dir: String): DataFrame =
    sorted(graft.operators.Corpus.divergenceReport(
      docs(s, dir), "source", "text", maxVocab = 256))

  val q133Sql: String =
    """WITH tok AS (
      |  SELECT source AS src,
      |         unnest(list_filter(string_split_regex(trim(text), '\s+'),
      |                            x -> x <> '')) AS term
      |  FROM documents
      |), census AS (
      |  SELECT src, term, count(*) AS c FROM tok GROUP BY 1, 2
      |), topv AS (
      |  SELECT term FROM (SELECT term, sum(c) AS ct FROM census
      |                    WHERE term <> '<oov>' GROUP BY 1)
      |  ORDER BY ct DESC, term LIMIT 256
      |), bucketed AS (
      |  SELECT src, CASE WHEN term IN (SELECT term FROM topv)
      |              THEN term ELSE '<oov>' END AS b, sum(c) AS c
      |  FROM census GROUP BY 1, 2
      |), buckets AS (
      |  SELECT term AS b FROM topv UNION ALL SELECT '<oov>'
      |), nb AS (SELECT count(*) AS bn FROM buckets
      |), srcs AS (SELECT DISTINCT src FROM census
      |), grid AS (
      |  SELECT s.src, k.b, coalesce(bc.c, 0) AS c
      |  FROM srcs s CROSS JOIN buckets k
      |  LEFT JOIN bucketed bc ON bc.src = s.src AND bc.b = k.b
      |), ns AS (SELECT src, sum(c) AS n_s FROM grid GROUP BY 1
      |), gl AS (SELECT b, sum(c) AS cg FROM grid GROUP BY 1
      |), tot AS (SELECT sum(cg) AS n_g FROM gl
      |), scored AS (
      |  SELECT g.src,
      |         (g.c + 1.0) / (ns.n_s + nb.bn) AS ps,
      |         (gl.cg + 1.0) / (tot.n_g + nb.bn) AS qs,
      |         ns.n_s
      |  FROM grid g JOIN ns USING (src) JOIN gl USING (b), nb, tot
      |)
      |SELECT src AS source, CAST(max(n_s) AS BIGINT) AS tokens,
      |       round(sum(ps * ln(ps / qs)), 6) AS kl,
      |       round(sum(ps * ln(ps / ((ps + qs) / 2))
      |               + qs * ln(qs / ((ps + qs) / 2))) / 2, 6) AS js
      |FROM scored GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q134 — GOPHER QUALITY RULES (Rae et al. 2021, Appendix A1.1): the
  //        standard composite document pre-filter, planted so every rule
  //        actually fires on the fixture (which has no newlines, bullets,
  //        symbols, or ellipses of its own): %7 docs get a bullet intro
  //        line, %13 docs collapse to a 2-word stub (word-count fail),
  //        %11 docs get hash symbols, %17 docs get 15 numeric tokens
  //        (alpha-ratio fail), %5 docs get a trailing '...' line. The
  //        oracle replays the plant and EVERY metric exactly — ratios are
  //        exact integer divisions, so the verdict ints hash-match.
  // -------------------------------------------------------------------
  def q134(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), concat(
      when(col("doc_id") % 7 === 0, lit("- promo listing\n")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit("tiny doc")).otherwise(col("text")),
      when(col("doc_id") % 11 === 0, lit(" ### ###")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        lit(" 101 202 303 404 505 606 707 808 909 111 212 313 414 515 616"))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("\nto be continued ..."))
        .otherwise(lit(""))).as("text"))
    sorted(graft.operators.Quality.gopherReport(planted, "doc_id", "text",
      graft.operators.Quality.GopherParams(minWords = 10, maxWords = 1000,
        stopwords = Seq("the", "a", "data", "value", "table"))))
  }

  val q134Sql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN '- promo listing' || chr(10) ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0 THEN 'tiny doc' ELSE text END ||
      |    CASE WHEN doc_id % 11 = 0 THEN ' ### ###' ELSE '' END ||
      |    CASE WHEN doc_id % 17 = 0
      |      THEN ' 101 202 303 404 505 606 707 808 909 111 212 313 414 515 616'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'to be continued ...'
      |      ELSE '' END AS text
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws,
      |    string_split(text, chr(10)) AS ls
      |  FROM base
      |), r AS (
      |  SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    list_sum(list_transform(ws, x -> length(x))) AS sum_len,
      |    length(text) - length(replace(text, '#', '')) AS n_hash,
      |    (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
      |    len(ls) AS n_lines,
      |    len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS n_bullet,
      |    len(list_filter(ls, l -> rtrim(l) LIKE '%...')) AS n_eline,
      |    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
      |    len(list_intersect(list_transform(ws, x -> lower(x)),
      |        ['the', 'a', 'data', 'value', 'table'])) AS stop_hits
      |  FROM m
      |), v AS (
      |  SELECT doc_id, n_words,
      |    CASE WHEN n_words > 0 THEN sum_len * 1.0 / n_words END AS ml,
      |    CASE WHEN n_words > 0 THEN (n_hash + n_ell) * 1.0 / n_words END AS sy,
      |    n_bullet * 1.0 / n_lines AS bl,
      |    n_eline * 1.0 / n_lines AS el,
      |    CASE WHEN n_words > 0 THEN n_alpha * 1.0 / n_words END AS al,
      |    stop_hits
      |  FROM r
      |)
      |SELECT doc_id, n_words,
      |  round(ml, 6) AS mean_word_len,
      |  round(sy, 6) AS symbol_ratio,
      |  round(bl, 6) AS bullet_ratio,
      |  round(el, 6) AS ellipsis_ratio,
      |  round(al, 6) AS alpha_ratio,
      |  CAST(stop_hits AS INT) AS stop_hits,
      |  CAST(coalesce(CAST(
      |    n_words BETWEEN 10 AND 1000 AND ml BETWEEN 3.0 AND 10.0
      |    AND sy <= 0.1 AND bl <= 0.1 AND el <= 0.3 AND al >= 0.8
      |    AND stop_hits >= 2 AS INT), 0) AS INT) AS passes
      |FROM v
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST, 6 NULLS FIRST, 7 NULLS FIRST, 8 NULLS FIRST,
      |         9 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q136 — GOPHER REPETITION RULES: duplicate-line fraction (count and
  //        char-weighted), top 2-gram char fraction, duplicate 3-gram
  //        char fraction. %3 docs get the doc's first-10-token chunk
  //        appended TWICE as separate lines (duplicate lines + inflated
  //        gram counts); the rest measure the fixture's natural
  //        repetition. The oracle replays plant, line census, gram
  //        censuses, the (count desc, gram asc) top-gram election, and
  //        every fraction.
  // -------------------------------------------------------------------
  def q136(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir).select(col("doc_id"), col("text"),
      TextFunctions.tokens(col("text")).as("ts"))
    val chunk = concat_ws(" ", slice(col("ts"), 1, 10))
    val planted = t.select(col("doc_id"),
      when(col("doc_id") % 3 === 0 && size(col("ts")) >= 10,
        concat(col("text"), lit("\n"), chunk, lit("\n"), chunk))
        .otherwise(col("text")).as("text"))
    sorted(graft.operators.Quality.repetitionReport(
      planted, "doc_id", "text", topN = 2, dupN = 3))
  }

  val q136Sql: String =
    """WITH t0 AS (
      |  SELECT doc_id, text,
      |         string_split_regex(trim(text), '\s+') AS ts
      |  FROM documents
      |), base AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 AND len(ts) >= 10
      |      THEN text || chr(10) || array_to_string(ts[1:10], ' ')
      |                || chr(10) || array_to_string(ts[1:10], ' ')
      |      ELSE text END AS text
      |  FROM t0
      |), m AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws,
      |    string_split(text, chr(10)) AS ls
      |  FROM base
      |), lc AS (
      |  SELECT doc_id, l, count(*) AS c
      |  FROM (SELECT doc_id, unnest(ls) AS l FROM m) GROUP BY 1, 2
      |), lstat AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
      |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_l,
      |    sum(c * length(l)) AS chars_l,
      |    sum(CASE WHEN c >= 2 THEN c * length(l) ELSE 0 END) AS dup_lc
      |  FROM lc GROUP BY 1
      |), g2 AS (
      |  SELECT doc_id, array_to_string(ws[r.i:r.i+1], ' ') AS g, count(*) AS c
      |  FROM m, LATERAL (SELECT unnest(range(1, len(ws))) AS i) r
      |  WHERE len(ws) >= 2 GROUP BY 1, 2
      |), top2 AS (
      |  SELECT doc_id, c AS top_c, length(g) AS top_len
      |  FROM g2
      |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) = 1
      |), g3 AS (
      |  SELECT doc_id, array_to_string(ws[r.i:r.i+2], ' ') AS g, count(*) AS c
      |  FROM m, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) r
      |  WHERE len(ws) >= 3 GROUP BY 1, 2
      |), dup3 AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dup_gc
      |  FROM g3 GROUP BY 1
      |)
      |SELECT m.doc_id, n_lines,
      |  round(dup_l * 1.0 / n_lines, 6) AS dup_line_frac,
      |  CASE WHEN chars_l > 0 THEN round(dup_lc * 1.0 / chars_l, 6)
      |       ELSE 0.0 END AS dup_line_char_frac,
      |  CASE WHEN top_c IS NOT NULL AND length(m.text) > 0
      |       THEN round(top_c * top_len * 1.0 / length(m.text), 6)
      |  END AS top_ngram_char_frac,
      |  CASE WHEN length(m.text) > 0
      |       THEN round(coalesce(dup_gc, 0) * 1.0 / length(m.text), 6)
      |  END AS dup_ngram_char_frac
      |FROM m JOIN lstat USING (doc_id) LEFT JOIN top2 USING (doc_id)
      |       LEFT JOIN dup3 USING (doc_id)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST, 4 NULLS FIRST,
      |         5 NULLS FIRST, 6 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q139 — CURATION PIPELINE v3: the CRAWL-side recipe composed as ONE
  //        oracle row — HTML extraction (q137's wrap) → Gopher quality
  //        gate (q134's rules over the EXTRACTED text) → URL dedup
  //        (q138's plant + canonicalization, keep min doc id per
  //        canonical AMONG quality survivors) → deterministic
  //        shuffle-to-shards (q105's md5 assignment). Output is the
  //        per-shard doc count + token mass; drift in ANY stage (a
  //        leaked script token shifting a word count, a wrong entity
  //        decode changing a stopword hit, a dedup winner flip, a shard
  //        hash change) fails the single hash.
  // -------------------------------------------------------------------
  def q139(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
      .where(size(col("ts")) >= 6)
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><script type=\"text/javascript\">var x = 1 < 2;" +
        "</script><style>p { color: red }</style></head><body><h1>"),
      concat_ws(" ", slice(col("ts"), 1, 5)),
      lit("</h1><!-- hidden --><p>"),
      concat_ws(" ", slice(col("ts"), lit(6), size(col("ts")) - 5)),
      lit(" &amp; more &lt;tags&gt;</p></body></html>"))
    // materialize the EXTRACT stage before the Gopher gate (the v4-chain
    // stage-boundary doctrine v3 never got): gopherReport derives ~9
    // per-doc metrics from `text`, and with the strip chain composed
    // lazily ProjectCollapsing inlines the synthesized-html + 10-regex
    // pipeline into EVERY metric expression (the interpreted HOF path
    // gets no common-subexpression elimination) — measured as one 2.5 s
    // job for 5000 docs where the strip alone (q137) and the gate alone
    // (q134) each cost < 0.35 s. Materialized, the strip runs once per
    // row and the gate reads a stored string column.
    val extracted = lbl(s, "v3: html extract")(t.select(col("doc_id"),
      TextFunctions.stripHtml(html).as("text"))
      .transform(graft.util.Stage.materialize))
    // the Gopher gate is a row filter over the extracted rows (no report
    // frame, no semi-join back by id); survivors are materialized because
    // `kept` feeds the URL-dedup winners join, the survivor semi-join AND
    // the final shard aggregation — lazily the gate re-ran per consumer
    val kept = lbl(s, "v3: gopher gate")(extracted
      .where(graft.operators.Quality.gopherPasses(col("text"),
        graft.operators.Quality.GopherParams(minWords = 10,
          maxWords = 1000,
          stopwords = Seq("the", "a", "data", "value", "table"))))
      .transform(graft.util.Stage.materialize))
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, lit("HTTP")).otherwise(lit("http")), lit("://"),
      when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Example"), (id % 50).cast("string"), lit(".COM"),
      when(id % 5 === 0, lit(":80")).otherwise(lit("")),
      lit("/Path/"), (id % 20).cast("string"),
      when(id % 4 === 0, lit("/")).otherwise(lit("")),
      when(id % 2 === 0, lit("?b=2&utm_source=feed&a=1"))
        .otherwise(lit("?a=1&b=2&gclid=xyz")),
      when(id % 7 === 0, lit("#section")).otherwise(lit("")))
    val canon = kept.select(col("doc_id"),
      TextFunctions.canonicalizeUrl(url).as("canonical"))
    val winners = canon.groupBy("canonical").agg(min("doc_id").as("doc_id"))
    val surv = kept.join(winners.select("doc_id"), Seq("doc_id"), "left_semi")
    val sharded = graft.operators.Sampling.shuffleShards(
      surv, "doc_id", numShards = 8)
    sorted(sharded.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.nTokens(col("text")).cast("long"))
        .as("total_tokens")))
  }

  val q139Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |  FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 6
      |), h AS (
      |  SELECT doc_id,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |    '</title><script type="text/javascript">var x = 1 < 2;' ||
      |    '</script><style>p { color: red }</style></head><body><h1>' ||
      |    array_to_string(ts[1:5], ' ') || '</h1><!-- hidden --><p>' ||
      |    array_to_string(ts[6:len(ts)], ' ') ||
      |    ' &amp; more &lt;tags&gt;</p></body></html>' AS html
      |  FROM t
      |), x AS (
      |  SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      |        '(?s)<!--.*?-->', ' ', 'g'),
      |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |      '<[^>]+>', ' ', 'g'),
      |    '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
      |    '&quot;', '"', 'g'), '&#39;', chr(39), 'g'), '&amp;', '&', 'g'),
      |    '\s+', ' ', 'g')) AS text
      |  FROM h
      |), w AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(trim(text), '\s+'), y -> y <> '') AS ws,
      |    string_split(text, chr(10)) AS ls
      |  FROM x
      |), v AS (
      |  SELECT doc_id, text,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    list_sum(list_transform(ws, y -> length(y))) AS sum_len,
      |    length(text) - length(replace(text, '#', '')) AS n_hash,
      |    (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
      |    len(ls) AS n_lines,
      |    len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS n_bullet,
      |    len(list_filter(ls, l -> rtrim(l) LIKE '%...')) AS n_eline,
      |    len(list_filter(ws, y -> regexp_matches(y, '[A-Za-z]'))) AS n_alpha,
      |    len(list_intersect(list_transform(ws, y -> lower(y)),
      |        ['the', 'a', 'data', 'value', 'table'])) AS stop_hits
      |  FROM w
      |), kept AS (
      |  SELECT doc_id, text, n_words FROM v
      |  WHERE n_words BETWEEN 10 AND 1000
      |    AND sum_len * 1.0 / n_words BETWEEN 3.0 AND 10.0
      |    AND (n_hash + n_ell) * 1.0 / n_words <= 0.1
      |    AND n_bullet * 1.0 / n_lines <= 0.1
      |    AND n_eline * 1.0 / n_lines <= 0.3
      |    AND n_alpha * 1.0 / n_words >= 0.8
      |    AND stop_hits >= 2
      |), u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
      |    'Example' || CAST(doc_id % 50 AS VARCHAR) || '.COM' ||
      |    (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
      |    '/Path/' || CAST(doc_id % 20 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1'
      |          ELSE '?a=1&b=2&gclid=xyz' END) ||
      |    (CASE WHEN doc_id % 7 = 0 THEN '#section' ELSE '' END) AS url
      |  FROM kept
      |), cu AS (
      |  SELECT doc_id, trim(url) AS u0,
      |    regexp_replace(trim(url), '#.*$', '', 'g') AS nofrag
      |  FROM u
      |), cp AS (
      |  SELECT doc_id, u0,
      |    lower(regexp_extract(nofrag,
      |      '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_replace(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS aft
      |  FROM cu
      |), cq AS (
      |  SELECT doc_id, u0, scheme,
      |    regexp_replace(lower(regexp_extract(aft, '^([^/?]*)', 1)),
      |      '(^|@)www\.', '\1', 'g') AS auth1,
      |    regexp_replace(aft, '^[^/?]*', '') AS pathq
      |  FROM cp
      |), cr AS (
      |  SELECT doc_id, u0, scheme,
      |    CASE WHEN scheme = 'http' THEN regexp_replace(auth1, ':80$', '')
      |         WHEN scheme = 'https' THEN regexp_replace(auth1, ':443$', '')
      |         ELSE auth1 END AS auth,
      |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
      |      '/+$', '') AS path1,
      |    regexp_extract(pathq, '\?(.*)$', 1) AS qs
      |  FROM cq
      |), cf AS (
      |  SELECT doc_id, u0, scheme, auth,
      |    CASE WHEN path1 = '' THEN '/' ELSE path1 END AS path,
      |    list_sort(list_filter(string_split(qs, '&'), y ->
      |      y <> '' AND NOT regexp_matches(y, '^(utm_[^=]*|gclid|fbclid)(=|$)')))
      |      AS ps
      |  FROM cr
      |), canon AS (
      |  SELECT doc_id,
      |    CASE WHEN scheme = '' THEN u0
      |         ELSE scheme || '://' || auth || path ||
      |              (CASE WHEN len(ps) > 0
      |                    THEN '?' || array_to_string(ps, '&') ELSE '' END)
      |    END AS canonical
      |  FROM cf
      |), win AS (
      |  SELECT min(doc_id) AS doc_id FROM canon GROUP BY canonical
      |), surv AS (
      |  SELECT k.doc_id, k.n_words FROM kept k
      |  JOIN win ON win.doc_id = k.doc_id
      |), sh AS (
      |  SELECT doc_id, n_words,
      |    CAST(least(floor(
      |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |           AS BIGINT) / 1152921504606846976.0 * 8), 7) AS INT) AS shard
      |  FROM surv
      |)
      |SELECT shard, count(*) AS n_docs,
      |       CAST(sum(n_words) AS BIGINT) AS total_tokens
      |FROM sh GROUP BY 1
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q151 — DOC-BOUNDARY-RESPECTING sequence packing (the other standard
  //        export shape next to q144's boundary-splitting concat): docs
  //        harmonic-bucketed by b = seqLen div len (b docs of bucket b
  //        always fit one sequence), filled in deterministic md5 order,
  //        sequences numbered densely across buckets. seqLen = 64 with
  //        truncate on, so the corpus's 65..99-token docs exercise the
  //        truncation contract (n_tokens reports the KEPT count) inside
  //        the oracle. The oracle replays the bucket arithmetic, the
  //        per-bucket rank, the dense sequence numbering, and every
  //        in-sequence offset — a drifted assignment anywhere fails the
  //        hash.
  // -------------------------------------------------------------------
  def q151(s: SparkSession, dir: String): DataFrame =
    sorted(Sampling.packSequencesBinned(docs(s, dir), "doc_id",
      TextFunctions.nTokens(col("text")), seqLen = 64, truncate = true)
      .select("doc_id", "n_tokens", "seq", "off"))

  val q151Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    least(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT),
      |          64) AS n,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |         AS BIGINT) / 1152921504606846976.0 AS u
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, n, u, 64 // n AS bkt FROM t WHERE n > 0
      |), r AS (
      |  SELECT doc_id, n, u, bkt,
      |    row_number() OVER (PARTITION BY bkt ORDER BY u, doc_id) - 1 AS rk
      |  FROM b
      |), so AS (
      |  SELECT bkt, count(*) AS c FROM r GROUP BY 1
      |), so2 AS (
      |  SELECT bkt,
      |    coalesce(sum((c + bkt - 1) // bkt) OVER (ORDER BY bkt
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS soff
      |  FROM so
      |), sq AS (
      |  SELECT r.doc_id, r.n, r.u, so2.soff + r.rk // r.bkt AS seq
      |  FROM r JOIN so2 USING (bkt)
      |), o AS (
      |  SELECT doc_id, n, seq,
      |    coalesce(sum(n) OVER (PARTITION BY seq ORDER BY u, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM sq
      |)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      |       CAST(seq AS BIGINT) AS seq, CAST(off AS BIGINT) AS off
      |FROM o
      |UNION ALL
      |SELECT doc_id, CAST(0 AS BIGINT), NULL, NULL FROM t WHERE n = 0
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q152 — CURATION STAGE-YIELD FUNNEL: the v4 chain's per-stage
  //        debugging view — one row per stage boundary with docs/tokens
  //        in and out and the drop attribution, counted at the SAME
  //        localCheckpoint'ed frames q143 aggregates (shared v4Stages
  //        helper), so the funnel's leaf row and q143's totals cannot
  //        drift apart. The oracle replays every stage count from the
  //        SAME CTE chain as q143's oracle — a drifted gate anywhere
  //        fails one of the two hashes.
  // -------------------------------------------------------------------
  def q152(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val st = v4Stages(s, dir)
    def tok = size(v4Toks(col("text"))).cast("long")
    sorted(Corpus.stageFunnel(Seq(
      ("input", st.input, size(col("ts")).cast("long")),
      ("extract", st.extracted, tok),
      ("langid", st.en, tok),
      ("gopher", st.kept, tok),
      ("line_dedup", st.fixed, tok),
      ("paragraph_dedup", st.para, tok),
      ("regate", st.regated, tok),
      ("near_dup", st.deduped, tok),
      ("drop_eval_source", st.trainSide, tok),
      ("decontaminate", st.cleaned, tok))))
  }

  val q152Sql: String = q143Ctes +
    """
      |, lr AS MATERIALIZED (
      |  SELECT doc_id, source,
      |         string_agg(para, chr(10) ORDER BY np) AS text
      |  FROM k1 GROUP BY 1, 2
      |), fun AS MATERIALIZED (
      |  SELECT 1 AS stage, 'input' AS gate, count(*) AS docs,
      |         CAST(coalesce(sum(len(ts)), 0) AS BIGINT) AS tokens FROM t
      |  UNION ALL
      |  SELECT 2, 'extract', count(*),
      |         CAST(coalesce(sum(len(list_filter(string_split_regex(
      |           trim(text), '\s+'), y -> y <> ''))), 0) AS BIGINT) FROM x
      |  UNION ALL
      |  SELECT 3, 'langid', count(*),
      |         CAST(coalesce(sum(len(list_filter(string_split_regex(
      |           trim(text), '\s+'), y -> y <> ''))), 0) AS BIGINT) FROM en
      |  UNION ALL
      |  SELECT 4, 'gopher', count(*),
      |         CAST(coalesce(sum(len(list_filter(string_split_regex(
      |           trim(text), '\s+'), y -> y <> ''))), 0) AS BIGINT) FROM kept
      |  UNION ALL
      |  SELECT 5, 'line_dedup', count(*),
      |         CAST(coalesce(sum(len(list_filter(string_split_regex(
      |           trim(text), '\s+'), y -> y <> ''))), 0) AS BIGINT) FROM lr
      |  UNION ALL
      |  SELECT 6, 'paragraph_dedup', count(*),
      |         CAST(coalesce(sum(len(list_filter(string_split_regex(
      |           trim(text), '\s+'), y -> y <> ''))), 0) AS BIGINT) FROM reb
      |  UNION ALL
      |  SELECT 7, 'regate', count(*),
      |         CAST(coalesce(sum(len(tks)), 0) AS BIGINT) FROM rg
      |  UNION ALL
      |  SELECT 8, 'near_dup', count(*),
      |         CAST(coalesce(sum(len(tks)), 0) AS BIGINT) FROM dd
      |  UNION ALL
      |  SELECT 9, 'drop_eval_source', count(*),
      |         CAST(coalesce(sum(len(tks)), 0) AS BIGINT) FROM dd WHERE source <> 'src0'
      |  UNION ALL
      |  SELECT 10, 'decontaminate', count(*),
      |         CAST(coalesce(sum(ntok), 0) AS BIGINT) FROM cln
      |)
      |SELECT CAST(stage AS INT) AS stage, gate,
      |       lag(docs) OVER (ORDER BY stage) AS docs_in,
      |       docs AS docs_out,
      |       lag(tokens) OVER (ORDER BY stage) AS tokens_in,
      |       tokens AS tokens_out,
      |       lag(docs) OVER (ORDER BY stage) - docs AS dropped_docs,
      |       lag(tokens) OVER (ORDER BY stage) - tokens AS dropped_tokens
      |FROM fun
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST,
      |         4 NULLS FIRST, 5 NULLS FIRST, 6 NULLS FIRST,
      |         7 NULLS FIRST, 8 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q155 — TOKENIZER-TRUE PACKED EXPORT verdict: the full export
  //        composition a training pipeline actually runs — train a BPE
  //        tokenizer (q99's trainer), encode the corpus to EXACT per-doc
  //        token counts (exactOov — the driver tokenizer's counts for
  //        every word), pack boundary-respecting sequences budgeted in
  //        those REAL tokens (q151's harmonic bucketing), land the
  //        loader-ready shard layout, and read the export back. The
  //        counts frame materializes ONCE (localCheckpoint inside
  //        packTokenizedBpe — plan-pinned in BpeSpec). BPE counts
  //        aren't SQL-replayable, so the verdicts are construction-true
  //        laws computed against the SAME encode frame: packed totals
  //        equal the (truncation-adjusted) encode totals, no doc crosses
  //        a sequence boundary, sequence ids stay dense, and the
  //        read-back export carries exactly the packed rows and tokens.
  //        n_docs / packed_docs replay in DuckDB (a doc packs iff it has
  //        a non-whitespace char).
  // -------------------------------------------------------------------
  def q155(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Bpe, Sampling}
    val seqLen = 512L
    val d = docs(s, dir)
    val model = Bpe.trainBpe(d, "text", numMerges = 64)
    packedExportVerdict(s, d,
      Sampling.packTokenizedBpe(d, "doc_id", "text", model, seqLen,
        truncate = true),
      // the SAME encode the packing consumed (verdict side re-derives
      // it independently), truncation-adjusted below
      Bpe.encodeTokenCounts(d, "doc_id", "text", model), "n_bpe_tokens",
      seqLen, numShards = 4,
      s"${System.getProperty("java.io.tmpdir")}/graft_q155_" +
        s"packed_${s.sparkContext.applicationId}_" +
        Integer.toHexString(dir.hashCode))
  }

  val q155Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(*) FILTER (WHERE regexp_matches(text, '\S'))
      |            AS BIGINT) AS packed_docs,
      |       1 AS tokens_ok, 1 AS boundary_ok, 1 AS dense_ok,
      |       1 AS export_ok
      |FROM documents""".stripMargin

  /** Shared verdict body of q155/q158 — the tokenizer-true packed-export
    * composition with its construction-true laws, parameterized over the
    * trained tokenizer lane (BPE / unigram-LM). `packed0` must be the
    * [[Sampling]] packTokenized* output and `counts` an INDEPENDENT
    * re-derivation of the encode it consumed (`countCol` its token
    * column). The scratch export is deleted once the verdicts have
    * aggregated (ADVICE r16: the per-applicationId path otherwise
    * accumulates one copy per run on a shared box). */
  private def packedExportVerdict(s: SparkSession, d: DataFrame,
                                  packed0: DataFrame, counts: DataFrame,
                                  countCol: String, seqLen: Long,
                                  numShards: Int, scratch: String)
  : DataFrame = {
    import s.implicits._
    import graft.operators.Sampling
    val scratchPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = scratchPath.getFileSystem(s.sessionState.newHadoopConf())
    // the export write sits INSIDE the try: a failure mid-shard-write
    // must still delete the partial scratch dir, or every failed run
    // leaks one per-applicationId copy (the accumulation this cleanup
    // exists to prevent)
    try {
      // three independent legs overlapped (guide §2.6): the shard-export
      // write + checkpoint, the verdict's independent encode
      // re-derivation, and the input count — then the two packed-side
      // aggregations (checkpoint read, export read-back) overlap too
      val legs = graft.util.Par.run[Any](Seq(
        () => Sampling.writePackedTokenized(packed0, numShards, scratch)
          .transform(graft.util.Stage.materialize), // laws below aggregate it three ways
        () => counts
          .agg(sum(least(col(countCol), lit(seqLen))).as("t"),
            count(lit(1)).as("c")).head(),
        () => d.count()))
      val packed = legs(0).asInstanceOf[DataFrame]
      val encRow = legs(1).asInstanceOf[org.apache.spark.sql.Row]
      val (encTotal, encDocs) = (encRow.getLong(0), encRow.getLong(1))
      val nDocs = legs(2).asInstanceOf[Long]
      val laws = graft.util.Par.run[org.apache.spark.sql.Row](Seq(
        () => packed.filter(col("seq").isNotNull)
          .agg(count(lit(1)).as("rows"), sum("n_tokens").as("tok"),
            max(col("off") + col("n_tokens")).as("hi"), min("off").as("lo"),
            countDistinct("seq").as("nseq"), max("seq").as("mseq")).head(),
        () => s.read.parquet(scratch)
          .agg(count(lit(1)).as("rows"), sum("n_tokens").as("tok"),
            countDistinct("shard").as("sh")).head()))
      val (p, e) = (laws(0), laws(1))
      val (pDocs, pTok) = (p.getLong(0), p.getLong(1))
      val boundaryOk = p.getLong(2) <= seqLen && p.getLong(3) == 0L
      val denseOk = p.getLong(4) == p.getLong(5) + 1L
      val exportOk = e.getLong(0) == pDocs && e.getLong(1) == pTok &&
        e.getLong(2) <= numShards
      Seq((nDocs, pDocs,
        if (pTok == encTotal && pDocs == encDocs) 1 else 0,
        if (boundaryOk) 1 else 0,
        if (denseOk) 1 else 0,
        if (exportOk) 1 else 0))
        .toDF("n_docs", "packed_docs", "tokens_ok", "boundary_ok",
          "dense_ok", "export_ok")
    } finally fs.delete(scratchPath, true): Unit
  }

  // -------------------------------------------------------------------
  // q157 — STREAMING-STORE MAINTENANCE (storeHealth → conditional
  //        compact): plant a 20-batch per-batch-id store (the
  //        DocStreaming shingle-store layout, one hive write — batch b
  //        holds one row per doc with s = b, so every row is globally
  //        unique and all counts are construction arithmetic), run
  //        maintainStore twice, and verify (a) the first tick saw 20
  //        live partitions > 16, fired, and compacted batches 0..18
  //        into batch=-1 (19 × n_docs rows) leaving the newest batch
  //        (n_docs rows) live, (b) the second tick is a healthy no-op
  //        (1 live partition, nothing compacted twice), and (c) the
  //        read-back store carries exactly the planted 20 × n_docs
  //        rows — compaction lost and duplicated nothing. Every column
  //        is arithmetic over count(documents) → REAL hash row (the
  //        q156 doctrine applied to the streaming batch stores). The
  //        zero-jobs/no-write healthy no-op is law-pinned in
  //        StreamingSpec.
  // -------------------------------------------------------------------
  def q157(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.DocStreaming
    val nBatches = 20L
    val d = docs(s, dir).select("doc_id")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_q157_" +
      s"store_${s.sparkContext.applicationId}_" +
      Integer.toHexString(dir.hashCode)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(rootPath, true)
    try {
      d.withColumn("batch",
          explode(sequence(lit(0L), lit(nBatches - 1L))))
        .select(col("doc_id"), col("batch").as("s"), col("batch"))
        .write.mode("overwrite").partitionBy("batch").parquet(root)
      val first = DocStreaming.maintainStore(s, root)
        .select("batches_live", "recommend_compaction", "compacted")
        .head()
      val second = DocStreaming.maintainStore(s, root)
        .select("batches_live", "has_compacted", "rows_live",
          "rows_compacted", "rows_total", "compacted")
        .head()
      val readBack = s.read.parquet(root).count()
      Seq((d.count(), first.getInt(0), first.getBoolean(1),
        first.getBoolean(2), second.getInt(0), second.getBoolean(1),
        second.getLong(2), second.getLong(3), second.getLong(4),
        second.getBoolean(5), readBack))
        .toDF("n_docs", "batches_before", "rec_before", "compacted",
          "batches_after", "has_compacted", "rows_live_after",
          "rows_compacted_after", "rows_total_after", "second_compacted",
          "rows_readback")
    } finally fs.delete(rootPath, true): Unit
  }

  val q157Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       20 AS batches_before, true AS rec_before, true AS compacted,
      |       1 AS batches_after, true AS has_compacted,
      |       CAST(count(*) AS BIGINT) AS rows_live_after,
      |       CAST(19 * count(*) AS BIGINT) AS rows_compacted_after,
      |       CAST(20 * count(*) AS BIGINT) AS rows_total_after,
      |       false AS second_compacted,
      |       CAST(20 * count(*) AS BIGINT) AS rows_readback
      |FROM documents""".stripMargin

  // -------------------------------------------------------------------
  // q158 — UNIGRAM-LM PACKED EXPORT verdict: q155's end-to-end export
  //        chain on the second standard subword lane — train the
  //        unigram-LM tokenizer (q153's trainer), encode to exact
  //        per-doc token counts (the exactOov DEFAULT — unified this
  //        round), pack + shard + read back, same construction-true
  //        laws via the shared verdict body.
  // -------------------------------------------------------------------
  def q158(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Bpe, Sampling}
    val seqLen = 512L
    val d = docs(s, dir)
    val model = Bpe.trainUnigram(d, "text", vocabSize = 256,
      maxPieceLen = 6, seedSize = 2048, emRounds = 2)
    packedExportVerdict(s, d,
      Sampling.packTokenizedUnigram(d, "doc_id", "text", model, seqLen,
        truncate = true),
      Bpe.unigramTokenCounts(d, "doc_id", "text", model), "n_uni_tokens",
      seqLen, numShards = 4,
      s"${System.getProperty("java.io.tmpdir")}/graft_q158_" +
        s"packed_${s.sparkContext.applicationId}_" +
        Integer.toHexString(dir.hashCode))
  }

  val q158Sql: String = q155Sql
}
