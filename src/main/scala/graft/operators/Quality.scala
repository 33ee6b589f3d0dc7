package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality audit over a table — the constraint-check
  * pass a production ingest runs before data enters the cube or a
  * training mix (completeness / uniqueness / domain rules, the
  * deequ-style surface). No reference counterpart; extension operator.
  *
  * Everything is computed in ONE aggregation over ONE scan: each rule
  * contributes a conditional-sum column (uniqueness contributes a
  * count-distinct, which Catalyst plans into the same pass via Expand),
  * the single result row is then exploded into one report row per rule —
  * at 100 TB an audit costs one fact scan regardless of how many rules
  * it checks, and nothing but per-rule counters ever shuffles.
  *
  * Violation semantics are rule-local so rules compose without double
  * counting: NULLs violate only `NotNull` — range/domain rules skip them
  * (a null price is a completeness problem, not a range problem). */
object Quality {

  sealed trait Rule
  /** `column` must not be NULL. */
  final case class NotNull(column: String) extends Rule
  /** The tuple `columns` must be unique across complete rows (rows with
    * a NULL key component are skipped — count-distinct semantics in
    * every engine — and flagged by a NotNull rule instead). */
  final case class Unique(columns: Seq[String]) extends Rule
  /** Non-null `column` must lie in [lo, hi] (inclusive). */
  final case class InRange(column: String, lo: Double, hi: Double) extends Rule
  /** Non-null `column` must be one of `values`. */
  final case class AcceptedValues(column: String, values: Seq[String])
      extends Rule

  private def ruleAgg(r: Rule): Column = r match {
    case NotNull(c) =>
      sum(when(col(c).isNull, 1L).otherwise(0L))
    case Unique(cs) =>
      // excess duplicates among complete rows: complete - distinct
      sum(when(cs.map(col(_).isNotNull).reduce(_ && _), 1L).otherwise(0L)) -
        countDistinct(col(cs.head), cs.tail.map(col): _*)
    case InRange(c, lo, hi) =>
      sum(when(col(c).isNotNull &&
        (col(c) < lit(lo) || col(c) > lit(hi)), 1L).otherwise(0L))
    case AcceptedValues(c, vs) =>
      sum(when(col(c).isNotNull && !col(c).isin(vs: _*), 1L).otherwise(0L))
  }

  private def ruleName(r: Rule): String = r match {
    case _: NotNull        => "not_null"
    case _: Unique         => "unique"
    case _: InRange        => "in_range"
    case _: AcceptedValues => "accepted_values"
  }

  private def ruleColumn(r: Rule): String = r match {
    case NotNull(c)           => c
    case Unique(cs)           => cs.mkString(",")
    case InRange(c, _, _)     => c
    case AcceptedValues(c, _) => c
  }

  /** Run `rules` against `df`. Output: one row per rule, in rule order —
    * (rule_no, rule, target, n_rows, violations, pass) — where `n_rows`
    * is the table row count and `pass` = 1 iff violations = 0. (`target`
    * not `column`, `n_rows` not `rows`: both are reserved words somewhere
    * among the engines a report lands in.) */
  def audit(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "audit needs at least one rule")
    val aggs = count(lit(1)).as("__rows") +:
      rules.zipWithIndex.map { case (r, i) =>
        coalesce(ruleAgg(r), lit(0L)).as(s"__v$i")
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = rules.zipWithIndex.map { case (r, i) =>
      struct(
        lit(i + 1).as("rule_no"),
        lit(ruleName(r)).as("rule"),
        lit(ruleColumn(r)).as("target"),
        col("__rows").as("n_rows"),
        col(s"__v$i").as("violations"),
        (col(s"__v$i") === 0L).cast("int").as("pass"))
    }
    one.select(explode(array(entries: _*)).as("r")).select("r.*")
  }

  // -------------------------------------------------------------------
  // Learned quality classifier — the CCNet/fastText-style filter: a
  // linear model over hashed bag-of-words features separating "looks
  // like my curated corpus" from "looks like raw crawl". Built on
  // Spark ML's public pipeline primitives (HashingTF + logistic
  // regression), so training is the distributed treeAggregate LBFGS
  // the cluster already knows how to run, and scoring is a per-row
  // sparse dot against broadcast coefficients — no shuffle, no UDF,
  // linear in tokens at any corpus size.
  // -------------------------------------------------------------------

  /** A fitted quality model (hashed-BoW logistic regression). */
  final case class QualityModel(
      lr: org.apache.spark.ml.classification.LogisticRegressionModel,
      numFeatures: Int)

  private def hashedFeatures(df: DataFrame, textCol: String,
                             numFeatures: Int): DataFrame = {
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("__toks").setOutputCol("__feat")
      .setNumFeatures(numFeatures)
    tf.transform(df.withColumn("__toks",
      array_remove(graft.functions.TextFunctions.tokens(col(textCol)), "")))
  }

  /** Bound + parallelize a labeled training input, shared by the two
    * classifier fits: classifiers are STATISTICS, not indexes (the
    * trainCentroids doctrine) — train on a deterministic hash-thinned
    * sample of ≈`maxTrainRows` rows IN EXPECTATION (the thin keys on
    * `xxhash64(thinKey, strata)`, so duplicate (key, stratum) rows share
    * fate and the realized sample can land above or below the target —
    * an expectation bound, not a hard cap), spread over enough
    * partitions that every LBFGS pass parallelizes (a single-row-group
    * parquet fixture otherwise runs every evaluation on ONE core).
    *
    * The thin is STRATIFIED-SAFE: the minimum-hash row of every stratum
    * (label / language) always survives, so a rare class can never be
    * silently emptied out of the fit by the hash draw — the stratum
    * census is one strata-sized aggregation, broadcast back. Including
    * the stratum in the hash key also decorrelates the draw from the
    * text column alone (a pure-text key would give every duplicate text
    * one shared fate ACROSS labels).
    *
    * Spark 4's `LogisticRegression.fit` no longer caches its input, so
    * the ~3·maxIter objective/gradient evaluations each re-run the full
    * featurization lineage unless the caller materializes it — the
    * measured cost of q142's fit was 30 single-threaded featurization
    * passes, not the optimizer. Callers persist the RESULTING features
    * frame and unpersist after the fit. */
  private def boundedTrainInput(df: DataFrame, thinKey: Column,
                                strata: Column,
                                maxTrainRows: Long): DataFrame = {
    require(maxTrainRows > 0,
      s"maxTrainRows must be positive, got $maxTrainRows")
    val n = df.count()
    val thinned =
      if (n <= maxTrainRows) df
      else {
        // thinning is a default the caller may not expect — say so
        // loudly (the advisor's opt-in/logging ask): the fit sees a
        // sample, not the corpus
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"boundedTrainInput: thinning $n labeled rows to " +
            s"~$maxTrainRows (expectation; stratified min-hash rescue " +
            "keeps every class) — raise maxTrainRows to train on more")
        // deterministic hash thin — the same ≈maxTrainRows-row expected
        // sample whatever the partitioning
        val h = xxhash64(thinKey, strata)
        val withH = df.withColumn("__bti_s", strata)
          .withColumn("__bti_h", h)
        // strata-sized census: every stratum's min-hash row is a
        // guaranteed survivor (aliased key — the census is a self-join
        // on shared lineage, and the raw groupBy key would resolve to
        // the probe side's attribute)
        val mins = withH.groupBy(col("__bti_s").as("__bti_s2"))
          .agg(min("__bti_h").as("__bti_hmin"))
        withH
          .join(graft.model.Joins.maybeBroadcast(mins),
            col("__bti_s") <=> col("__bti_s2"), "left")
          .filter(pmod(col("__bti_h"), lit(n)) < lit(maxTrainRows) ||
            col("__bti_h") === col("__bti_hmin"))
          .drop("__bti_s", "__bti_s2", "__bti_h", "__bti_hmin")
      }
    // ~256 rows/partition: the columnar materialization of UDT vectors
    // costs ~1 ms/row, so fill parallelism (not optimizer math) bounds
    // small-corpus training time
    val parts = math.max(1, math.min(
      df.sparkSession.sparkContext.defaultParallelism,
      ((math.min(n, maxTrainRows) + 255L) / 256L).toInt))
    thinned.repartition(parts)
  }

  /** Fit the classifier on a labeled corpus (`labelCol` ∈ {0, 1};
    * 1 = keep-quality). `numFeatures` is the hashing-trick width —
    * collisions degrade gracefully; 2^18 suits web-scale vocabularies.
    * Training cost: one count + one materialized featurization over
    * ≈`maxTrainRows` sampled rows ([[boundedTrainInput]] — a label-
    * stratified expectation bound, both classes always survive) + the
    * `maxIter` distributed gradient aggregations. */
  def trainQualityClassifier(labeled: DataFrame, textCol: String,
                             labelCol: String, numFeatures: Int = 1 << 18,
                             maxIter: Int = 20,
                             regParam: Double = 1e-4,
                             maxTrainRows: Long = 1L << 18): QualityModel = {
    val base = boundedTrainInput(labeled, col(textCol), col(labelCol),
      maxTrainRows)
    val feats = hashedFeatures(base, textCol, numFeatures)
      .select(col("__feat"), col(labelCol).cast("double").as("__label"))
      .persist()
    try {
      val sc = feats.sparkSession.sparkContext
      graft.util.Jobs.labeled(sc, "quality: featurize")(
        feats.count()) // materialize ONCE — see boundedTrainInput
      val lr = new org.apache.spark.ml.classification.LogisticRegression()
        .setFeaturesCol("__feat").setLabelCol("__label")
        .setMaxIter(maxIter).setRegParam(regParam)
      graft.util.Jobs.labeled(sc, "quality: lbfgs fit")(
        QualityModel(lr.fit(feats), numFeatures))
    } finally feats.unpersist(): Unit
  }

  /** Score documents: (idCol, quality = P(label=1)), rounded to 4
    * decimals so downstream threshold filters are reproducible across
    * partitionings. One projection over one scan. */
  def scoreQuality(model: QualityModel, docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val feats = hashedFeatures(docs, textCol, model.numFeatures)
      .select(col(idCol), col("__feat"))
    model.lr.transform(feats)
      .select(col(idCol),
        round(org.apache.spark.ml.functions.vector_to_array(
          col(model.lr.getProbabilityCol)).getItem(1), 4).as("quality"))
  }

  // -------------------------------------------------------------------
  // Trained language-ID — the fastText-shaped pipeline stage (Joulin et
  // al. 2017: hashed char n-grams + multinomial logistic regression),
  // the same machinery as the quality classifier pointed at language
  // labels. The heuristic TextFunctions.langId stays the zero-setup
  // fallback; this is the trained stage a multilingual crawl needs.
  // Scoring is a per-row sparse dot against the BROADCAST coefficient
  // matrix (LogisticRegressionModel.transform) — no shuffle, no UDF,
  // linear in characters at any corpus size.
  // -------------------------------------------------------------------

  /** A fitted language-ID model: hashed char-n-gram multinomial LR plus
    * the label inventory (prediction index → language). */
  final case class LangIdModel(
      lr: org.apache.spark.ml.classification.LogisticRegressionModel,
      numFeatures: Int, gramN: Int, labels: Seq[String])

  /** Hashed char n-gram featurization: lowercase, collapse whitespace,
    * pad with one boundary space each side (word-initial/final shapes
    * are features — the fastText trick), then every n-char window.
    * Pure column expressions — text never leaves its row. */
  private def charGramFeatures(df: DataFrame, textCol: String,
                               numFeatures: Int, gramN: Int): DataFrame = {
    val t = concat(lit(" "),
      regexp_replace(lower(coalesce(col(textCol), lit(""))), "\\s+", " "),
      lit(" "))
    val grams = transform(
      sequence(lit(1), greatest(length(t) - (gramN - 1), lit(1))),
      i => t.substr(i, lit(gramN)))
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("__grams").setOutputCol("__feat")
      .setNumFeatures(numFeatures)
    tf.transform(df.withColumn("__grams", grams))
  }

  /** Fit language-ID on a labeled corpus (`langCol`: language tag, ≥ 2
    * distinct values; NULL-lang rows are skipped). The label inventory
    * is a languages-sized driver collect over the FULL (pre-thin)
    * input — a rare language the hash thin would have decimated still
    * appears in the model's label set, and the stratified thin
    * ([[boundedTrainInput]], strata = language) guarantees it at least
    * one training row. Training is one count + one MATERIALIZED
    * featurization ([[boundedTrainInput]] — Spark 4's fit re-runs an
    * uncached lineage ~3·maxIter times) + the `maxIter` distributed
    * gradient aggregations. */
  def trainLangId(labeled: DataFrame, textCol: String, langCol: String,
                  numFeatures: Int = 1 << 18, gramN: Int = 3,
                  maxIter: Int = 20, regParam: Double = 1e-4,
                  maxTrainRows: Long = 1L << 18): LangIdModel = {
    require(gramN >= 1, s"gramN must be positive, got $gramN")
    val full = labeled.filter(col(langCol).isNotNull)
    val base = boundedTrainInput(full, col(textCol), col(langCol),
      maxTrainRows)
      .persist()
    try {
      val labels = full.select(col(langCol).cast("string")).distinct()
        .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
        .filter(_ != null).sorted.toSeq
      require(labels.size >= 2,
        s"trainLangId needs >= 2 languages, got ${labels.mkString(", ")}")
      val idx = map(labels.zipWithIndex.flatMap { case (l, i) =>
        Seq(lit(l), lit(i.toDouble)) }: _*)
      val feats = charGramFeatures(base, textCol, numFeatures, gramN)
        .select(col("__feat"),
          element_at(idx, col(langCol).cast("string")).as("__label"))
        .persist()
      try {
        val sc = feats.sparkSession.sparkContext
        graft.util.Jobs.labeled(sc, "langid: featurize")(
          feats.count()) // materialize ONCE — see boundedTrainInput
        val lr = new org.apache.spark.ml.classification.LogisticRegression()
          .setFeaturesCol("__feat").setLabelCol("__label")
          .setFamily("multinomial")
          .setMaxIter(maxIter).setRegParam(regParam)
        graft.util.Jobs.labeled(sc, "langid: lbfgs fit")(
          LangIdModel(lr.fit(feats), numFeatures, gramN, labels))
      } finally feats.unpersist(): Unit
    } finally base.unpersist(): Unit
  }

  /** Predict: (idCol, lang, confidence = max class probability rounded
    * to 4 decimals). One broadcast-coefficient projection over one
    * scan — the [[scoreQuality]] shape with an argmax on top. */
  def predictLang(model: LangIdModel, docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val feats = charGramFeatures(docs, textCol, model.numFeatures,
      model.gramN)
    val labArr = array(model.labels.map(lit): _*)
    model.lr.transform(feats)
      .select(col(idCol),
        element_at(labArr,
          col(model.lr.getPredictionCol).cast("int") + 1).as("lang"),
        round(array_max(org.apache.spark.ml.functions.vector_to_array(
          col(model.lr.getProbabilityCol))), 4).as("confidence"))
  }

  // -------------------------------------------------------------------
  // Per-group exact score quantiles WITHOUT a data-sized sort — the
  // shared machinery behind CCNet-style bucketing ([[scoreBuckets]]) and
  // prototype pruning ([[Clustering.prototypePrune]]). Scores arrive
  // ROUNDED to a fixed number of decimals (the repo-wide 4-decimal
  // portability doctrine), so the (group, score) histogram is bounded by
  // the score RANGE × 10^4 — a property of the metric, independent of
  // row count: cosine ∈ [-1, 1] has ≤ 20,001 cells, a bigram NLL in
  // [0, ~30] a few hundred thousand. One aggregation builds it, the
  // driver walks the cumulative counts, thresholds return to the plan
  // as a literal map — no window ever touches the data.
  // -------------------------------------------------------------------

  /** Per-group score thresholds from the bounded rounded-score
    * histogram: for each group g with n non-null scores, entry i is the
    * `ranks(n)(i)`-th smallest score (1-based; every rank must lie in
    * [1, n]). Rows with a NULL group or score are excluded. The
    * histogram is collected bounded: more than `maxHistRows` distinct
    * (group, score) cells raises a NAMED error — the caller's score
    * resolution, not the data size, sets the bound. */
  private[operators] def groupScoreThresholds(
      df: DataFrame, groupCol: String, scoreCol: String,
      ranks: Long => Seq[Long],
      maxHistRows: Int): Map[String, Seq[Double]] = {
    val hist = df
      .filter(col(groupCol).isNotNull && col(scoreCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("__g"),
        col(scoreCol).cast("double").as("__s"))
      .agg(count(lit(1)).as("__c"))
    // one job: the limit rides the collect, the guard checks the length
    val rows = hist.limit(maxHistRows + 1).collect()
    if (rows.length > maxHistRows) throw new IllegalStateException(
      s"groupScoreThresholds: histogram exceeds maxHistRows=$maxHistRows " +
        "distinct (group, score) cells — round scores to fewer decimals " +
        "or raise the bound")
    rows.groupBy(_.getString(0)).map { case (g, rs) =>
      val sorted = rs.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
      val n = sorted.iterator.map(_._2).sum
      g -> ranks(n).map { k =>
        require(k >= 1 && k <= n,
          s"groupScoreThresholds: rank $k outside [1, $n] for group '$g'")
        var cum = 0L
        sorted.find { case (_, c) => cum += c; cum >= k }.get._1
      }
    }
  }

  /** CCNet-style per-group quality bucketing (Wenzek et al. 2020 §4.4:
    * per-language perplexity head/middle/tail): assign every row an
    * integer `bucket` by where its score falls among its OWN group's
    * score distribution. `fractions` are the cumulative boundaries —
    * the default (1/3, 2/3) yields terciles 0/1/2 with bucket 0 the
    * LOWEST scores (score = perplexity/NLL ⇒ bucket 0 is the fluent
    * "head"). Boundary t_i is the ceil(f_i·n)-th smallest score in the
    * group; a row lands in bucket #{i : score > t_i}, so ties share a
    * bucket and membership is deterministic and engine-portable (both
    * the boundary rank and the comparison see the same rounded values —
    * pass scores rounded to 4 decimals, the repo doctrine). The
    * fraction·n product is evaluated in IEEE double on BOTH sides of an
    * oracle (`ceil(f * n)` — mind engines whose decimal literals are
    * DECIMAL-typed: cast to double first).
    *
    * Rows with a NULL group or score get a NULL bucket (the
    * stratified-sampling null doctrine). Scale shape: one bounded
    * histogram aggregation + a driver threshold walk
    * ([[groupScoreThresholds]]) + one scan-side codegen'd projection
    * against the literal threshold map — no join, no window, nothing
    * data-sized moves. */
  def scoreBuckets(df: DataFrame, groupCol: String, scoreCol: String,
                   fractions: Seq[Double] = Seq(1.0 / 3, 2.0 / 3),
                   bucketCol: String = "bucket",
                   maxHistRows: Int = 1 << 20): DataFrame = {
    require(fractions.nonEmpty, "scoreBuckets needs at least one fraction")
    require(fractions.forall(f => f > 0 && f < 1),
      s"fractions must lie in (0, 1), got $fractions")
    require(fractions == fractions.sorted && fractions.distinct == fractions,
      s"fractions must be strictly increasing, got $fractions")
    val thr = groupScoreThresholds(df, groupCol, scoreCol,
      n => fractions.map(f => math.ceil(f * n).toLong), maxHistRows)
    val thrLit = typedLit(thr)
    df.withColumn(bucketCol,
      when(col(groupCol).isNotNull && col(scoreCol).isNotNull,
        size(filter(element_at(thrLit, col(groupCol).cast("string")),
          t => col(scoreCol).cast("double") > t))))
  }

  /** Tunable thresholds for [[gopherReport]]; defaults are the published
    * MassiveWeb values (Rae et al. 2021, Gopher, Appendix A1.1). */
  final case class GopherParams(
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.1,
      maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
      minStopwordHits: Int = 2,
      stopwords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"))

  /** The Gopher / MassiveWeb document-quality rule set (Rae et al. 2021,
    * Appendix A1.1) — the standard composite pre-filter every published
    * LLM data pipeline runs before dedup: per doc, the seven repetition-
    * free rules as EXACT integer/ratio metrics plus a combined verdict.
    *
    * Output per row: `n_words` (whitespace tokens), `mean_word_len`,
    * `symbol_ratio` (`#` and `...` occurrences per word), `bullet_ratio`
    * (fraction of lines whose first non-space char is `-`/`*`/`•`),
    * `ellipsis_ratio` (fraction of lines ending `...` after rtrim),
    * `alpha_ratio` (fraction of words containing a letter),
    * `stop_hits` (how many DISTINCT words of `params.stopwords` appear,
    * case-folded), and `passes` (1 iff every rule holds). Ratio columns
    * are rounded to 6 decimals for display; rule comparisons use the
    * UNROUNDED values (exact integer divisions — engine-replayable).
    * Empty/whitespace-only docs have no words: the word-based ratios are
    * NULL (never NaN — engines disagree on 0/0) and `passes` = 0; the
    * line-based ratios stay defined (a doc always has ≥ 1 line).
    *
    * Scale shape: pure per-row native expressions over one scan — no
    * UDF, no join, no shuffle; the filter composes with any downstream
    * operator at zero extra jobs. The unicode ellipsis `…` is
    * deliberately not counted (corpora normalize it upstream; counting
    * both would double-count normalized text). */
  def gopherReport(docs: DataFrame, idCol: String, textCol: String,
                   params: GopherParams = GopherParams()): DataFrame = {
    val g = gopherColumns(col(textCol), params)
    docs.select(col(idCol), g.nWords.as("n_words"),
      round(g.meanLen, 6).as("mean_word_len"),
      round(g.symbolR, 6).as("symbol_ratio"),
      round(g.bulletR, 6).as("bullet_ratio"),
      round(g.ellR, 6).as("ellipsis_ratio"),
      round(g.alphaR, 6).as("alpha_ratio"),
      g.stopHits.as("stop_hits"),
      coalesce(g.passes.cast("int"), lit(0)).as("passes"))
  }

  /** The [[gopherReport]] verdict as a row filter: true iff `passes` = 1
    * for `text`. A gate is `docs.where(gopherPasses(col("text")))` — the
    * rows themselves, no report frame and no join back by id. */
  def gopherPasses(text: Column, params: GopherParams = GopherParams()): Column =
    coalesce(gopherColumns(text, params).passes, lit(false))

  /** The unrounded Gopher metrics of one text column and the combined
    * rule (NULL when a word ratio is NULL), shared by [[gopherReport]]
    * and [[gopherPasses]]. */
  private final case class GopherColumns(
      nWords: Column, meanLen: Column, symbolR: Column, bulletR: Column,
      ellR: Column, alphaR: Column, stopHits: Column, passes: Column)

  private def gopherColumns(t: Column, p: GopherParams): GopherColumns = {
    require(p.minWords >= 1 && p.maxWords >= p.minWords,
      s"need 1 <= minWords <= maxWords, got ${p.minWords}..${p.maxWords}")
    require(p.stopwords.nonEmpty, "stopwords must not be empty")
    val ts = array_remove(split(trim(t), "\\s+"), "")
    val lines = split(t, "\n")
    val nWords = size(ts).cast("long")
    val sumLen = aggregate(ts, lit(0L), (a, x) => a + length(x))
    val nHash = (length(t) - length(replace(t, lit("#"), lit("")))).cast("long")
    val nEll = ((length(t) - length(replace(t, lit("..."), lit(""))))
      .cast("long") / lit(3L)).cast("long")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => ltrim(l).rlike("^[-*•]")))
      .cast("long")
    val nEllLine = size(filter(lines, l => rtrim(l).rlike("\\.\\.\\.$")))
      .cast("long")
    val nAlpha = size(filter(ts, x => x.rlike("[A-Za-z]"))).cast("long")
    val stopHits = size(array_intersect(
      transform(ts, x => lower(x)),
      typedLit(p.stopwords))).cast("int")
    val d = lit(1.0) // one double division per ratio, same on both engines
    val hasWords = nWords > lit(0L)
    val meanLen = when(hasWords, sumLen * d / nWords)
    val symbolR = when(hasWords, (nHash + nEll) * d / nWords)
    val bulletR = nBullet * d / nLines // nLines >= 1 always
    val ellR = nEllLine * d / nLines
    val alphaR = when(hasWords, nAlpha * d / nWords)
    val passes = nWords >= p.minWords && nWords <= p.maxWords &&
      meanLen >= p.minMeanWordLen && meanLen <= p.maxMeanWordLen &&
      symbolR <= p.maxSymbolRatio && bulletR <= p.maxBulletRatio &&
      ellR <= p.maxEllipsisRatio && alphaR >= p.minAlphaRatio &&
      stopHits >= p.minStopwordHits
    GopherColumns(nWords, meanLen, symbolR, bulletR, ellR, alphaR, stopHits,
      passes)
  }

  /** The Gopher REPETITION rule family (Rae et al. 2021, Appendix A1.1
    * — the other half of [[gopherReport]]): per-doc fractions of
    * repeated content, the signal behind "drop pages that are mostly
    * boilerplate repeating itself". Published implementations disagree
    * on the exact denominators; this one pins (and documents) the
    * portable choice so an external engine replays every number:
    *
    *  - `dup_line_frac`: occurrences belonging to a line value seen ≥ 2
    *    times in the doc, over all lines (exact string match).
    *  - `dup_line_char_frac`: the same occurrences weighted by line
    *    character length, over the summed length of all lines.
    *  - `top_ngram_char_frac`: the most frequent `topN`-gram's
    *    occurrences × gram character length (tokens + single joining
    *    spaces), over `length(text)`. Ties break to the
    *    lexicographically smallest gram.
    *  - `dup_ngram_char_frac`: Σ over `dupN`-grams seen ≥ 2 times of
    *    occurrences × gram length, over `length(text)`. Overlapping
    *    occurrences are each counted (the cheap published convention),
    *    so heavy repetition can push the RAW fraction past 1 — it is
    *    reported uncapped because it ranks, not measures.
    *
    * Docs with no `topN`-gram (under `topN` tokens) report NULL gram
    * fractions; a doc with no duplicated lines/grams reports 0; a NULL
    * text reports NULL everywhere but `dup_line_char_frac` (0).
    *
    * Each ROW is its own document: the censuses never look across rows,
    * so two rows sharing an id report separately (and a NULL id is
    * measured like any other).
    *
    * Scale shape: one projection over one scan — the line and gram
    * censuses run inside each row ([[graft.functions.DocKernels]]: one
    * small hash map per row, evaluated once per row), so nothing
    * shuffles and no join runs; linear in characters. */
  def repetitionReport(docs: DataFrame, idCol: String, textCol: String,
                       topN: Int = 2, dupN: Int = 3): DataFrame = {
    require(topN >= 1 && dupN >= 1, s"ngram sizes must be >= 1: $topN, $dupN")
    val id = col(idCol)
    docs.select(id, length(col(textCol)).cast("long").as("__n"),
      graft.functions.DocExpressions.repetitionStats(col(textCol), topN, dupN)
        .as("__r"))
      .select(id, col("__n"), col("__r.*"))
      .select(id,
        col("n_lines"),
        round(col("dup_l") * lit(1.0) / col("n_lines"), 6)
          .as("dup_line_frac"),
        when(col("chars_l") > 0,
          round(col("dup_lc") * lit(1.0) / col("chars_l"), 6))
          .otherwise(lit(0.0)).as("dup_line_char_frac"),
        when(col("top_c").isNotNull && col("__n") > 0,
          round(col("top_c") * col("top_len") * lit(1.0) / col("__n"), 6))
          .as("top_ngram_char_frac"),
        when(col("__n") > 0,
          round(coalesce(col("dup_gc"), lit(0L)) * lit(1.0) / col("__n"), 6))
          .as("dup_ngram_char_frac"))
  }
}
