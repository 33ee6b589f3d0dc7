package graft

import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Quality, Sampling, Similarity}

/** Round-15 operator laws: doc-boundary-respecting sequence packing
  * (packSequencesBinned), the stratified classifier thin, the exact
  * decimal budget division, and the stage-yield funnel. */
class Round15Spec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------------------
  // packSequencesBinned
  // ------------------------------------------------------------------

  /** 200 docs, lengths cycling 1..40 over seqLen 64 → buckets 1..64
    * (len 33..40 → bucket 1, 22..32 → 2, …, len 1 → 64). */
  private def packFixture = spark.range(1, 201)
    .select(col("id").as("doc_id"),
      (pmod(col("id"), lit(40)) + 1).as("n"))

  private def packed = Sampling.packSequencesBinned(
    packFixture, "doc_id", col("n"), seqLen = 64)

  test("packSequencesBinned: no document ever crosses a sequence boundary") {
    val bad = packed.filter(col("off") + col("n_tokens") > 64).count()
    assert(bad == 0)
  }

  test("packSequencesBinned: docs in one sequence tile it contiguously " +
    "from offset 0") {
    // within each sequence, sorted by off: offsets are the running sum
    // of the previous docs' lengths (no holes, no overlaps)
    val rows = packed.filter(col("seq").isNotNull)
      .select("seq", "off", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { case (_, ds) =>
      val sorted = ds.sortBy(_._2)
      assert(sorted.head._2 == 0L)
      sorted.sliding(2).foreach {
        case Array((_, o1, n1), (_, o2, _)) => assert(o2 == o1 + n1)
        case _ =>
      }
    }
  }

  test("packSequencesBinned: full sequences respect the harmonic waste " +
    "bound waste·(b+1) < seqLen") {
    val seqs = packed.filter(col("seq").isNotNull)
      .withColumn("b", expr("64L div n_tokens"))
      .groupBy("seq", "b")
      .agg(count(lit(1)).as("cnt"), sum("n_tokens").as("fill"))
      .collect()
    assert(seqs.nonEmpty)
    // all docs of a sequence share one bucket (groupBy(seq, b) must not
    // split any seq)
    assert(seqs.map(_.getLong(0)).distinct.length == seqs.length)
    val full = seqs.filter(r => r.getLong(2) == r.getLong(1)) // cnt == b
    assert(full.nonEmpty, "fixture should produce full sequences")
    full.foreach { r =>
      val waste = 64L - r.getLong(3)
      assert(waste * (r.getLong(1) + 1) < 64L,
        s"seq ${r.getLong(0)} bucket ${r.getLong(1)} waste $waste")
    }
    // at most one partial sequence per bucket
    val partialPerBucket = seqs.filter(r => r.getLong(2) < r.getLong(1))
      .groupBy(_.getLong(1)).map(_._2.length)
    assert(partialPerBucket.forall(_ <= 1))
  }

  test("packSequencesBinned: sequence ids are dense 0..max") {
    val ids = packed.filter(col("seq").isNotNull)
      .select("seq").distinct().collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.last == ids.length - 1L)
  }

  test("packSequencesBinned plan: keyed windows only — no " +
    "single-partition stage in the returned plan") {
    // the exact rank comes from prefixSum (range partition + keyed
    // windows behind an eager checkpoint) and the in-sequence offsets
    // from a seq-keyed window — nothing may degenerate to a global
    // single-partition sort/window, which is the scale failure this
    // operator exists to avoid
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"single-partition stage leaked into packSequencesBinned:\n$plan")
  }

  test("packSequencesBinned is partition-invariant") {
    val a = packed.select("doc_id", "n_tokens", "seq", "off")
      .collect().map(_.toSeq).toSet
    val b = Sampling.packSequencesBinned(packFixture.repartition(7),
        "doc_id", col("n"), seqLen = 64)
      .select("doc_id", "n_tokens", "seq", "off")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("packSequencesBinned: zero-token docs get NULL (seq, off); " +
    "oversize docs fail by name unless truncate") {
    val df = Seq((1L, 0L), (2L, 10L)).toDF("doc_id", "n")
    val out = Sampling.packSequencesBinned(df, "doc_id", col("n"), 16)
      .collect().map(r => r.getLong(0) ->
        (r.isNullAt(2), r.isNullAt(3))).toMap
    assert(out(1L) == ((true, true)) && out(2L) == ((false, false)))

    val over = Seq((1L, 20L)).toDF("doc_id", "n")
    val e = intercept[Exception] {
      Sampling.packSequencesBinned(over, "doc_id", col("n"), 16).collect()
    }
    assert(e.getMessage.contains("packSequencesBinned"))
    // truncate caps at seqLen and reports the KEPT count
    val t = Sampling.packSequencesBinned(over, "doc_id", col("n"), 16,
      truncate = true).collect()
    assert(t.head.getLong(1) == 16L && t.head.getLong(3) == 0L)

    val neg = Seq((1L, -3L)).toDF("doc_id", "n")
    val e2 = intercept[Exception] {
      Sampling.packSequencesBinned(neg, "doc_id", col("n"), 16).collect()
    }
    assert(e2.getMessage.contains("negative token count"))
  }

  test("writePackedBinned lands each shard in (seq, off) order with " +
    "round-robin sequence assignment and no zero-token rows") {
    val dir = java.nio.file.Files.createTempDirectory("packedout").toString
    val withEmpty = packFixture.unionByName(
      Seq((9999L, 0L)).toDF("doc_id", "n"))
    Sampling.writePackedBinned(withEmpty, "doc_id", col("n"), seqLen = 64,
      numShards = 4, path = dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 200) // the zero-token doc is not exported
    assert(back.filter(col("seq") % 4 =!= col("shard")).count() == 0)
    // within each shard FILE, rows are already in (seq, off) order
    (0 until 4).foreach { k =>
      val rows = spark.read.parquet(s"$dir/shard=$k")
        .select("seq", "off").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"shard $k not laid down in (seq, off) order")
    }
    // the export agrees with the in-memory assignment
    val mem = packed.filter(col("seq").isNotNull)
      .select("doc_id", "seq", "off").collect().map(_.toSeq).toSet
    val disk = back.select("doc_id", "seq", "off").collect().map(_.toSeq).toSet
    assert(mem == disk)
  }

  // ------------------------------------------------------------------
  // stratified classifier thin (ADVICE r14)
  // ------------------------------------------------------------------

  test("trainLangId: a rare language survives the hash thin and stays " +
    "predictable") {
    // 600 'aa' docs, 600 'bb' docs, ONE 'cc' doc; thin to ~64 rows —
    // an unstratified hash thin would almost surely drop the cc doc
    // (and pre-fix, its label vanished from the inventory entirely)
    val docs = spark.range(0, 1201).select(col("id").as("doc_id"),
      when(col("id") === 1200, lit("zz qq zz qq zz qq zz qq"))
        .when(pmod(col("id"), lit(2)) === 0,
          concat(lit("aa bb aa bb aa word"), col("id").cast("string")))
        .otherwise(concat(lit("cc dd cc dd cc word"), col("id").cast("string")))
        .as("text"),
      when(col("id") === 1200, lit("rare"))
        .when(pmod(col("id"), lit(2)) === 0, lit("even"))
        .otherwise(lit("odd")).as("lang"))
    val m = Quality.trainLangId(docs, "text", "lang", numFeatures = 1 << 12,
      gramN = 2, maxIter = 10, maxTrainRows = 64)
    assert(m.labels.toSet == Set("even", "odd", "rare"))
    val pred = Quality.predictLang(m, docs.filter(col("doc_id") === 1200),
      "doc_id", "text").collect().head.getString(1)
    assert(pred == "rare")
  }

  // ------------------------------------------------------------------
  // exact decimal budget division (ADVICE r14)
  // ------------------------------------------------------------------

  test("temperatureWeights budget floor-division is exact past 2^53") {
    // one source holding 2^60 + 1 tokens: double division computes
    // budget ≈ 2^60·3/4 with 2^7-scale rounding error; the decimal div
    // is exact. alloc_tokens = round(b · w, 4) with w = 1.0 exactly.
    val docs = Seq(("s", (1L << 60) + 1L)).toDF("source", "n")
    val out = Corpus.temperatureWeights(docs, "source", col("n"),
      alpha = 1.0, budgetNum = 3L, budgetDen = 4L).collect().head
    val expected = ((BigInt(1) << 60) + 1) * 3 / 4
    assert(BigDecimal(out.getDouble(3)) == BigDecimal(expected.toDouble))
    // and the exact long is what the decimal div produced before the
    // double cast: check via unimax at budget 1/1 (alloc = tokens)
    val u = Corpus.unimaxWeights(docs, "source", col("n"),
      budgetNum = 3L, budgetDen = 4L, maxEpochs = 1.0).collect().head
    assert(u.getLong(1) == (1L << 60) + 1L)
  }

  // ------------------------------------------------------------------
  // stageFunnel
  // ------------------------------------------------------------------

  test("stageFunnel: leaf row equals the chain's own totals and in/out " +
    "telescope") {
    val a = Seq((1L, 5L), (2L, 7L), (3L, 2L)).toDF("id", "n")
    val b = a.filter(col("n") >= 5)
    val c = b.filter(col("n") >= 7)
    val f = Corpus.stageFunnel(Seq(
      ("input", a, col("n")), ("gate5", b, col("n")), ("gate7", c, col("n"))))
      .orderBy("stage").collect()
    assert(f.map(_.getString(1)).toSeq == Seq("input", "gate5", "gate7"))
    // first row: NULL ins/drops, its own census as out
    assert(f(0).isNullAt(2) && f(0).getLong(3) == 3 && f(0).getLong(5) == 14)
    // telescoping: stage i's in == stage i-1's out
    assert(f(1).getLong(2) == 3 && f(1).getLong(3) == 2 &&
      f(1).getLong(4) == 14 && f(1).getLong(5) == 12 &&
      f(1).getLong(6) == 1 && f(1).getLong(7) == 2)
    assert(f(2).getLong(2) == 2 && f(2).getLong(3) == 1 &&
      f(2).getLong(5) == 7)
    // leaf == the chain's own final frame
    assert(f(2).getLong(3) == c.count())
  }

  test("q152 funnel leaf equals q143's shard totals (shared v4 stages)") {
    val fun = graft.queries.ExtensionQueries.all
      .find(_._1 == "q152_curation_funnel").get._2(spark, sfDir)
      .filter(col("gate") === "decontaminate").collect().head
    val q143 = graft.queries.ExtensionQueries.all
      .find(_._1 == "q143_curation_v4").get._2(spark, sfDir)
      .agg(sum("n_docs"), sum("total_tokens")).collect().head
    assert(fun.getLong(3) == q143.getLong(0))  // docs_out
    assert(fun.getLong(5) == q143.getLong(1))  // tokens_out
  }

  // ------------------------------------------------------------------
  // indexHealth
  // ------------------------------------------------------------------

  test("indexHealth reads skew and append drift from footers and wires " +
    "the rebuild advice") {
    val dir = java.nio.file.Files.createTempDirectory("idxhealth").toString
    // planted skew: 60 of 64 vectors in one tight cluster, 4 spread out
    val base = spark.range(0, 64).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i =>
        when(col("id") < 60, i.cast("double") / 8.0 +
          col("id").cast("double") / 1e5)
          .otherwise((i * col("id")).cast("double") % 7.0 - 3.0))
        .as("embedding"))
    Similarity.saveIvfIndex(base, dir, nlist = 8, kmeansIters = 2,
      replicate = 1)
    val h1 = Similarity.indexHealth(spark, dir).collect().head
    assert(h1.getAs[String]("layout") == "ivf-flat")
    assert(h1.getAs[Int]("nlist") == 8 && h1.getAs[Int]("dim") == 8)
    assert(h1.getAs[Long]("rows_total") == 64 &&
      h1.getAs[Long]("rows_appended") == 0)
    // the planted hot cell must surface in the spread
    assert(h1.getAs[Long]("cell_rows_max") >=
      8 * math.max(1, h1.getAs[Long]("cell_rows_median")))
    assert(h1.getAs[Boolean]("recommend_rebuild"))
    assert(h1.getAs[String]("reason").contains("hottest cell"))
    // footer counts agree with a real scan (cross-check only here)
    val scanned = spark.read.parquet(s"$dir/corpus").count()
    assert(h1.getAs[Long]("rows_total") == scanned)

    // post-append drift: append the corpus onto itself → frac 0.5.
    // No mtime guard needed: the stamp is a file-name manifest, so
    // attribution is membership-based and clock-granularity-independent
    // (AnnIndexSpec pins the same-tick case explicitly).
    val assign = spark.read.parquet(s"$dir/corpus")
      .select(col("neighbor_id"), col("cv"), col("cell"))
    Similarity.appendToIvfIndex(assign, dir)
    val h2 = Similarity.indexHealth(spark, dir).collect().head
    assert(h2.getAs[Long]("rows_total") == 128 &&
      h2.getAs[Long]("rows_appended") == 64)
    assert(h2.getAs[Double]("appended_frac") == 0.5)
    assert(h2.getAs[Boolean]("recommend_rebuild"))
    assert(h2.getAs[String]("reason").contains("appended fraction"))
  }

  test("indexHealth on a healthy SQ8 store reports the layout and stays " +
    "quiet") {
    val dir = java.nio.file.Files.createTempDirectory("idxhealth2").toString
    val base = spark.range(0, 64).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i =>
        sin(i * col("id")).cast("double")).as("embedding"))
    Similarity.saveIvfSqIndex(base, dir, nlist = 4, kmeansIters = 2,
      replicate = 1)
    val h = Similarity.indexHealth(spark, dir).collect().head
    assert(h.getAs[String]("layout") == "ivf-sq8")
    assert(h.getAs[Long]("rows_appended") == 0)
    assert(!h.getAs[Boolean]("recommend_rebuild"))
    assert(h.getAs[String]("reason") == "healthy")
  }

  // ------------------------------------------------------------------
  // Unigram-LM tokenizer (trainUnigram / UnigramModel.segment)
  // ------------------------------------------------------------------

  test("UnigramModel.segment: Viterbi picks the probable piece, unknown " +
    "chars fall back to penalized singles, ties prefer fewer tokens") {
    import graft.operators.Bpe
    val m = Bpe.UnigramModel(Map(
      "ab" -> math.log(0.5), "a" -> math.log(0.25), "b" -> math.log(0.25)),
      Map.empty)
    assert(m.segment("abab") == Seq("ab", "ab"))
    assert(m.segment("aab") == Seq("a", "ab"))
    assert(m.segment("abx") == Seq("ab", "x")) // x: unk single
    assert(m.segment("") == Seq.empty)
    // equal products: P(ab)=0.5 vs P(a)P(b)=0.0625 — piece wins; with
    // equal-probability pieces the FEWER-token path wins
    val eq = Bpe.UnigramModel(Map(
      "ab" -> math.log(0.25), "a" -> math.log(0.5), "b" -> math.log(0.5)),
      Map.empty)
    assert(eq.segment("ab") == Seq("ab")) // 0.25 == 0.5*0.5 -> fewer tokens
  }

  test("trainUnigram learns the dominant multi-char piece, respects the " +
    "vocab bound, and is partition-invariant") {
    import graft.operators.Bpe
    val docs = (1 to 60).map(i => (i.toLong, "ababab abab banana"))
      .toDF("doc_id", "text")
    val m = Bpe.trainUnigram(docs, "text", vocabSize = 12,
      maxPieceLen = 4, seedSize = 64, emRounds = 3)
    val chars1 = m.pieces.keysIterator.count(_.length == 1)
    assert(m.pieces.size <= 12 && m.pieces.size >= chars1)
    assert(m.pieces.keysIterator.exists(_.length > 1),
      s"no multi-char piece learned: ${m.pieces.keys.toSeq.sorted}")
    // the dominant repeated bigram must be representable: the trained
    // segmentation of 'ababab' uses multi-char pieces, not chars
    assert(m.dictSegments("ababab").length < 6)
    val m2 = Bpe.trainUnigram(docs.repartition(7), "text", vocabSize = 12,
      maxPieceLen = 4, seedSize = 64, emRounds = 3)
    assert(m.pieces == m2.pieces)
    assert(m.dictSegments == m2.dictSegments)
  }

  test("unigramTokenCounts: n_words <= unigram tokens <= chars, loose " +
    "OOV mode (exactOov = false) counts characters") {
    import graft.operators.Bpe
    val train = (1 to 20).map(i => (i.toLong, "alpha beta alpha"))
      .toDF("doc_id", "text")
    val m = Bpe.trainUnigram(train, "text", vocabSize = 16,
      maxPieceLen = 5, seedSize = 64, emRounds = 2)
    val mixed = Seq((1L, "alpha zzqq")).toDF("doc_id", "text")
    val r = Bpe.unigramTokenCounts(mixed, "doc_id", "text", m,
        exactOov = false)
      .collect().head
    val (uni, words) = (r.getLong(1), r.getLong(2))
    assert(words == 2)
    assert(uni >= words && uni <= "alphazzqq".length)
    // zzqq is OOV (z/q never seen): counts its 4 characters
    assert(uni == m.dictSegments("alpha").length + 4)
  }

  // ------------------------------------------------------------------
  // trainSq array combiner (ADVICE r14)
  // ------------------------------------------------------------------

  test("trainSq matches per-dimension min/max semantics with the " +
    "single-slot combiner (null/NaN/Inf excluded)") {
    val vecs = Seq(
      Seq(1.0f, 5.0f, Float.NaN),
      Seq(3.0f, -2.0f, Float.PositiveInfinity),
      Seq(2.0f, 9.0f, Float.NaN)
    ).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val m = Similarity.trainSq(vecs)
    assert(m.mins.toSeq == Seq(1.0, -2.0, 0.0))
    assert(m.spans.toSeq == Seq(2.0, 11.0, 0.0))
  }
}
