package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Corpus, Decontaminate, Dedup, Quality}

/** Round-14 operator laws: within-doc repetition removal, block-aware
  * HTML extraction, the plan-composed UniMax twin, trained language-ID,
  * NULL-source divergence, the fused one-pass novelty scoring, and the
  * new named guards. */
class Round14Spec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------------------
  // removeRepeatedLines
  // ------------------------------------------------------------------

  private def repeatedFixture = Seq(
    // L2 repeats L1 case-varied, L4 repeats L1 verbatim -> both drop;
    // "shared line" is cross-doc boilerplate but within-doc unique ->
    // kept in BOTH docs; "### 1 ###" is structure (normalizes to "") ->
    // kept even though repeated within the doc
    (1L, "alpha beta gamma\nALPHA BETA GAMMA\nshared line\n### 1 ###\nalpha beta gamma\n### 1 ###\ntail one"),
    (2L, "delta epsilon\nshared line\ntail two"),
    (3L, "untouched doc with no repeats at all")
  ).toDF("doc_id", "text")

  test("removeRepeatedLines drops all-but-first occurrences within a doc") {
    val out = Dedup.removeRepeatedLines(repeatedFixture, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) ==
      "alpha beta gamma\nshared line\n### 1 ###\n### 1 ###\ntail one")
    // cross-doc shared lines are NOT this operator's business
    assert(out(2L) == "delta epsilon\nshared line\ntail two")
  }

  test("removeRepeatedLines: untouched docs pass through byte-identical") {
    val out = Dedup.removeRepeatedLines(repeatedFixture, "doc_id", "text")
      .filter(col("doc_id") === 3L).head().getString(1)
    assert(out == "untouched doc with no repeats at all")
  }

  test("removeRepeatedLines law: repetitionReport sees ~0 duplicate lines after") {
    // fixture without repeated structure lines (repetitionReport's line
    // census is RAW, so surviving structure repeats would count there)
    val docs = Seq(
      (1L, "one two three\none two three\nfour five six\none two three"),
      (2L, "seven eight\nseven eight\nnine ten")
    ).toDF("doc_id", "text")
    val fixed = Dedup.removeRepeatedLines(docs, "doc_id", "text")
    val rep = Quality.repetitionReport(fixed, "doc_id", "text")
    val maxDup = rep.agg(max(col("dup_line_frac"))).head().getDouble(0)
    assert(maxDup == 0.0, s"dup_line_frac should be 0 after fix, got $maxDup")
  }

  // ------------------------------------------------------------------
  // stripHtmlBlocks
  // ------------------------------------------------------------------

  test("stripHtmlBlocks keeps one line per block and decodes entities") {
    val html = "<html><head><title>T</title><script>var x = 1 < 2;</script>" +
      "<style>p{}</style></head><body><p>first  para</p><!-- gone -->" +
      "<p>second &amp; more</p><div>third</div>line<br/>after</body></html>"
    val out = Seq(Tuple1(html)).toDF("h")
      .select(TextFunctions.stripHtmlBlocks(col("h")).as("t"))
      .head().getString(0)
    assert(out == "T\nfirst para\nsecond & more\nthird\nline\nafter")
  }

  test("stripHtmlBlocks agrees with stripHtml modulo line structure") {
    val html = "<body><p>a b</p><p>c &lt;d&gt;</p></body>"
    val df = Seq(Tuple1(html)).toDF("h")
    val flat = df.select(TextFunctions.stripHtml(col("h"))).head().getString(0)
    val blocks = df.select(TextFunctions.stripHtmlBlocks(col("h")))
      .head().getString(0)
    assert(blocks.replace("\n", " ") == flat)
  }

  // ------------------------------------------------------------------
  // unimaxWeights ≡ unimaxAllocation
  // ------------------------------------------------------------------

  test("unimaxWeights matches the driver-side unimaxAllocation, NULL source included") {
    val docs = Seq(
      (Some("big"), 600L), (Some("big"), 600L), (Some("mid"), 300L),
      (Some("small"), 50L), (None, 80L)
    ).toDF("src", "tok")
    val total = 600L + 600 + 300 + 50 + 80
    val a = Corpus.unimaxAllocation(docs, "src", col("tok"),
      budget = 3L * total / 2L, maxEpochs = 2.0)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toSet
    val b = Corpus.unimaxWeights(docs, "src", col("tok"),
      budgetNum = 3L, budgetDen = 2L, maxEpochs = 2.0)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toSet
    assert(a == b)
  }

  test("unimaxWeights: budget above total capacity gives every source its cap") {
    val docs = Seq(("a", 10L), ("b", 20L)).toDF("src", "tok")
    val out = Corpus.unimaxWeights(docs, "src", col("tok"),
      budgetNum = 100L, budgetDen = 1L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out == Map("a" -> 20.0, "b" -> 40.0))
  }

  // ------------------------------------------------------------------
  // trained language-ID
  // ------------------------------------------------------------------

  private def plantedLangCorpus = {
    val base = (0 until 240).map { i =>
      val li = i % 3
      val lang = Seq("aa", "bb", "cc")(li)
      val pre = Seq("ka", "zo", "mx")(li)
      val text = (0 until 25)
        .map(j => s"${pre}_${(i * 7 + j * 13) % 150 + li * 150}")
        .mkString(" ")
      (i.toLong, lang, text)
    }
    base.toDF("doc_id", "lang", "text")
  }

  test("trainLangId separates planted languages on held-out docs") {
    val all = plantedLangCorpus
    val train = all.filter(col("doc_id") % 2 === 0)
    val test0 = all.filter(col("doc_id") % 2 === 1)
    val m = Quality.trainLangId(train, "text", "lang",
      numFeatures = 1 << 14, maxIter = 10)
    assert(m.labels == Seq("aa", "bb", "cc"))
    val pred = Quality.predictLang(m, test0, "doc_id", "text")
      .select(col("doc_id"), col("lang").as("pred"))
      .join(test0.select("doc_id", "lang"), "doc_id")
    val (n, ok) = {
      val r = pred.agg(count(lit(1)),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(n == 120)
    assert(ok >= (n * 0.95).toLong, s"held-out accuracy $ok/$n below 95%")
  }

  test("predictLang is partition-invariant") {
    val all = plantedLangCorpus
    val m = Quality.trainLangId(all, "text", "lang",
      numFeatures = 1 << 14, maxIter = 5)
    val p1 = Quality.predictLang(m, all, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val p2 = Quality.predictLang(m, all.repartition(7), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(p1 == p2)
  }

  test("predictLang confidence is a probability and rounds to 4 decimals") {
    val all = plantedLangCorpus
    val m = Quality.trainLangId(all, "text", "lang",
      numFeatures = 1 << 14, maxIter = 5)
    val bad = Quality.predictLang(m, all, "doc_id", "text")
      .filter(col("confidence") < 1.0 / 3 - 1e-9 || col("confidence") > 1.0)
      .count()
    assert(bad == 0)
  }

  // ------------------------------------------------------------------
  // divergenceReport NULL source
  // ------------------------------------------------------------------

  test("divergenceReport reports a NULL source instead of dropping it") {
    val docs = Seq(
      (Some("a"), "apple banana apple cherry"),
      (Some("b"), "apple banana banana dates"),
      (None: Option[String], "cherry cherry dates apple")
    ).toDF("source", "text")
    val out = Corpus.divergenceReport(docs, "source", "text", maxVocab = 16)
      .collect()
    assert(out.length == 3)
    val nullRow = out.find(_.isNullAt(0))
    assert(nullRow.isDefined, "NULL source row missing")
    assert(nullRow.get.getLong(1) == 4L) // its 4 tokens counted
    // and the named sources still carry finite divergences
    assert(out.forall(r => !r.getDouble(2).isNaN && !r.getDouble(3).isNaN))
  }

  // ------------------------------------------------------------------
  // fused one-pass novelty
  // ------------------------------------------------------------------

  test("noveltyReport: fused plan keeps exact counts and NULL semantics") {
    val corpus = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "a b c d e f g h i j"), // fully seen: novelty 0
      (11L, "z y x w v u t s r q"), // fully new: novelty 1
      (12L, "short doc")            // under minTokens: NULL novelty
    ).toDF("doc_id", "text")
    val out = Decontaminate.noveltyReport(corpus, delta, "doc_id", "text",
        minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(out == Set(
      (10L, 3L, 3L, Some(0.0)),
      (11L, 3L, 0L, Some(1.0)),
      (12L, 0L, 0L, None)))
  }

  // ------------------------------------------------------------------
  // named guards
  // ------------------------------------------------------------------

  test("paragraph delta: batchId -1 is refused by name") {
    val docs = Seq((1L, "a\nb")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_r14_guard").toString
    Dedup.saveParagraphStore(docs, "doc_id", "text", root)
    val e = intercept[IllegalArgumentException] {
      Dedup.dropDuplicateParagraphsDelta(docs, "doc_id", "text", root,
        batchId = Some(-1L))
    }
    assert(e.getMessage.contains("reserved for the initial corpus"))
  }

  test("zAddress refuses non-integral columns by name") {
    val df = Seq((1.5, 2L)).toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Layout.zAddress(df, Seq("x", "y"))
    }
    assert(e.getMessage.contains("integral"))
  }

  // ------------------------------------------------------------------
  // sequence packing
  // ------------------------------------------------------------------

  test("packSequences: doc intervals tile the stream exactly, seq ids cover") {
    import graft.operators.Sampling
    val docs = (1L to 200L).map(i => (i, (i % 37 + 1).toInt))
      .toDF("doc_id", "n")
    val out = Sampling.packSequences(docs, "doc_id", col("n"), seqLen = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val total = out.map(_._2).sum
    // intervals are disjoint and contiguous: sorted by start, each doc
    // begins exactly where the previous ended
    val byStart = out.sortBy(_._3)
    byStart.zip(byStart.drop(1)).foreach { case (a, b) =>
      assert(a._3 + a._2 == b._3, s"gap/overlap between $a and $b") }
    assert(byStart.head._3 == 0L)
    assert(byStart.last._3 + byStart.last._2 == total)
    // seq ids are the covering interval at L=64
    out.foreach { case (_, n, start, sf, sl) =>
      assert(sf == start / 64)
      assert(sl == (start + n - 1) / 64)
    }
  }

  test("packSequences: zero-token docs occupy no interval, order is stable") {
    import graft.operators.Sampling
    val docs = Seq((1L, 5), (2L, 0), (3L, 7)).toDF("doc_id", "n")
    val out = Sampling.packSequences(docs, "doc_id", col("n"), seqLen = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None
         else Some((r.getLong(3), r.getLong(4))))).toMap
    assert(out(2L)._1 == 0L && out(2L)._3.isEmpty)
    // stability: a second run assigns identical offsets
    val out2 = Sampling.packSequences(docs.repartition(5), "doc_id",
      col("n"), seqLen = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.view.mapValues(_._2).toMap == out2)
  }

  // ------------------------------------------------------------------
  // weighted interleave
  // ------------------------------------------------------------------

  test("interleaveByWeight: every prefix carries sources in ~weight proportion") {
    val docs = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) "heavy" else "light")).toDF("doc_id", "source")
    val w = Seq(("heavy", 0.75), ("light", 0.25)).toDF("source", "weight")
    val out = Corpus.interleaveByWeight(docs, "doc_id", "source", w,
      numShards = 1, pivots = 16)
      .orderBy("pos").select("source").collect().map(_.getString(0))
    // heavy has 100 docs at weight .75, light 200 at .25: until heavy
    // exhausts (key 100/.75 ≈ 133), prefixes should run ~3:1 heavy
    val prefix = out.take(80)
    val heavy = prefix.count(_ == "heavy")
    assert(heavy >= 50 && heavy <= 70,
      s"80-prefix heavy count $heavy outside the ~60 ± 10 band")
    // and the whole schedule is a permutation of the corpus
    assert(out.length == 300)
  }

  test("interleaveByWeight: deterministic under repartitioning") {
    val docs = (1L to 120L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
    val w = (0 until 4).map(i => (s"s$i", 0.1 + i * 0.2)).toDF("source", "weight")
    val a = Corpus.interleaveByWeight(docs, "doc_id", "source", w, 4)
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Corpus.interleaveByWeight(docs.repartition(7), "doc_id",
      "source", w, 4)
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("interleaveByWeight: a source missing from the weights fails by name") {
    val docs = Seq((1L, "known"), (2L, "unknown")).toDF("doc_id", "source")
    val w = Seq(("known", 1.0)).toDF("source", "weight")
    val e = intercept[Exception] {
      Corpus.interleaveByWeight(docs, "doc_id", "source", w, 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: msgs(t.getCause)
    assert(msgs(e).exists(m => m != null && m.contains("interleaveByWeight")))
  }

  test("packSequences: negative token counts fail by name") {
    import graft.operators.Sampling
    val docs = Seq((1L, -3)).toDF("doc_id", "n")
    val e = intercept[Exception] {
      Sampling.packSequences(docs, "doc_id", col("n"), seqLen = 4).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: msgs(t.getCause)
    assert(msgs(e).exists(m => m != null && m.contains("packSequences")))
  }

  // ------------------------------------------------------------------
  // SQ8 scalar quantization (Similarity.trainSq/sqEncode/sqKnn)
  // ------------------------------------------------------------------

  import graft.operators.Similarity

  /** 24 deterministic spread-out vectors in dim 8 (hash-derived — no
    * RNG state, same fixture every run). */
  private def vecFixture = {
    val rows = (0 until 24).map { id =>
      val v = Array.tabulate(8) { d =>
        val h = ((id * 31 + d) * 2654435761L) & 0xffff
        (h.toFloat / 65535f) * 2f - 1f
      }
      (id.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("sq8 round-trip error is bounded by half a grid step per dimension") {
    val df = vecFixture
    val m = Similarity.trainSq(df)
    val codes = Similarity.sqEncode(df, m)
    val raw = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val recs = codes.select(col("vec_id"),
        graft.operators.Similarity.sqReconstruct(col("codes"), m))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    recs.foreach { case (id, rec) =>
      rec.indices.foreach { d =>
        val err = math.abs(rec(d) - raw(id)(d).toDouble)
        val bound = m.spans(d) / 255.0 / 2.0 + 1e-12
        assert(err <= bound, s"vec $id dim $d: |recon-raw|=$err > $bound")
      }
    }
  }

  test("trainSq is partition-invariant (min/max are order-insensitive)") {
    val df = vecFixture
    val a = Similarity.trainSq(df)
    val b = Similarity.trainSq(df.repartition(7))
    assert(a.mins.toSeq == b.mins.toSeq && a.spans.toSeq == b.spans.toSeq)
  }

  test("sqKnn self-retrieval: every vector's reconstruction ranks itself first") {
    val df = vecFixture
    val m = Similarity.trainSq(df)
    val codes = Similarity.sqEncode(df, m)
    val top1 = Similarity.sqKnn(df, codes, m, k = 1, excludeSelf = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1.size == 24)
    top1.foreach { case (q, n) => assert(q == n, s"query $q got $n") }
  }

  test("sqKnnRefined(refine=1) == exact re-rank of sqKnn's own candidates") {
    val df = vecFixture
    val m = Similarity.trainSq(df)
    val codes = Similarity.sqEncode(df, m)
    val refined = Similarity.sqKnnRefined(df.filter(col("vec_id") < 4),
        codes, m, df, k = 3, refine = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    // candidates come from the quantized ranking; scores/order from the
    // exact one — membership must match sqKnn's top-3 set exactly
    val nominated = Similarity.sqKnn(df.filter(col("vec_id") < 4),
        codes, m, k = 3)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    refined.groupBy(_._1._1).foreach { case (q, rows) =>
      assert(rows.values.toSet == nominated(q),
        s"query $q: refined set ${rows.values.toSet} != nominated ${nominated(q)}")
    }
  }

  test("sqKnn NULL vectors: encode to NULL codes and never rank") {
    val df = vecFixture.union(
      Seq((99L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val m = Similarity.trainSq(df)
    val codes = Similarity.sqEncode(df, m)
    assert(codes.filter(col("vec_id") === 99L).head().isNullAt(1))
    val out = Similarity.sqKnn(df.filter(col("vec_id") < 2), codes, m, k = 30)
    assert(out.filter(col("neighbor_id") === 99L).count() == 0)
  }

  // ------------------------------------------------------------------
  // Temperature-sampled mixing (Corpus.temperatureWeights)
  // ------------------------------------------------------------------

  test("temperatureWeights: closed-form shares on a planted skew") {
    val docs = Seq.tabulate(111) { i =>
      val src = if (i < 100) "big" else if (i < 110) "mid" else "small"
      (i.toLong, src, 10) // 1000 / 100 / 10 tokens
    }.toDF("doc_id", "src", "n")
    val out = Corpus.temperatureWeights(docs, "src", col("n"), alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(4)))).toMap
    val w = Map("big" -> math.sqrt(1000.0), "mid" -> math.sqrt(100.0),
      "small" -> math.sqrt(10.0))
    val sumw = w.values.sum
    Seq("big", "mid", "small").foreach { s =>
      val (tokens, weight, epochs) = out(s)
      val expW = math.rint(w(s) / sumw * 1e6) / 1e6
      assert(weight == expW, s"$s weight $weight != $expW")
      val expE = math.rint(1110.0 * (w(s) / sumw) / tokens * 1e4) / 1e4
      assert(epochs == expE, s"$s epochs $epochs != $expE")
    }
    // the power law upsamples the small source and downweights the big
    assert(out("small")._3 > 1.0 && out("big")._3 < 1.0)
  }

  test("temperatureWeights: alpha=1 is proportional sampling (epochs=1)") {
    val docs = Seq((1L, "a", 30), (2L, "b", 70)).toDF("doc_id", "src", "n")
    val out = Corpus.temperatureWeights(docs, "src", col("n"), alpha = 1.0)
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(4))))
      .toMap
    assert(out("a") == ((0.3, 1.0)) && out("b") == ((0.7, 1.0)))
  }

  test("temperatureWeights is partition-invariant and keeps NULL sources") {
    val docs = Seq(Some("a"), Some("a"), Some("b"), None)
      .zipWithIndex.map { case (s, i) => (i.toLong, s.orNull, 10 + i) }
      .toDF("doc_id", "src", "n")
    def run(d: org.apache.spark.sql.DataFrame) =
      Corpus.temperatureWeights(d, "src", col("n"))
        .collect().map(r => (if (r.isNullAt(0)) null else r.getString(0),
          r.getLong(1), r.getDouble(2))).toSet
    val a = run(docs)
    assert(a == run(docs.repartition(5)))
    assert(a.exists(_._1 == null), "NULL source dropped from the mix")
  }

  test("temperatureWeights rejects bad alpha by name") {
    val docs = Seq((1L, "a", 1)).toDF("doc_id", "src", "n")
    val e = intercept[IllegalArgumentException] {
      Corpus.temperatureWeights(docs, "src", col("n"), alpha = 0.0)
    }
    assert(e.getMessage.contains("alpha"))
  }

  // ------------------------------------------------------------------
  // IVF-SQ8 stored index (saveIvfSqIndex / quantizedKnnStored)
  // ------------------------------------------------------------------

  test("ivfSq store round-trips the grid and serves self-retrieval") {
    val df = vecFixture
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_r14spec_ivfsq"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val model = Similarity.saveIvfSqIndex(df, root, nlist = 4,
      kmeansIters = 2, replicate = 2)
    // stored grid == trained grid (read path decodes what the write wrote)
    val stored = spark.read.parquet(s"$root/sq").collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    model.mins.indices.foreach { i =>
      assert(stored(i) == ((model.mins(i), model.spans(i)))) }
    // full probe (nprobe = nlist) of slightly perturbed copies of every
    // vector retrieves the source at rank 1 via the refine tail
    val qs = df.collect().map { r =>
      (r.getLong(0) + 1000L,
        r.getSeq[Float](1).toArray.map(x => x + 1e-4f))
    }.toSeq.toDF("vec_id", "embedding")
    val top1 = Similarity.quantizedKnnRefined(spark, root, qs, df, k = 1,
        refine = 4, nprobe = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    top1.foreach { case (q, n) => assert(q - 1000L == n, s"query $q got $n") }
    // replicated copies never occupy two top-k slots
    val top5 = Similarity.quantizedKnnStored(spark, root, qs, k = 5, nprobe = 4)
    val dup = top5.groupBy(col("query_id"), col("neighbor_id"))
      .count().filter(col("count") > 1).count()
    assert(dup == 0, s"$dup duplicate (query, neighbor) rows in top-k")
    // compressed layout stores codes, never vectors; the probe scan is
    // statically partition-pruned to the probed cells (literal IN)
    val schema = spark.read.parquet(s"$root/corpus").columns.toSet
    assert(schema == Set("neighbor_id", "sq_code", "cell"),
      s"compressed layout must not store vectors: $schema")
    val pruned = Similarity.quantizedKnnStored(spark, root, qs, k = 5, nprobe = 2)
    pruned.collect()
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("Scan parquet") && l.contains("corpus"))
    assert(scanLine.exists(l => l.contains("PartitionFilters: [") &&
      (l.contains(" INSET ") || l.contains(" IN ("))),
      s"IVF-SQ8 scan is not partition-pruned:\n${scanLine.getOrElse("<no scan>")}")
  }

  test("IVF-SQ8: a zero vector (NaN normalization) never poisons the grid") {
    // a zero embedding normalizes to all-NaN; its residual is NaN in
    // every dimension — before the finite-filter fix, ONE such vector
    // made every span NaN and every query silently returned 0 rows
    val df = vecFixture.union(
      Seq((98L, Array.fill(8)(0f))).toDF("vec_id", "embedding"))
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_r14spec_ivfsq_nan"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val model = Similarity.saveIvfSqIndex(df, root, nlist = 4,
      kmeansIters = 2)
    assert(model.mins.forall(v => !v.isNaN && !v.isInfinite) &&
      model.spans.forall(v => !v.isNaN && !v.isInfinite),
      "degenerate vector leaked NaN/Inf into the SQ grid")
    val qs = df.filter(col("vec_id") < 4)
    val top = Similarity.quantizedKnnRefined(spark, root, qs, df, k = 3,
      refine = 4, nprobe = 4)
    assert(top.count() == 12, "zero vector emptied the kNN results")
  }

  test("sqEncode keeps a custom id column name end-to-end") {
    val df = vecFixture.withColumnRenamed("vec_id", "doc_id")
    val m = Similarity.trainSq(df)
    val codes = Similarity.sqEncode(df, m, idCol = "doc_id")
    assert(codes.columns.toSeq == Seq("doc_id", "codes"))
    val out = Similarity.sqKnnRefined(df.filter(col("doc_id") < 3), codes,
      m, df, k = 2, refine = 2, qId = "doc_id", cId = "doc_id")
    assert(out.count() == 6)
  }

  test("appendToIvfSqIndex: appended copies surface without a rebuild") {
    val df = vecFixture
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_r14spec_ivfsq_app"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    Similarity.saveIvfSqIndex(df, root, nlist = 4, kmeansIters = 2)
    // exact copies of vectors 0..3 under fresh ids
    val delta = df.filter(col("vec_id") < 4)
      .select((col("vec_id") + 500L).as("vec_id"), col("embedding"))
    Similarity.appendToQuantizedIndex(delta, root)
    val top = Similarity.quantizedKnnStored(spark, root,
        df.filter(col("vec_id") < 4), k = 3, nprobe = 4)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    (0L until 4L).foreach { q =>
      assert(top(q).contains(q + 500L),
        s"appended copy of $q missing from its top-3: ${top(q)}")
    }
  }

  test("quantizedKnnStored refuses a flat layout by name") {
    val df = vecFixture
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_r14spec_ivfq_flat"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    Similarity.saveIvfIndex(df, root, nlist = 2, kmeansIters = 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.quantizedKnnStored(spark, root, df.limit(1), k = 1)
    }
    assert(e.getMessage.contains("ivfKnnStored"), e.getMessage)
  }

  // ------------------------------------------------------------------
  // Random projection (Similarity.randomProject / rpKnnRefined)
  // ------------------------------------------------------------------

  test("randomProject is deterministic and partition-invariant") {
    val df = vecFixture
    def proj(d: org.apache.spark.sql.DataFrame) = d.select(col("vec_id"),
        Similarity.randomProject(col("embedding"), dIn = 8, dOut = 4))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(proj(df) == proj(df.repartition(5)))
  }

  test("randomProject is linear: proj(a)+proj(b) ≈ proj(a+b)") {
    val df = vecFixture.limit(6).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val sums = df.toSeq.combinations(2).map { case Seq((ia, a), (ib, b)) =>
      (ia * 100 + ib, a.zip(b).map { case (x, y) => x + y })
    }.toSeq
    val sumProj = sums.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.randomProject(col("embedding"), 8, 4))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val parts = df.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.randomProject(col("embedding"), 8, 4))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    df.toSeq.combinations(2).foreach { case Seq((ia, _), (ib, _)) =>
      val got = sumProj(ia * 100 + ib)
      val want = parts(ia).zip(parts(ib)).map { case (x, y) => x + y }
      // tolerance is FLOAT epsilon scale: the fixture's a+b is summed in
      // Float before the (double) projection sees it
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-6, s"pair ($ia,$ib): $g vs $w") }
    }
  }

  test("rpKnnRefined self-retrieval on exact duplicates") {
    val df = vecFixture
    val top1 = Similarity.rpKnnRefined(df, df, k = 1, dOut = 4,
        refine = 4, excludeSelf = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    top1.foreach { case (q, n) => assert(q == n, s"query $q got $n") }
  }

  test("randomProject rejects dOut outside [1, dIn] by name") {
    val e = intercept[IllegalArgumentException] {
      Similarity.randomProject(col("embedding"), dIn = 8, dOut = 9)
    }
    assert(e.getMessage.contains("dOut"))
  }

  // ------------------------------------------------------------------
  // Bucketed external tables (Layout.saveBucketed — the q148 plan)
  // ------------------------------------------------------------------

  test("q148's bucketed orderkey join runs with zero Exchange below the join") {
    import graft.operators.Layout
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_r14spec_bucketed"
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Layout.saveBucketed(li, "graft_q148_li", "l_orderkey", 8,
        Seq("l_orderkey"), Some(s"$root/li"))
      Layout.saveBucketed(ord, "graft_q148_ord", "o_orderkey", 8,
        Seq("o_orderkey"), Some(s"$root/ord"))
      val j = graft.queries.ExtensionQueries.bucketedOrderkeyJoin(spark)
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed q148 join still shuffles:\n$p")
      // layout must not change a single answer: parity vs the plain join
      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_q148_li")
      spark.sql("DROP TABLE IF EXISTS graft_q148_ord")
    }
  }
}
