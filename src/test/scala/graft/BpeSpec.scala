package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Sampling}

/** BPE training against the hand-computable classic fixture (the
  * low/lower/newest/widest corpus of the BPE paper) plus encode paths. */
class BpeSpec extends SparkSpec {

  import spark.implicits._

  private def corpus = (
    Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
    .zipWithIndex.map { case (w, i) => (i.toLong, w) }
    .toDF("doc_id", "text")

  test("classic fixture: exact merge sequence with deterministic tie-break") {
    val m = Bpe.trainBpe(corpus, "text", numMerges = 4)
    // hand-computed: es(9), es+t</w>(9), l+o(7), then a 3-way tie at 6
    // — (e,w), (n,e), (w,est</w>) — broken by (left, right) ascending
    assert(m.merges == Seq(("e", "s"), ("es", "t</w>"), ("l", "o"),
      ("e", "w")))
  }

  test("segment applies merges in order; dictionary matches segment()") {
    val m = Bpe.trainBpe(corpus, "text", numMerges = 4)
    assert(m.segment("lowest") == Seq("lo", "w", "est</w>"))
    assert(m.segment("newest") == Seq("n", "ew", "est</w>"))
    assert(m.segment("low") == Seq("lo", "w</w>"))
    // every dictionary word's stored segmentation == segment(word)
    m.dictSegments.foreach { case (w, segs) =>
      assert(segs == m.segment(w), s"word $w")
    }
  }

  test("encodeTokenCounts: dictionary words by model, loose OOV mode " +
    "(exactOov = false) counts characters") {
    val m = Bpe.trainBpe(corpus, "text", numMerges = 4)
    val docs = Seq((1L, "low lower zzz"), (2L, "newest a"))
      .toDF("doc_id", "text")
    val got = Bpe.encodeTokenCounts(docs, "doc_id", "text", m,
        exactOov = false)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val low = m.segment("low").length // 2
    val lower = m.segment("lower").length
    assert(got(1L) == ((low + lower + 3L, 3L))) // zzz OOV -> 3 chars
    assert(got(2L) == ((m.segment("newest").length + 1L, 2L))) // "a" OOV -> 1
  }

  test("encodeSegments equals driver-side segmentation incl. OOV fallback") {
    val m = Bpe.trainBpe(corpus, "text", numMerges = 4)
    val docs = Seq((1L, "low zzz")).toDF("doc_id", "text")
    val got = Bpe.encodeSegments(docs, "doc_id", "text", m,
        exactOov = false)
      .orderBy("pos", "token")
      .collect().map(r => (r.getInt(1), r.getString(2)))
    val expected = Seq(0 -> "lo", 0 -> "w</w>", 1 -> "z", 1 -> "z",
      1 -> "z</w>")
    assert(got.sorted.toSeq == expected.sorted)
  }

  test("exactOov: distributed encode equals segment() for EVERY word") {
    // train on a dictionary capped to 2 words, so real corpus words go
    // OOV — "lowest" is OOV but the learned merges still apply to it
    val m = Bpe.trainBpe(corpus, "text", numMerges = 4, maxDictWords = 2)
    val docs = Seq((1L, "low lowest zzz"), (2L, "newest low a"))
      .toDF("doc_id", "text")
    // segment stream, word by word, equals the driver tokenizer exactly
    val got = Bpe.encodeSegments(docs, "doc_id", "text", m, exactOov = true)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val words = Map((1L, 0) -> "low", (1L, 1) -> "lowest", (1L, 2) -> "zzz",
      (2L, 0) -> "newest", (2L, 1) -> "low", (2L, 2) -> "a")
    words.foreach { case (k, w) =>
      assert(got(k).sorted == m.segment(w).sorted,
        s"word $w at $k: got ${got(k)}, want ${m.segment(w)}")
    }
    // token counts match too
    val counts = Bpe.encodeTokenCounts(docs, "doc_id", "text", m,
        exactOov = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) ==
      Seq("low", "lowest", "zzz").map(m.segment(_).length.toLong).sum)
    assert(counts(2L) ==
      Seq("newest", "low", "a").map(m.segment(_).length.toLong).sum)
    // and the loose path genuinely differs on a merge-applicable OOV
    // word (it char-splits), proving exactOov isn't vacuous here
    val dflt = Bpe.encodeTokenCounts(docs, "doc_id", "text", m,
        exactOov = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dflt(1L) > counts(1L),
      "char-split OOV count should exceed the merge-applied count")
  }

  test("training is invariant to partitioning") {
    val base = corpus
    val m1 = Bpe.trainBpe(base.repartition(1), "text", 6)
    val m7 = Bpe.trainBpe(base.repartition(7), "text", 6)
    assert(m1.merges == m7.merges)
    assert(m1.dictSegments == m7.dictSegments)
  }

  test("merge exhaustion stops early instead of looping") {
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val m = Bpe.trainBpe(tiny, "text", numMerges = 50)
    // "ab" -> a,b</w> -> ab</w>: exactly one merge possible
    assert(m.merges == Seq(("a", "b</w>")))
    assert(m.segment("ab") == Seq("ab</w>"))
  }

  // ------------------------------------------------------------------
  // unigramTokenCounts exactOov
  // ------------------------------------------------------------------

  private lazy val uniModel = {
    val train = Seq((1L, "aaa bbb aaa ab abab"), (2L, "abab baba aaa bb"))
      .toDF("doc_id", "text")
    Bpe.trainUnigram(train, "text", vocabSize = 8, maxPieceLen = 3,
      seedSize = 8, emRounds = 2)
  }

  test("unigramTokenCounts exactOov equals the driver tokenizer for " +
    "EVERY word, OOV included") {
    val docs = Seq((10L, "aaa zzz abz"), (11L, "qqq ab"), (12L, "zq"))
      .toDF("doc_id", "text")
    // zzz/abz/qqq/zq are OOV (absent from the training dictionary); z/q
    // are unknown CHARS, so the char-count fallback and the Viterbi
    // disagree whenever a known piece covers part of an OOV word
    val got = Bpe.unigramTokenCounts(docs, "doc_id", "text", uniModel,
        exactOov = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def exact(t: String): Long = t.split("\\s+").filter(_.nonEmpty)
      .map(w => uniModel.segment(w).length.toLong).sum
    assert(got(10L) == exact("aaa zzz abz"))
    assert(got(11L) == exact("qqq ab"))
    assert(got(12L) == exact("zq"))
  }

  test("unigramTokenCounts loose char-count OOV fallback is an upper " +
    "bound on the exact count, and dict words agree either way") {
    val docs = Seq((10L, "aaa zzz abz abab"), (11L, "aaa ab"))
      .toDF("doc_id", "text")
    val loose = Bpe.unigramTokenCounts(docs, "doc_id", "text", uniModel,
        exactOov = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Bpe.unigramTokenCounts(docs, "doc_id", "text", uniModel,
        exactOov = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loose(10L) >= exact(10L))
    // doc 11 is all-dictionary: both paths take the broadcast segment
    // table and must agree exactly
    assert(loose(11L) == exact(11L))
  }

  // ------------------------------------------------------------------
  // packTokenizedBpe / writePackedTokenized
  // ------------------------------------------------------------------

  /** 60 docs over a tiny vocabulary, word counts cycling 1..20 — BPE
    * token counts vary per doc, some exceed the seqLen below so the
    * truncation contract is exercised. */
  private lazy val packDocs = spark.range(1, 61)
    .select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), pmod(col("id"), lit(20)) + 1),
        i => concat(lit("w"), pmod(i * col("id"), lit(7))))).as("text"))

  private lazy val bpeModel =
    Bpe.trainBpe(packDocs, "text", numMerges = 8)

  private val SeqLen = 24L

  private lazy val packedTok = Sampling.packTokenizedBpe(
    packDocs, "doc_id", "text", bpeModel, SeqLen)

  test("packTokenizedBpe: packed totals equal the truncation-adjusted " +
    "exact encode totals, per doc and in aggregate") {
    val enc = Bpe.encodeTokenCounts(packDocs, "doc_id", "text", bpeModel,
        exactOov = true)
      .select(col("doc_id"),
        least(col("n_bpe_tokens"), lit(SeqLen)).as("want"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = packedTok.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == enc.keySet,
      "packed docs must be exactly the encoded docs")
    got.foreach { case (id, n) =>
      assert(n == enc(id), s"doc $id packed $n tokens, encode says ${enc(id)}")
    }
  }

  test("packTokenizedBpe: no doc crosses a sequence boundary and ids " +
    "stay dense") {
    val rows = packedTok.filter(col("seq").isNotNull)
      .select("seq", "off", "n_tokens").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) <= SeqLen,
        s"seq ${r.getLong(0)} overflows")
    }
    val ids = rows.map(_.getLong(0)).distinct.sorted
    assert(ids.head == 0L && ids.last == ids.length - 1L,
      "sequence ids must number densely from 0")
  }

  test("packTokenizedBpe plan: ONE materialization — the packing reads " +
    "the checkpointed counts, never the encode DAG") {
    val plan = packedTok.queryExecution.executedPlan.toString
    // the encode DAG's corpus explode surfaces as a Generate node; if it
    // leaked past the checkpoint, every packing consumer (rank, census,
    // offset window) would re-derive the full encode
    assert(!plan.contains("Generate"),
      s"encode explode leaked into the packing plan:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"packing does not read the checkpointed counts:\n$plan")
  }

  test("packTokenizedUnigram: same composition laws under the unigram " +
    "tokenizer — totals equal the exact encode, boundaries hold") {
    val model = Bpe.trainUnigram(packDocs, "text", vocabSize = 32,
      maxPieceLen = 3, seedSize = 16, emRounds = 2)
    val packed = Sampling.packTokenizedUnigram(
      packDocs, "doc_id", "text", model, SeqLen)
    val enc = Bpe.unigramTokenCounts(packDocs, "doc_id", "text", model,
        exactOov = true)
      .select(col("doc_id"),
        least(col("n_uni_tokens"), lit(SeqLen)).as("want"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = packed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == enc, "unigram packed totals diverged from the encode")
    packed.filter(col("seq").isNotNull)
      .select("off", "n_tokens").collect()
      .foreach(r => assert(r.getLong(0) + r.getLong(1) <= SeqLen))
  }

  test("writePackedTokenized: the export carries exactly the packed " +
    "rows, round-robin sharded, (seq, off)-ordered within each shard") {
    val dir = java.nio.file.Files.createTempDirectory("packtok").toString
    Sampling.writePackedTokenized(packedTok, numShards = 3, dir)
    val back = spark.read.parquet(dir)
      .select("doc_id", "n_tokens", "seq", "off", "shard").collect()
    val want = packedTok.filter(col("seq").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(back.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet == want, "export rows diverged from the packing")
    back.foreach(r => assert(r.getInt(4) == (r.getLong(2) % 3).toInt,
      s"shard must be seq % numShards for seq ${r.getLong(2)}"))
    // loader contract: within each shard file, rows land in (seq, off)
    // order with no reader-side sort
    val byFile = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("seq"), col("off"))
      .collect().groupBy(_.getString(0))
    byFile.values.foreach { rs =>
      val seen = rs.map(r => (r.getLong(1), r.getLong(2)))
      assert(seen.sameElements(seen.sortBy(identity)),
        "a shard file is not (seq, off)-ordered")
    }
  }

  // ------------------------------------------------------------------
  // unified exactOov default
  // ------------------------------------------------------------------

  test("exactOov defaults to true on BOTH tokenizers: the default " +
    "encode equals the explicit exact encode, OOV words included") {
    val train = Seq((1L, "aaa bbb aaa ab abab"), (2L, "abab baba aaa bb"))
      .toDF("doc_id", "text")
    val docs = Seq((10L, "aaa zzz abz"), (11L, "qqq ab"), (12L, "zq"))
      .toDF("doc_id", "text")
    val uni = Bpe.trainUnigram(train, "text", vocabSize = 8,
      maxPieceLen = 3, seedSize = 8, emRounds = 2)
    def m(df: org.apache.spark.sql.DataFrame, c: String) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long](c)).toMap
    assert(m(Bpe.unigramTokenCounts(docs, "doc_id", "text", uni),
        "n_uni_tokens") ==
      m(Bpe.unigramTokenCounts(docs, "doc_id", "text", uni,
        exactOov = true), "n_uni_tokens"))
    val bpe = Bpe.trainBpe(train, "text", numMerges = 4, maxDictWords = 2)
    assert(m(Bpe.encodeTokenCounts(docs, "doc_id", "text", bpe),
        "n_bpe_tokens") ==
      m(Bpe.encodeTokenCounts(docs, "doc_id", "text", bpe,
        exactOov = true), "n_bpe_tokens"))
  }
}
