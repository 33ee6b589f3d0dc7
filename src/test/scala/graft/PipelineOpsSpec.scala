package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Events, Multimodal, Sampling, Similarity}

/** Extension-operator laws: LSH recall vs exact, simhash sanity, kNN
  * approximation quality, multimodal plumbing. sf0.001 fixtures. */
class PipelineOpsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  /** Deterministic synthetic media table: `rows` blobs of pseudo-random
    * bytes with metadata, built distributed from spark.range. */
  private def syntheticMedia(rows: Int) = {
    val types = array(lit("image"), lit("audio"), lit("video"))
    spark.range(rows.toLong).toDF("media_id")
      .withColumn("content",
        unhex(repeat(substring(md5(col("media_id").cast("string")), 1, 16), 4)))
      .withColumn("media_type", element_at(types, (col("media_id") % 3 + 1).cast("int")))
      .withColumn("meta", struct(
        col("media_type"),
        when(col("media_type") === "image", lit("png"))
          .when(col("media_type") === "audio", lit("wav"))
          .otherwise(lit("mp4")).as("format"),
        when(col("media_type") === "image", lit(64)).otherwise(lit(null).cast("int")).as("width"),
        when(col("media_type") === "image", lit(64)).otherwise(lit(null).cast("int")).as("height"),
        when(col("media_type") =!= "image", col("media_id") * 1000 + 1000)
          .otherwise(lit(null).cast("long")).as("duration_ms")))
      .select("media_id", "content", "meta")
  }
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("minhash LSH finds every exact near-dup pair (recall = 1 here)") {
    val exactRows = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("i", "j", "jaccard").collect()
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // PRECONDITION PIN for the q20/q45 determinism gates: LSH at
    // (k=32, bands=8, r=4) misses a true pair at jaccard ≈ 0.80 with
    // ~1.5% probability, at 0.85 with ~3e-3, at 0.89 with ~4e-4. The
    // oracle match is deterministic only because the fixture's planted
    // pairs sit well above threshold (observed min 0.889 at sf0.001) —
    // check that here so a fixture regeneration with near-threshold
    // pairs fails THIS assertion loudly instead of flaking the hash
    // gates.
    val minJac = exactRows.map(_.getDouble(2)).min
    assert(minJac >= 0.85,
      f"fixture planted-pair similarity dropped to $minJac%.3f < 0.85 — " +
        "q20/q45 LSH≡exact oracles are at risk of nondeterminism")
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", 3, 32, 8, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact) // precision 1 by construction; recall 1 on fixture
    // q106's dedup stage runs the same LSH over the LENGTH-FILTERED
    // corpus with its own maxDf cap (capped-jaccard can shift when the
    // df census shrinks) — pin the same determinism margin there, so a
    // fixture regeneration that puts a filtered-corpus pair near the
    // 0.8 threshold fails HERE instead of flaking the q106 hash gate
    val filtered = docs.filter(size(array_remove(
      graft.functions.TextFunctions.tokens(col("text")), "")) >= 30)
    val fJac = Dedup.jaccardPairs(filtered, "doc_id", "text", 3, 0.8)
      .select("jaccard").collect().map(_.getDouble(0))
    if (fJac.nonEmpty)
      assert(fJac.min >= 0.85,
        f"filtered-corpus pair similarity ${fJac.min}%.3f < 0.85 — " +
          "q106's LSH≡exact determinism is at risk")
  }

  test("idf-weighted simhash separates templated docs that uniform votes collapse") {
    import spark.implicits._
    // 20 docs: 200 distinct boilerplate tokens shared by ALL docs + 40
    // rare payload tokens unique to each. Uniform votes: the template's
    // per-bit sum (σ≈14) dominates the payload's (σ≈6.3), so every
    // signature tracks the SAME template and pairwise hamming collapses.
    // idf weights: template tokens (df = N) carry weight 1, payload
    // tokens (df = 1) weight ln((N+1)/2)+1 ≈ 3.4 — the payload side
    // (σ≈21) now dominates and signatures follow the distinct content.
    // Everything here is deterministic (fixed token strings, md5 token
    // hashes) — the comparison is a law, not a statistical flake.
    val template = (0 until 200).map(i => s"tmpl$i").mkString(" ")
    val corpus = (1 to 20).map { d =>
      val payload = (0 until 40).map(j => s"pay${d}_$j").mkString(" ")
      (d.toLong, s"$template $payload")
    }.toDF("doc_id", "text")
    def pairsWithin(idf: Boolean, h: Int): Long =
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = h,
        idfWeighted = idf).count()
    val collapsedUniform = pairsWithin(idf = false, h = 8)
    val collapsedWeighted = pairsWithin(idf = true, h = 8)
    assert(collapsedUniform > 0,
      "construction check: uniform votes must collapse some templated pair")
    assert(collapsedWeighted < collapsedUniform,
      s"idf weighting must separate templated docs: uniform=$collapsedUniform " +
        s"weighted=$collapsedWeighted")
    // the weighted signature still identifies TRUE near-dups: an exact
    // copy of doc 1 under a new id lands at hamming 0
    val withCopy = corpus.unionByName(
      corpus.filter(col("doc_id") === 1L)
        .select(lit(999L).as("doc_id"), col("text")))
    val copyPairs = Dedup.simhashPairs(withCopy, "doc_id", "text",
        maxHamming = 0, idfWeighted = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(copyPairs.contains((1L, 999L)),
      s"weighted simhash must still catch the exact copy: $copyPairs")
  }

  test("simhash near-dups are a subset of doc pairs and deterministic") {
    val p1 = Dedup.simhashPairs(docs, "doc_id", "text", 3).collect()
    val p2 = Dedup.simhashPairs(docs, "doc_id", "text", 3).collect()
    assert(p1.map(_.toString).sorted.sameElements(p2.map(_.toString).sorted))
    assert(p1.forall(_.getInt(2) <= 3))
  }

  test("jaccard maxDf cap drops hot shingles but keeps true near-dups") {
    val uncapped = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8, maxDf = None)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a generous cap keeps every planted near-dup pair (hot shingles are
    // the quadratic-fan-out ones, shared by many docs, not the near-dup
    // signal)
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8,
      maxDf = Some(50))
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
    // an absurd cap of 1 kills all sharing -> no pairs at all
    val killed = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8,
      maxDf = Some(1)).count()
    assert(killed == 0)
  }

  test("connected components close pairs transitively; dropNearDups keeps cluster minima") {
    import spark.implicits._
    // chain 1-2-3 (A~B, B~C but NOT A~C — the non-transitive case), a
    // separate pair, and an isolated doc
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("i", "j")
    val cc = Dedup.connectedComponents(pairs)
    val m = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    val docsDf = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L).toDF("doc_id")
      .withColumn("text", lit("x"))
    val kept = Dedup.dropNearDups(docsDf, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L, 30L), "kept one canonical doc per cluster + singleton")
    // a 10-node chain needs one round per hop — multi-round convergence
    // (and constant-size plans per round: without lineage truncation this
    // chain is the case that sends Catalyst exponential)
    val chain = (0L until 9L).map(x => (x, x + 1)).toDF("i", "j")
    val ccChain = Dedup.connectedComponents(chain)
    assert(ccChain.collect().forall(_.getLong(1) == 0L), "chain must collapse to min label")
    // past maxIter the operator falls back to the O(log n) star-rewrite
    // closure — the chain STILL collapses correctly instead of raising
    // (and never returns the half-merged round-2 labels)
    val viaFallback = Dedup.connectedComponents(chain, maxIter = 2)
    assert(viaFallback.collect().forall(_.getLong(1) == 0L),
      "fallback closure must fully collapse the chain")
  }

  test("exact dedup keeps one winner per fingerprint") {
    import spark.implicits._
    val withDup = docs.select("doc_id", "text").unionByName(
      docs.select(($"doc_id" + 100000).as("doc_id"), $"text").limit(5))
    val r = Dedup.exact(withDup, "doc_id", "text")
    assert(r.filter($"n_dups" === 2).count() == 5)
    // winner is the smaller id
    assert(r.filter($"n_dups" === 2).filter($"keep_id" >= 100000).count() == 0)
  }

  test("LSH kNN ranks candidates identically to brute force on its hits") {
    val q = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteKnn(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnn(q, emb, 5, tables = 8, planes = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // approximate: recall over the true top-5 should be decent, not zero
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
  }

  test("IVF kNN recall >= 0.9 against brute force on the 4x fixture") {
    // the larger sf0.1 fixture (2000 vectors): k-means-refined centroids +
    // nprobe=4 of nlist=8 cells must recover >= 90% of the true top-5
    val big = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = big.filter(col("vec_id") < 10)
    val brute = Similarity.bruteKnn(q, big, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKnn(q, big, 5, nlist = 8, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall too low: $recall")
  }

  test("near-dup pairs match the exact cross-join result on both paths") {
    val exact = Similarity.nearDupPairsExact(emb, 0.47).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    // auto mode at 0.47: derivation detects the saturated-LSH regime
    // (random-pair fp ≥ 0.5) and falls back to the exact cartesian
    val auto = Similarity.nearDupPairs(emb, 0.47).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == exact)
    // forced bucketing (the round-3 auto parameters): the LSH recall
    // guarantee must still find every exact pair — deterministic md5
    // hyperplanes make this a fixed outcome, not a flaky probabilistic one
    val bucketed = Similarity.nearDupPairs(emb, 0.47, planes = 4, tables = 45)
      .select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == exact,
      s"LSH-bucketed candidates missed pairs: ${(exact -- bucketed).mkString(",")}")
  }

  /** Seeded clustered corpus for quantified ANN recall gates: 10k vectors
    * in 32 tight clusters (unit-scale Gaussian centers, 0.05σ noise), so
    * true top-k neighbors sit at high cosine and a parameter regression
    * shows up as a hard recall drop, not flaky noise. Deterministic:
    * fixed-seed Random on the driver, tiny (10k × 16 floats). */
  private lazy val seeded10k = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val d = 16
    val centers = Array.fill(32)(Array.fill(d)(rnd.nextGaussian().toFloat))
    (0 until 10000).map { i =>
      val c = centers(i % 32)
      (i.toLong, c.map(v => v + 0.05f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").repartition(4).cache()
  }

  private def recallVsBrute(approx: org.apache.spark.sql.DataFrame,
                            brute: Set[(Long, Long)]): Double = {
    val a = approx.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (brute & a).size.toDouble / brute.size
  }

  test("LSH kNN recall@5 >= 0.9 on the seeded 10k corpus (tables=8, planes=8)") {
    val q = seeded10k.filter(col("vec_id") < 20)
    val brute = Similarity.bruteKnn(q, seeded10k, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size == 100, "brute-force ground truth incomplete")
    val recall = recallVsBrute(
      Similarity.lshKnn(q, seeded10k, 5, tables = 8, planes = 8, dim = 16), brute)
    assert(recall >= 0.9, s"lshKnn(tables=8, planes=8) recall@5 = $recall < 0.9")
  }

  test("IVF kNN recall@5 >= 0.9 on the seeded 10k corpus (nlist=16, nprobe=4, replicate=2)") {
    val q = seeded10k.filter(col("vec_id") < 20)
    val brute = Similarity.bruteKnn(q, seeded10k, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = recallVsBrute(
      Similarity.ivfKnn(q, seeded10k, 5, nlist = 16, nprobe = 4, replicate = 2), brute)
    assert(recall >= 0.9, s"ivfKnn(nlist=16, nprobe=4, replicate=2) recall@5 = $recall < 0.9")
  }

  test("bounded-sample training keeps ANN recall (statistics, not an index)") {
    import graft.operators.Clustering
    // a 640-row cap on the 10k corpus (64×) must still recover centroids
    // good enough for the recall gate — the 100 TB contract: Lloyd trains
    // on a hash-thinned sample, assignment/search read the full corpus
    val q = seeded10k.filter(col("vec_id") < 20)
    val brute = Similarity.bruteKnn(q, seeded10k, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Clustering.train(seeded10k, k = 16, maxTrainRows = 640)
    assert(cents.length == 16)
    assert(cents.forall(c => math.abs(c.map(x => x * x).sum - 1.0) < 1e-9),
      "spherical centroids must stay unit-norm")
    // a PQ model trained under the cap must match the full-corpus
    // model's retrieval quality (within-cluster neighbors tie in ADC on
    // this fixture, so the gate is PARITY with uncapped, not absolute)
    val uncapped = Similarity.trainPq(seeded10k, m = 8, ksub = 16)
    val capped = Similarity.trainPq(seeded10k, m = 8, ksub = 16,
      maxTrainRows = 640)
    def pqRecall(model: Similarity.PqModel): Double = recallVsBrute(
      Similarity.pqKnn(q, Similarity.pqEncode(seeded10k, model), model, 5),
      brute)
    val (ru, rc) = (pqRecall(uncapped), pqRecall(capped))
    assert(rc >= ru - 0.05,
      s"capped-training recall $rc fell below uncapped $ru - 0.05")
    // under the cap the sample path is the identity: same codebooks
    val capped20k = Similarity.trainPq(seeded10k, m = 8, ksub = 16,
      maxTrainRows = 20000)
    assert(uncapped.codebooks.flatten.flatten.toSeq ==
      capped20k.codebooks.flatten.flatten.toSeq,
      "a corpus under the cap must train bit-identically")
  }

  test("real WAV bytes decode to duration/rate/channel/amplitude features") {
    import javax.sound.sampled._
    import spark.implicits._
    // 500 ms, 8 kHz, mono, 16-bit little-endian PCM, 440 Hz sine at HALF
    // amplitude — every derived feature below is exact, not approximate
    val rate = 8000f
    val nFrames = 4000
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 16384).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val clip = Multimodal.decodeAudio(wav).getOrElse(
      fail("JDK sampled-audio stack rejected a canonical WAV"))
    assert(clip.durationMs == 500, s"duration ${clip.durationMs} != 500 ms")
    assert(clip.sampleRate == 8000f)
    assert(clip.channels == 1)
    val feats = Multimodal.audioFeatures(clip, 8)
    assert(feats(0) == 500f && feats(1) == 8000f && feats(2) == 1f)
    // 5 histogram buckets over |amp|: a 0.5-amplitude sine never reaches
    // the [0.6, 0.8) and [0.8, 1.0] buckets
    assert(math.abs(feats.drop(3).sum - 1.0f) < 1e-5, "histogram mass")
    assert(feats(6) == 0f && feats(7) == 0f, "half-amplitude sine leaked into top buckets")
    // image bytes don't decode as audio, audio bytes not as image
    assert(Multimodal.decodeAudio(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(Multimodal.decodeImage(wav).isEmpty)
    // end-to-end through the partition-wise extractor: REAL decode path
    val media = Seq((7L, wav)).toDF("media_id", "content")
    val fs = Multimodal.extractFeatures(media, dim = 8).collect().head
    assert(fs.features(0) == 500f, "extractFeatures lost the real audio decode")
    assert(fs.n_bytes == wav.length)
  }

  test("image near-dup pairs: aHash banding finds edited copies, not inversions") {
    import java.awt.image.BufferedImage
    import spark.implicits._
    def png(img: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // high-contrast cell blocks (every 8x8 cell far from the global mean):
    // a small edit barely moves cell means, an inversion flips every bit.
    // A smooth gradient would be aHash's worst case — all cells borderline.
    def blocks(invert: Boolean, edits: Int): BufferedImage = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val bright = ((x / 8) + (y / 8) * 3) % 3 == 0
        val v = if (bright != invert) 220 else 30
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      // small localized edit inside one cell
      for (y <- 0 until edits; x <- 0 until edits) img.setRGB(x, y, 0xffffff)
      img
    }
    val base = blocks(invert = false, edits = 0)
    val edited = blocks(invert = false, edits = 6)
    val inverted = blocks(invert = true, edits = 0)
    // hash robustness: re-encoding is a no-op, small edit stays close,
    // inversion flips ~half the bits
    val hBase = Multimodal.aHash64(base)
    assert(Multimodal.aHash64(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png(base)))) == hBase,
      "aHash must survive PNG round-trip")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hBase, Multimodal.aHash64(edited)) <= 5, "edit moved too many cells")
    assert(ham(hBase, Multimodal.aHash64(inverted)) > 20, "inversion should be far")

    val media = Seq((1L, png(base)), (2L, png(edited)), (3L, png(inverted)),
      (4L, Array[Byte](1, 2, 3))) // undecodable row is dropped, not paired
      .toDF("media_id", "content")
    val pairs = Multimodal.imageNearDupPairs(media, maxHamming = 5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"expected only (base, edited), got $pairs")
  }

  test("audio near-dup pairs: envelope hash finds noised copies, not other rhythms") {
    import javax.sound.sampled._
    import spark.implicits._
    // clips with PATTERNED envelopes (alternating loud/quiet beats): the
    // envelope hash needs windows far from the mean, like aHash's blocks
    def wav(beatEvery: Int, noise: Boolean): Array[Byte] = {
      val rate = 8000f
      val n = 8000
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val beat = (i * 64 / n) / beatEvery % 2 == 0
        val amp = if (beat) 14000 else 800
        val jitter = if (noise) ((i * 31) % 101 - 50) else 0
        val s = (math.sin(2 * math.Pi * 440 * i / rate) * amp).toInt + jitter
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(rate, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val base = wav(4, noise = false)
    val noised = wav(4, noise = true)       // same rhythm, light noise
    val other = wav(1, noise = false)       // different beat pattern
    def clip(b: Array[Byte]) = Multimodal.decodeAudio(b).get
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hBase = Multimodal.audioHash64(clip(base))
    assert(ham(hBase, Multimodal.audioHash64(clip(noised))) <= 5,
      "light noise moved the envelope too far")
    assert(ham(hBase, Multimodal.audioHash64(clip(other))) > 10,
      "different rhythm should be far")
    val media = Seq((1L, base), (2L, noised), (3L, other),
      (4L, Array[Byte](9, 9, 9))) // undecodable row dropped
      .toDF("media_id", "content")
    val pairs = Dedup.hammingPairs(Multimodal.audioHashes(media), "media_id",
        "audio_hash", bits = 64, maxHamming = 5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"expected only (base, noised), got $pairs")
  }

  test("top terms rank by tf with deterministic term tie-break and true df") {
    import graft.operators.Corpus
    import spark.implicits._
    val d = Seq(
      (1L, "b b b a a c"),   // tf: b=3, a=2, c=1
      (2L, "a z z")          // tf: z=2, a=1
    ).toDF("doc_id", "text")
    val r = Corpus.topTerms(d, "doc_id", "text", k = 2).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3), x.getInt(4)))
      .toSet
    assert(r == Set(
      (1L, "b", 3L, 1L, 1), (1L, "a", 2L, 2L, 2),
      (2L, "z", 2L, 1L, 1), (2L, "a", 1L, 2L, 2)),
      s"got $r")
  }

  test("PII redaction scrubs emails, IPs, and long numbers; leaves prose alone") {
    import graft.functions.TextFunctions
    import spark.implicits._
    val out = Seq(
      "mail a.user+tag@sub.example.co.uk now",
      "host 192.168.1.254 responded",
      "card 4111111111111111 and ssn 123456789",
      "short codes 12345 and 911 stay",   // below the 9-digit floor
      "plain prose with no identifiers at all"
    ).toDF("text").select(TextFunctions.redactPii(col("text")).as("r"))
      .as[String].collect()
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "host <IP> responded")
    assert(out(2) == "card <NUM> and ssn <NUM>")
    assert(out(3) == "short codes 12345 and 911 stay")
    assert(out(4) == "plain prose with no identifiers at all")
  }

  test("repetition ratio is 0 for unique grams and rises with repeats") {
    import graft.functions.TextFunctions
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"),             // 3 unique 3-grams -> 0.0
      (2L, "x y x y x y x y"),       // loop: 6 grams, 2 distinct -> 2/3
      (3L, "q")                      // short doc: single shingle -> 0.0
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextFunctions.repetitionRatio(
          TextFunctions.shinglesFromTokens(col("toks"), 3)).as("r"))
    val r = df.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 0.0)
    assert(math.abs(r(2L) - 2.0 / 3.0) < 1e-12)
    assert(r(3L) == 0.0)
  }

  test("cross-corpus decontamination finds planted leaks, and only across") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated training text about spark engines"),
      (3L, "another unrelated document entirely different words")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // exact leak of 1
      (101L, "held out evaluation prompt with unique content")
    ).toDF("doc_id", "text")
    val hits = Dedup.crossJaccardPairs(train, eval_, "doc_id", "text",
      n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((1L, 100L)), s"expected exactly the planted leak, got $hits")
    // within-corpus duplicates must NOT appear (cross only)
    val trainDup = train.union(Seq((4L,
      "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
    val hits2 = Dedup.crossJaccardPairs(trainDup, eval_, "doc_id", "text",
      n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits2 == Set((1L, 100L), (4L, 100L)))
  }

  test("stored IVF index prunes partitions at the scan and keeps recall") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.saveIvfIndex(seeded10k, dir, nlist = 16, replicate = 2)
    // layout: one directory per cell
    val cells = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cells.length == 16, s"expected 16 cell partitions, got ${cells.toSeq}")
    val q = seeded10k.filter(col("vec_id") < 20)
    val served = Similarity.ivfKnnStored(spark, dir, q, k = 5, nprobe = 4)
    val brute = Similarity.bruteKnn(q, seeded10k, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = recallVsBrute(served, brute)
    assert(recall >= 0.9, s"stored-IVF recall@5 = $recall < 0.9")
    // the scan must read ONLY probed partitions: partition filters present
    // (dynamic pruning from the broadcast probe side)
    val scanLine = served.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("Scan parquet") && l.contains("corpus"))
    assert(scanLine.exists(l => l.contains("PartitionFilters: [") &&
      l.contains("dynamicpruning")),
      s"index scan is not partition-pruned:\n${scanLine.getOrElse("<no scan>")}")
  }

  test("filtered stored-IVF: predicate pushed to the index scan, recall vs filtered brute") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_filt").toString
    val withMeta = seeded10k
      .withColumn("grp", pmod(col("vec_id"), lit(3)).cast("int"))
    Similarity.saveIvfIndex(withMeta, dir, nlist = 16, replicate = 2,
      metaCols = Seq("grp"))
    val q = seeded10k.filter(col("vec_id") < 20)
    val served = Similarity.ivfKnnStored(spark, dir, q, k = 5, nprobe = 4,
      where = Some(col("grp") === 1))
    val brute = Similarity.bruteKnn(q, withMeta.filter(col("grp") === 1), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = recallVsBrute(served, brute)
    assert(recall >= 0.9, s"filtered stored-IVF recall@5 = $recall < 0.9")
    served.collect().foreach(r =>
      assert(r.getLong(1) % 3 == 1, s"neighbor ${r.getLong(1)} escaped the filter"))
    // the metadata predicate reaches the parquet scan of the probed cells
    val scanLine = served.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("Scan parquet") && l.contains("corpus"))
    assert(scanLine.exists(l => l.contains("PushedFilters: [") &&
      l.contains("grp")),
      s"grp predicate not pushed to the scan:\n${scanLine.getOrElse("<no scan>")}")
    // metaCols validation is named and driver-side
    assert(intercept[IllegalArgumentException](
      Similarity.saveIvfIndex(withMeta, dir, metaCols = Seq("nope")))
      .getMessage.contains("nope"))
    assert(intercept[IllegalArgumentException](
      Similarity.saveIvfIndex(withMeta.withColumn("cell", lit(1)), dir,
        metaCols = Seq("cell"))).getMessage.contains("shadow"))
  }

  test("incremental embedding near-dup delta: re-ingests drop surely, recall >= 0.9 on perturbed, fresh survive") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_delta").toString
    Similarity.saveIvfIndex(seeded10k, dir, nlist = 16, replicate = 2)
    val rnd = new scala.util.Random(7)
    val base = seeded10k.filter(col("vec_id") < 32).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // one perturbed copy per cluster (ids 0..31 hit all 32 clusters), so
    // within-delta pairs are cross-cluster and stay far below threshold
    val perturbed = base.map { case (id, v) =>
      (id + 100000L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val exactCopies = seeded10k.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .collect().map(r => (r.getLong(0) + 300000L, r.getSeq[Float](1).toArray))
    val fresh = (0 until 8).map(i =>
      (200000L + i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val delta = (perturbed ++ exactCopies ++ fresh).toSeq
      .toDF("vec_id", "embedding")
    val (surv, assign) = Similarity.nearDupDelta(spark, dir, delta,
      threshold = 0.95, nprobe = 4, replicate = 2, dim = 16)
    val survIds = surv.select("vec_id").collect().map(_.getLong(0)).toSet
    // exact cross ground truth: delta docs with ANY >= 0.95 corpus hit
    val taintedTrue = delta.toDF("j", "dv").select(col("j"),
        Similarity.normalize(col("dv")).as("dv"))
      .crossJoin(seeded10k.toDF("i", "cv").select(col("i"),
        Similarity.normalize(col("cv")).as("cv")))
      .filter(Similarity.dot(col("dv"), col("cv")) >= 0.95)
      .select("j").distinct().collect().map(_.getLong(0)).toSet
    // identical re-ingests rank cells exactly like their stored twins:
    // detection is guaranteed, not probabilistic
    assert(exactCopies.map(_._1).toSet.subsetOf(taintedTrue))
    assert(exactCopies.forall(c => !survIds.contains(c._1)),
      "an exact re-ingest survived — the probability-1 guarantee is broken")
    // perturbed copies: standard IVF boundary recall, gated at 0.9
    val taintedPerturbed = perturbed.map(_._1).toSet & taintedTrue
    assert(taintedPerturbed.nonEmpty, "fixture lost its perturbed near-dups")
    val caught = taintedPerturbed.count(id => !survIds.contains(id))
    val recall = caught.toDouble / taintedPerturbed.size
    assert(recall >= 0.9, s"delta cross recall = $recall < 0.9")
    // precision 1 by construction (exact verification): nothing untainted
    // may drop
    val untainted = delta.select("vec_id").collect().map(_.getLong(0)).toSet -- taintedTrue
    assert(untainted.subsetOf(survIds),
      s"untainted delta docs dropped: ${(untainted -- survIds).mkString(",")}")
    // the returned index rows have the stored-corpus schema and replicate
    // cell assignments, ready for appendToIvfIndex
    assert(assign.columns.toSeq == Seq("neighbor_id", "cv", "cell"))
    assert(assign.count() == delta.count() * 2)
    // append + a follow-up delta: a re-ingest of a FIRST-delta doc (even a
    // dropped one) must now hit the store — chaining through appended rows
    Similarity.appendToIvfIndex(assign, dir)
    val again = Seq((500000L, perturbed.head._2)).toDF("vec_id", "embedding")
    val (surv2, _) = Similarity.nearDupDelta(spark, dir, again,
      threshold = 0.95, nprobe = 4, replicate = 2, dim = 16)
    assert(surv2.count() == 0,
      "re-ingest of an appended delta doc survived — the store append is not chaining")
  }

  test("sketch cube: union of split sketches equals the whole-table sketch") {
    import graft.operators.Sketches
    import spark.implicits._
    val rows = (0 until 5000).map(i => (i % 7, (i % 997).toLong))
      .toDF("g", "v")
    val whole = Sketches.rollupDistinct(
      Sketches.distinctSketchAtGrain(rows, Seq("g"), "v"),
      Seq.empty, "v_sketch").head.getLong(0)
    // the same data sketched in two halves at a FINER grain, then unioned
    // across both the split and the grain — mergeability is exact
    val halves = Sketches.distinctSketchAtGrain(
        rows.filter($"v" % 2 === 0), Seq("g"), "v")
      .unionByName(Sketches.distinctSketchAtGrain(
        rows.filter($"v" % 2 =!= 0), Seq("g"), "v"))
    val merged = Sketches.rollupDistinct(halves, Seq.empty, "v_sketch")
      .head.getLong(0)
    assert(merged == whole, s"sketch merge not exact: $merged vs $whole")
    // and the estimate lands within the HLL bound of the true distinct
    assert(math.abs(whole - 997) <= 997 * 0.05,
      s"estimate $whole too far from exact 997")
    intercept[IllegalArgumentException] {
      Sketches.distinctSketchAtGrain(rows, Seq.empty, "v")
    }
  }

  test("quality audit: rule-local violation semantics, NULLs only fail not_null") {
    import graft.operators.Quality
    import graft.operators.Quality._
    import spark.implicits._
    val d = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 10.0, "a"),
      (1L, 200.0, "b"),   // duplicate key; out of range
      (null, null, "c"),  // null key + null value: not_null only
      (3L, -5.0, "zz")    // below range; not an accepted value
    ).toDF("k", "v", "s")
    val rep = Quality.audit(d, Seq(
      NotNull("k"), Unique(Seq("k")), InRange("v", 0.0, 100.0),
      AcceptedValues("s", Seq("a", "b", "c"))))
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    assert(rep(("not_null", "k")) == ((4L, 1L, 0)))
    // unique: complete rows 3, distinct keys 2 -> 1 excess; the NULL key
    // row is the not_null rule's problem, not a duplicate
    assert(rep(("unique", "k")) == ((4L, 1L, 0)))
    // range: 200 and -5 violate; the NULL value is skipped
    assert(rep(("in_range", "v")) == ((4L, 2L, 0)))
    assert(rep(("accepted_values", "s")) == ((4L, 1L, 0)))
    // empty input: zero violations everywhere, all rules pass
    val empty = Quality.audit(d.filter(lit(false)),
      Seq(NotNull("k"), Unique(Seq("k"))))
      .collect().map(r => r.getString(1) -> ((r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    assert(empty == Map("not_null" -> ((0L, 0L, 1)), "unique" -> ((0L, 0L, 1))))
    // multi-column uniqueness: (k, s) pairs are all distinct here
    val multi = Quality.audit(d, Seq(Unique(Seq("k", "s")))).head
    assert(multi.getLong(4) == 0L && multi.getInt(5) == 1)
  }

  test("lmScore: hand-checked bigram probabilities, partition-invariant") {
    import graft.operators.Corpus
    import spark.implicits._
    // corpus: "a b a b" + "a b c". unigrams: a=3 b=3 c=1, V=3.
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1
    val d = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = Corpus.lmScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // P(b|a) = (3+1)/(3+3) = 2/3; P(a|b) = (1+1)/(3+3) = 1/3;
    // P(c|b) = (1+1)/(3+3) = 1/3
    def nll(ps: Seq[Double]): Double =
      math.rint(ps.map(p => -math.log(p) / math.log(2)).sum / ps.size * 1e4) / 1e4
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 - nll(Seq(2.0 / 3, 1.0 / 3, 2.0 / 3))) < 2e-4)
    assert(out(2L)._1 == 2L)
    assert(math.abs(out(2L)._2 - nll(Seq(2.0 / 3, 1.0 / 3))) < 2e-4)
    // a 1-token doc has no bigrams -> not scoreable, excluded
    val short = Corpus.lmScore(Seq((9L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(short.count() == 0)
    // partitioning must not change a single rounded score
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = Corpus.lmScore(docs, "doc_id", "text").orderBy("doc_id").collect()
    val b = Corpus.lmScore(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("lmScore against a held-out model: unseen bigrams get smoothing mass") {
    import graft.operators.Corpus
    import spark.implicits._
    val model = Seq((1L, "a b a b")).toDF("doc_id", "text")
    // "c d" never appears in the model: cbg=0, cw(c)=0 -> P = 1/(0+V), V=2
    val out = Corpus.lmScore(Seq((5L, "c d")).toDF("doc_id", "text"),
      "doc_id", "text", model = model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val expect = math.rint(-math.log(1.0 / 2) / math.log(2) * 1e4) / 1e4
    assert(math.abs(out(5L) - expect) < 2e-4)
  }

  test("bm25: hand-checked weights, dup-doc tie-break, query-term dedup, partition invariance") {
    import graft.operators.Corpus
    import spark.implicits._
    // corpus: d1="a a b" d2="a c" d3="c c c c"  ->  N=3, avgdl=3
    val d = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c c"))
      .toDF("doc_id", "text")
    val idx = Corpus.bm25Index(d, "doc_id", "text")
    def expected(tf: Long, dl: Long, df: Long): Double = {
      val idf = math.log(1 + (3 - df + 0.5) / (df + 0.5))
      val w = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
      math.rint(w * 1e4) / 1e4
    }
    val one = Corpus.bm25Search(idx, Seq((1L, "a")).toDF("query_id", "qtext"),
      "query_id", "qtext", k = 10)
      .collect().map(r => r.getLong(1) -> ((r.getInt(2), r.getDouble(3)))).toMap
    assert(one.keySet == Set(1L, 2L), s"only docs containing 'a' match: $one")
    assert(math.abs(one(1L)._2 - expected(tf = 2, dl = 3, df = 2)) < 2e-4)
    assert(math.abs(one(2L)._2 - expected(tf = 1, dl = 2, df = 2)) < 2e-4)
    // d1 has higher tf at comparable length -> rank 1
    assert(one(1L)._1 == 1 && one(2L)._1 == 2)
    // repeating a query term must not double its weight (Okapi with the
    // query-tf term dropped): "a a" scores identically to "a"
    val dup = Corpus.bm25Search(idx, Seq((1L, "a a")).toDF("query_id", "qtext"),
      "query_id", "qtext", k = 10)
      .collect().map(r => r.getLong(1) -> ((r.getInt(2), r.getDouble(3)))).toMap
    assert(dup == one, s"query-term dedup law broke: $dup vs $one")
    // exact-duplicate docs score identically; the tie breaks by doc_id asc
    val twins = Seq((10L, "x y"), (11L, "x y"), (12L, "x z"))
      .toDF("doc_id", "text")
    val tw = Corpus.bm25Search(Corpus.bm25Index(twins, "doc_id", "text"),
      Seq((1L, "y")).toDF("query_id", "qtext"), "query_id", "qtext", k = 10)
      .orderBy("rank").collect()
    assert(tw.map(_.getLong(1)).toSeq == Seq(10L, 11L),
      s"tie must break by doc_id asc: ${tw.toSeq}")
    assert(tw(0).getDouble(3) == tw(1).getDouble(3))
    // k truncates; partitioning must not change a single row
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs = Seq((1L, "spark table scan"), (2L, "customer value"))
      .toDF("query_id", "qtext")
    val a = Corpus.bm25Search(Corpus.bm25Index(docsDf, "doc_id", "text"),
      qs, "query_id", "qtext", k = 5).orderBy("query_id", "rank").collect()
    assert(a.length == 10, "k=5 over 2 queries with enough matches")
    val b = Corpus.bm25Search(
      Corpus.bm25Index(docsDf.repartition(7), "doc_id", "text"),
      qs.repartition(3), "query_id", "qtext", k = 5)
      .orderBy("query_id", "rank").collect()
    assert(a.sameElements(b))
    // the same corpus under zero-padded string ids (string order = long
    // order) ranks alike, ties included, and an INT id column comes back INT
    val mixed = d.unionByName(twins)
    val mq = Seq((1L, "a"), (2L, "x y"), (3L, "c z")).toDF("query_id", "qtext")
    def ranks(ids: org.apache.spark.sql.Column) =
      Corpus.bm25Search(Corpus.bm25Index(mixed.withColumn("doc_id", ids),
        "doc_id", "text"), mq, "query_id", "qtext", k = 3)
        .orderBy("query_id", "rank")
    val byLong = ranks(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val byStr = ranks(format_string("d%05d", col("doc_id"))).collect()
      .map(r => (r.getLong(0), r.getString(1).drop(1).toLong, r.getInt(2))).toSeq
    assert(byStr == byLong, s"string-id BM25 ranks diverged: $byStr vs $byLong")
    val byInt = ranks(col("doc_id").cast("int"))
    assert(byInt.schema("doc_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(byInt.collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2)))
      .toSeq == byLong)
  }

  // uniform corpus (no cluster structure -> PQ codes must discriminate on
  // their own) + 20 planted queries: tiny perturbations of corpus vectors,
  // so each query's true nearest neighbor is its source at a wide margin
  // over the ~N(0, 1/16) background cosines
  private lazy val uniform10k = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 10000).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").repartition(4).cache()
  }
  private lazy val plantedSrcs = uniform10k.filter(col("vec_id") % 500 === 0)
    .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
  private lazy val plantedQueries = {
    import spark.implicits._
    val qrnd = new scala.util.Random(11)
    plantedSrcs.toSeq.map { case (id, v) =>
      (id + 100000L, v.map(x => x + 0.02f * qrnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }
  private def plantedHits(top: Map[Long, Set[Long]]): Int =
    plantedSrcs.count { case (id, _) =>
      top.getOrElse(id + 100000L, Set.empty[Long]).contains(id) }

  test("PQ: codes are bounded and deterministic; planted neighbors surface in top-5") {
    import spark.implicits._
    val corpus = uniform10k
    val srcRows = plantedSrcs
    val queries = plantedQueries

    val model = Similarity.trainPq(corpus, m = 4, ksub = 64, iters = 3)
    assert(model.dsub == 4 && model.codebooks.length == 4 &&
      model.codebooks.forall(_.length == 64))
    val codes = Similarity.pqEncode(corpus, model).cache()
    val rows = codes.collect()
    assert(rows.forall { r =>
      val c = r.getSeq[Int](1); c.length == 4 && c.forall(x => x >= 0 && x < 64)
    }, "codes must be m ints in [0, ksub)")
    // deterministic: re-encoding under a different partitioning is identical
    val again = Similarity.pqEncode(corpus.repartition(7), model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows.forall(r => again(r.getLong(0)) == r.getSeq[Int](1)))

    val top = Similarity.pqKnn(queries, codes, model, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = plantedHits(top)
    assert(hits >= 18, // >= 90% of 20 planted neighbors inside PQ top-5
      s"planted-neighbor recall too low: $hits/20")
  }

  test("stored IVF-PQ index prunes partitions, scans codes only, keeps planted recall") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Similarity.saveIvfPqIndex(uniform10k, dir, nlist = 16, m = 4, ksub = 64,
      replicate = 2)
    // layout: cell partitions holding CODES, no raw vectors on disk
    val cells = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cells.length == 16, s"expected 16 cell partitions, got ${cells.toSeq}")
    val schema = spark.read.parquet(s"$dir/corpus").schema.fieldNames.toSet
    assert(schema == Set("neighbor_id", "pq_code", "cell"),
      s"compressed layout must not store vectors: $schema")
    val served = Similarity.quantizedKnnStored(spark, dir, plantedQueries,
      k = 5, nprobe = 4)
    val top = served.collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = plantedHits(top)
    assert(hits >= 18, s"IVF-PQ planted-neighbor recall too low: $hits/20")
    // probed cells only: the collected probe set lands as a literal IN
    // inside PartitionFilters (static pruning — stronger than DPP, which
    // declines local-relation build sides)
    val scanLine = served.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("Scan parquet") && l.contains("corpus"))
    assert(scanLine.exists(l => l.contains("PartitionFilters: [") &&
      (l.contains(" INSET ") || l.contains(" IN ("))),
      s"index scan is not partition-pruned:\n${scanLine.getOrElse("<no scan>")}")
    // pointing the flat reader at a PQ layout fails with a named error
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfKnnStored(spark, dir, plantedQueries, k = 5).collect()
    }
    assert(err.getMessage.contains("quantizedKnnStored"))
    // delta append: exact copies of the planted sources under fresh ids
    // get assigned, residual-encoded against the frozen model, and
    // surface next to their originals — the index itself never rewritten
    import spark.implicits._
    val copies = plantedSrcs.toSeq.map { case (id, v) => (id + 200000L, v) }
      .toDF("vec_id", "embedding")
    Similarity.appendToQuantizedIndex(copies, dir, replicate = 2)
    val top2 = Similarity.quantizedKnnStored(spark, dir, plantedQueries,
      k = 5, nprobe = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val copyHits = plantedSrcs.count { case (id, _) =>
      top2.getOrElse(id + 100000L, Set.empty[Long]).contains(id + 200000L) }
    assert(copyHits >= 18, s"appended copies not findable: $copyHits/20")
  }

  test("IVF-PQ exact re-rank: exhaustive candidates reproduce brute force; refinement keeps recall") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_refine").toString
    Similarity.saveIvfPqIndex(uniform10k, dir, nlist = 16, m = 4, ksub = 64,
      replicate = 2)
    // LAW: with every cell probed and k·refine covering the whole corpus,
    // every vector is a candidate, so the exact re-rank IS brute force —
    // row-for-row, rank-for-rank, bit-for-bit on the cosine
    val refined = Similarity.quantizedKnnRefined(spark, dir, plantedQueries,
      uniform10k, k = 5, refine = 2000, nprobe = 16)
    val brute = Similarity.bruteKnn(plantedQueries, uniform10k, k = 5)
    assert(refined.except(brute).isEmpty && brute.except(refined).isEmpty,
      "exhaustive-candidate refine must equal brute-force kNN exactly")
    // modest refine never loses a planted hit the compressed probe found
    // (candidates are a superset of the unrefined top-k, and the source
    // has near-max exact cosine once nominated)
    def hits(df: org.apache.spark.sql.DataFrame): Int = plantedHits(
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    val plain = hits(
      Similarity.quantizedKnnStored(spark, dir, plantedQueries, k = 5, nprobe = 4))
    val ref4 = hits(Similarity.quantizedKnnRefined(spark, dir, plantedQueries,
      uniform10k, k = 5, refine = 4, nprobe = 4))
    assert(ref4 >= plain && ref4 >= 18,
      s"refined recall $ref4/20 regressed below unrefined $plain/20")
  }

  test("quality classifier separates corpus from salted garbage; scoring is partition-invariant") {
    import graft.operators.Quality
    import spark.implicits._
    val d = docs.select(col("doc_id"), col("text"))
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
    val model = Quality.trainQualityClassifier(train, "text", "label",
      numFeatures = 1 << 16, maxIter = 10)
    val scored = Quality.scoreQuality(model, test, "doc_id", "text")
      .join(test.select("doc_id", "label"), "doc_id").cache()
    val rows = scored.collect()
    assert(rows.forall { r =>
      val q = r.getDouble(1); q >= 0.0 && q <= 1.0 })
    val acc = rows.count(r =>
      (if (r.getDouble(1) >= 0.5) 1 else 0) == r.getInt(2)).toDouble / rows.length
    assert(acc >= 0.95, s"held-out accuracy $acc < 0.95")
    // fitted model scores are a pure per-row projection: partitioning
    // must not change a single rounded score
    val a = Quality.scoreQuality(model, test, "doc_id", "text")
      .orderBy("doc_id").collect()
    val b = Quality.scoreQuality(model, test.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("dedupReport counts clusters per group and reconciles with dropNearDups") {
    import spark.implicits._
    // groups: ga has a 3-cluster {1,2,3} + singleton 4; gb has a
    // 2-cluster {5,6} + singletons 7,8 — pairs given directly so the
    // report is pinned independent of any similarity method
    val docsDf = Seq(
      (1L, "ga"), (2L, "ga"), (3L, "ga"), (4L, "ga"),
      (5L, "gb"), (6L, "gb"), (7L, "gb"), (8L, "gb"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val rep = Dedup.dedupReport(docsDf, pairs, "doc_id", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rep("ga") == ((4L, 3L, 2L, 0.5)))
    assert(rep("gb") == ((4L, 2L, 1L, 0.25)))
    // reconciliation law: per group, n_docs - n_dropped == survivors
    val survivors = Dedup.dropNearDups(docsDf, pairs, "doc_id")
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.forall { case (g, (n, _, dropped, _)) =>
      survivors(g) == n - dropped })
  }

  test("bm25 store: refresh equals a from-scratch index; re-ingest fails fast") {
    import graft.operators.Corpus
    import spark.implicits._
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val root = java.nio.file.Files.createTempDirectory("bm25_store").toString + "/idx"
    Corpus.saveBm25Store(docsDf.filter(col("doc_id") < 250),
      "doc_id", "text", root)
    Corpus.refreshBm25Store(docsDf.filter(col("doc_id") >= 250),
      "doc_id", "text", root)
    val qs = Seq((1L, "spark table scan"), (2L, "customer value"))
      .toDF("query_id", "qtext")
    val stored = Corpus.bm25SearchStored(spark, root, qs,
      "query_id", "qtext", k = 8).orderBy("query_id", "rank").collect()
    val oneShot = Corpus.bm25Search(
      Corpus.bm25Index(docsDf, "doc_id", "text"), qs,
      "query_id", "qtext", k = 8).orderBy("query_id", "rank").collect()
    assert(stored.sameElements(oneShot),
      "incrementally-built store must rank exactly like a full rebuild")
    // double-create and overlapping-id refresh both fail before writing
    intercept[IllegalArgumentException] {
      Corpus.saveBm25Store(docsDf.limit(1), "doc_id", "text", root)
    }
    val before = Corpus.bm25SearchStored(spark, root, qs,
      "query_id", "qtext", k = 8).collect()
    val err = intercept[IllegalArgumentException] {
      Corpus.refreshBm25Store(docsDf.filter(col("doc_id") === 7),
        "doc_id", "text", root)
    }
    assert(err.getMessage.contains("insert-only"))
    val after = Corpus.bm25SearchStored(spark, root, qs,
      "query_id", "qtext", k = 8).collect()
    assert(before.sameElements(after), "failed refresh must leave the store untouched")
    // probe pushdown: the literal term filter reaches the postings scan
    val probe = Corpus.bm25SearchStored(spark, root,
      Seq((1L, "spark")).toDF("query_id", "qtext"), "query_id", "qtext", k = 3)
    probe.collect()
    val scans = probe.queryExecution.executedPlan.toString
    // a 1-term isin folds to EqualTo; multi-term plans push In
    assert(scans.contains("EqualTo(term,spark)") || scans.contains("In(term"),
      s"query terms must push into the postings scan:\n$scans")
  }

  test("heavy-hitter cube ingest: equals rebuild at large k, compresses beyond k") {
    import graft.operators.Sketches
    import spark.implicits._
    def tok(rows: Seq[(String, String)]) = rows.toDF("g", "term")
    val a = tok(Seq.fill(30)("d1" -> "hot") ++ Seq.fill(5)("d1" -> "warm")
      ++ Seq.fill(4)("d2" -> "x"))
    val b = tok(Seq.fill(30)("d1" -> "hot") ++ Seq.fill(20)("d1" -> "warm")
      ++ Seq.fill(3)("d1" -> "cool") ++ (1 to 6).map(i => "d3" -> s"t$i"))
    // large k: incrementally-maintained store == from-scratch rebuild,
    // including cells the build never saw (d3) and untouched cells (d2)
    val store = java.nio.file.Files.createTempDirectory("hh_cube").toString + "/c"
    Sketches.termSummaryAtGrain(a, Seq("g"), "term", k = 64)
      .write.partitionBy("g").parquet(store)
    val touched = Sketches.ingestTermSummary(spark, store, b,
      Seq("g"), "term", "g", k = 64)
    assert(touched == 2) // d1 merged, d3 created; d2 untouched
    def cellsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("g") ->
        ((r.getAs[Map[String, Long]]("term_mg"), r.getAs[Long]("n_items"))))
      .toMap
    val maintained = cellsOf(spark.read.parquet(store))
    val rebuilt = cellsOf(
      Sketches.termSummaryAtGrain(a.unionByName(b), Seq("g"), "term", k = 64))
    assert(maintained == rebuilt,
      s"maintained store diverged from rebuild:\n$maintained\nvs\n$rebuilt")
    // rollup from the maintained store is the exact top-k
    val top = Sketches.rollupHeavyHitters(spark.read.parquet(store),
      Seq.empty, "term_mg", k = 64, topK = 2).orderBy("rank").collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("hot", 60L), ("warm", 25L)))
    // small k: a merged cell beyond k compresses with the MG cut — size
    // stays bounded, the heavy term survives, bound covers the est gap
    val store2 = java.nio.file.Files.createTempDirectory("hh_cube2").toString + "/c"
    Sketches.termSummaryAtGrain(a, Seq("g"), "term", k = 2)
      .write.partitionBy("g").parquet(store2)
    Sketches.ingestTermSummary(spark, store2, b, Seq("g"), "term", "g", k = 2)
    val d1 = cellsOf(spark.read.parquet(store2))("d1")
    assert(d1._1.size <= 2, s"merged cell must stay <= k entries: $d1")
    assert(d1._1.contains("hot"), s"majority term evicted by the merge cut: $d1")
    assert(d1._2 == 88L) // 35 from the build + 53 from the delta
    assert(d1._1("hot") <= 60L && d1._1("hot") >= 60L - 88L / 3,
      s"hot estimate outside the n/(k+1) bound: $d1")
  }

  test("sliding distinct from stored cells: correct unions, ends only on stored days") {
    import graft.operators.Sketches
    import spark.implicits._
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // Jan1 {1,2}; Jan2 {2,3}; Jan5 {9} — a gap so phantom ends would show
    val ev = Seq(
      (d("2024-01-01"), 1L), (d("2024-01-01"), 2L),
      (d("2024-01-02"), 2L), (d("2024-01-02"), 3L),
      (d("2024-01-05"), 9L)).toDF("day", "user_id")
    val cells = Sketches.distinctSketchAtGrain(ev, Seq("day"), "user_id")
    val slid = Sketches.slidingDistinct(cells, "day", width = 2,
      "user_id_sketch")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // HLL is exact at these cardinalities (sparse mode)
    assert(slid == Map(
      "2024-01-01" -> 2L,  // {1,2}
      "2024-01-02" -> 3L,  // {1,2,3} — union across the 2-day window
      "2024-01-05" -> 1L), // {9}; Jan3/Jan6 must NOT appear (no data day)
      s"got $slid")
    // width=1 degenerates to the per-day rollup
    val daily = Sketches.slidingDistinct(cells, "day", width = 1,
      "user_id_sketch")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(daily == Map("2024-01-01" -> 2L, "2024-01-02" -> 2L,
      "2024-01-05" -> 1L))
    // grouped: windows stay inside each group
    val ge = Seq(("a", d("2024-01-01"), 1L), ("b", d("2024-01-02"), 2L))
      .toDF("g", "day", "user_id")
    val gc = Sketches.distinctSketchAtGrain(ge, Seq("g", "day"), "user_id")
    val gs = Sketches.slidingDistinct(gc, "day", width = 7,
      "user_id_sketch", by = Seq("g"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2))
      .toMap
    assert(gs == Map(("a", "2024-01-01") -> 1L, ("b", "2024-01-02") -> 1L),
      s"group a's cell must not leak into group b's window: $gs")
  }

  test("heavy-hitter sketch cube: exact at large k, bounded with zero false negatives at small k") {
    import graft.operators.Sketches
    import spark.implicits._
    // planted stream: "hot" 60x, "warm" 25x, 15 singletons, split over 2 cells
    val rows = Seq.fill(60)("hot") ++ Seq.fill(25)("warm") ++
      (1 to 15).map(i => s"t$i")
    val d = rows.zipWithIndex
      .map { case (t, i) => (if (i % 2 == 0) "a" else "b", t) }
      .toDF("g", "term")
    // k >= vocab: cells are exact, rollup is the exact deterministic top-k
    val cellsBig = Sketches.termSummaryAtGrain(d, Seq("g"), "term", k = 100)
    assert(cellsBig.count() == 2)
    val grand = Sketches.rollupHeavyHitters(
      cellsBig, Seq.empty, "term_mg", k = 100, topK = 2)
      .orderBy("rank").collect()
    assert(grand.map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq(("hot", 60L, 1), ("warm", 25L, 2)))
    assert(grand.forall(_.getLong(3) == 0L)) // floor(100/101) = 0
    // grouped path: per-cell top-1 from the same stored cells
    val per = Sketches.rollupHeavyHitters(
      cellsBig, Seq("g"), "term_mg", k = 100, topK = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(per == Map("a" -> "hot", "b" -> "hot"))
    // small k: summaries stay bounded, the true heavy hitter survives with
    // its est within the advertised undercount bound
    val cells = Sketches.termSummaryAtGrain(
      d.repartition(5), Seq("g"), "term", k = 4)
    val maps = cells.select("term_mg").collect()
      .map(_.getMap[String, Long](0))
    assert(maps.forall(_.size <= 4), "MG cell must hold at most k entries")
    val hh = Sketches.rollupHeavyHitters(
      cells, Seq.empty, "term_mg", k = 4, topK = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    assert(hh.contains("hot"), s"share-12%-above-1/(k+1) term must survive: $hh")
    val (est, rank, bound) = hh("hot")
    assert(rank == 1)
    assert(bound == 20L, s"floor(100/5) bound, got $bound") // 100 items, k=4
    assert(est <= 60L && est >= 60L - bound, s"est $est outside [40, 60]")
  }

  test("frequentTerms: exact threshold set, invariant to partitioning") {
    import graft.operators.Corpus
    import spark.implicits._
    // 60 docs: "hot" in every doc, "warm" in half, long unique tail
    val docsDf = (0 until 60).map { i =>
      val warm = if (i % 2 == 0) " warm" else ""
      (i.toLong, s"hot$warm unique_${i}_a unique_${i}_b unique_${i}_c")
    }.toDF("doc_id", "text")
    // n = 60 + 30 + 180 = 270 tokens; minShare 0.1 -> minCount 27:
    // hot (60) and warm (30) qualify, the tail never does
    def run(parts: Int) =
      Corpus.frequentTerms(docsDf.repartition(parts), "text",
        k = 16, minShare = 0.1)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map("hot" -> 60L, "warm" -> 30L)
    assert(run(1) == expected, s"got ${run(1)}")
    assert(run(7) == expected, "result must not depend on partitioning")
    // threshold below the MG guarantee is a contract violation, not junk
    intercept[IllegalArgumentException] {
      Corpus.frequentTerms(docsDf, "text", k = 4, minShare = 0.1)
    }
  }

  test("histogram cube: rollup of fine-grain cells equals the direct coarse histogram") {
    import graft.operators.Sketches
    import spark.implicits._
    val rows = (0 until 5000)
      .map(i => (i % 7, i % 3, (i % 113) * 1.7 - 20.0)) // spans below lo=0
      .toDF("g", "h", "v")
    val fine = Sketches.histogramAtGrain(rows, Seq("g", "h"), "v",
      lo = 0.0, width = 10.0, nBins = 16)
    val rolled = Sketches.rollupHistogram(fine, Seq("g"), "v_hist")
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val direct = Sketches.histogramAtGrain(rows, Seq("g"), "v",
      lo = 0.0, width = 10.0, nBins = 16)
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(rolled == direct,
      "element-wise merge of stored cells must equal recomputing at the coarse grain")
    // every value lands in exactly one bin (clamping loses nothing)
    assert(direct.values.map(_.sum).sum == 5000L)

    // NULLs are not counted
    val withNull = Sketches.histogramAtGrain(
      Seq(Some(5.0), None, Some(200.0)).toDF("v").withColumn("g", lit(1)),
      Seq("g"), "v", 0.0, 10.0, 4)
      .head.getSeq[Long](1)
    assert(withNull == Seq(1L, 0L, 0L, 1L),
      s"expected in-range + clamped-high only, got $withNull")

    // quantile estimate within one bin width of the exact percentile
    val uni = (0 until 10000).map(i => (1, i.toDouble)).toDF("g", "v")
    val hist = Sketches.histogramAtGrain(uni, Seq("g"), "v", 0.0, 100.0, 100)
    for (q <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val est = hist.select(
        Sketches.histogramQuantile(col("v_hist"), 0.0, 100.0, q))
        .head.getDouble(0)
      val exact = q * 9999.0
      assert(math.abs(est - exact) <= 100.0,
        f"q=$q: histogram estimate $est%.1f vs exact $exact%.1f off by more than one bin")
    }
    // empty histogram -> NULL estimate
    val empty = spark.sql("SELECT array(0L, 0L) AS h")
      .select(Sketches.histogramQuantile(col("h"), 0.0, 1.0, 0.5))
    assert(empty.head.isNullAt(0))
  }

  test("ivf rebuild retrains on corpus + appends and keeps appended vectors findable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebuild").toString
    Similarity.saveIvfIndex(seeded10k.filter(col("vec_id") < 200), dir,
      nlist = 8, replicate = 2)
    // batch-path append: ten relabeled vectors land inside the corpus dir
    val batchVecs = seeded10k.filter(col("vec_id") >= 300 && col("vec_id") < 310)
      .select((col("vec_id") + 699700L).as("vec_id"), col("embedding"))
    val (_, assign1) = Similarity.nearDupDelta(spark, dir, batchVecs,
      threshold = 0.95, nprobe = 4, replicate = 2, dim = 16)
    Similarity.appendToIvfIndex(assign1, dir)
    // streaming-path append: five more in an appends/batch=0 partition
    val streamVecs = seeded10k.filter(col("vec_id") >= 400 && col("vec_id") < 405)
      .select((col("vec_id") + 799600L).as("vec_id"), col("embedding"))
    val (_, assign2) = Similarity.nearDupDelta(spark, dir, streamVecs,
      threshold = 0.95, nprobe = 4, replicate = 2, dim = 16)
    assign2.write.partitionBy("cell").parquet(s"$dir/appends/batch=0")
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_rebuild2").toString
    Similarity.rebuildIvfIndex(spark, dir, dir2, nlist = 8, replicate = 2)
    // fresh layout: 8 retrained centroids; every distinct vector exactly
    // twice (replicate collapse before training, re-replication after)
    assert(spark.read.parquet(s"$dir2/centroids").count() == 8)
    val ids = spark.read.parquet(s"$dir2/corpus").select("neighbor_id")
    assert(ids.distinct().count() == 215, "rebuild lost or invented vectors")
    assert(ids.count() == 430, "replicate=2 should store each vector twice")
    // an exact re-ingest of a STREAMING-appended vector must drop against
    // the rebuilt index (probability-1 re-ingest contract) — proving the
    // appends/ partitions made it through the rebuild
    val again = streamVecs.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val (surv, _) = Similarity.nearDupDelta(spark, dir2, again,
      threshold = 0.95, nprobe = 4, replicate = 2, dim = 16)
    assert(surv.count() == 0,
      "re-ingest of an appended vector survived against the rebuilt index")
    // in-place rebuild is refused
    val inPlace = intercept[IllegalArgumentException] {
      Similarity.rebuildIvfIndex(spark, dir, dir, nlist = 8)
    }
    assert(inPlace.getMessage.contains("newPath"))
  }

  test("ivf layout validation: missing index dir and unpartitioned corpus fail fast with named errors") {
    import spark.implicits._
    val q = seeded10k.filter(col("vec_id") < 2)
    val missing = intercept[IllegalArgumentException] {
      Similarity.ivfKnnStored(spark, "/tmp/graft_no_such_index", q, k = 5)
    }
    assert(missing.getMessage.contains("not a saveIvfIndex layout"))
    val missingDelta = intercept[IllegalArgumentException] {
      Similarity.nearDupDelta(spark, "/tmp/graft_no_such_index", q, 0.9,
        dim = 16)
    }
    assert(missingDelta.getMessage.contains("not a saveIvfIndex layout"))
    // corpus written WITHOUT partitionBy("cell"): centroids valid, corpus not
    val dir = java.nio.file.Files.createTempDirectory("ivf_bad").toString
    Similarity.saveIvfIndex(seeded10k.limit(100), dir, nlist = 4, replicate = 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/corpus"), true)
    seeded10k.limit(10)
      .select(col("vec_id").as("neighbor_id"),
        Similarity.normalize(col("embedding")).as("cv"))
      .write.parquet(s"$dir/corpus")
    val bad = intercept[IllegalArgumentException] {
      Similarity.ivfKnnStored(spark, dir, q, k = 5)
    }
    assert(bad.getMessage.contains("cell"))
  }

  test("hot-bucket guard: 1k-identical clusters yield linear star candidates and still dedup to one") {
    import spark.implicits._
    val boiler = "the same boilerplate text repeated verbatim across every " +
      "cluster member with enough tokens to shingle properly"
    val d = ((0L until 1000L).map(i => (i, boiler)) ++ Seq(
      (5000L, "a completely different document about ships harbors and tides"),
      (5001L, "another unrelated text mentioning mountains valleys and rivers")))
      .toDF("doc_id", "text")
    // maxDf = None: the unguarded regime (prebuilt-index / small-corpus
    // path) where identical docs keep their shingles and collide on every
    // band — without the bucket guard this is 500k candidates per band
    val pairs = Dedup.minhashLsh(d, "doc_id", "text", maxDf = None)
    assert(pairs.count() == 999, "expected d-1 star pairs, not d²/2")
    assert(pairs.filter(col("i") === 0).count() == 999,
      "star pairs must all anchor at the bucket-min id")
    val kept = Dedup.dropNearDups(d, pairs.select("i", "j"), "doc_id")
    assert(kept.count() == 3) // cluster min + the two distinct docs
    // below the cap the semantics are unchanged: full enumeration
    val small = (0L until 100L).map(i => (i, boiler)).toDF("doc_id", "text")
    assert(Dedup.minhashLsh(small, "doc_id", "text", maxDf = None).count()
      == 100L * 99 / 2)
    // vector side: 1k identical embeddings through forced sign-LSH
    // bucketing share every (table, bucket) — same star degradation
    val vec = Array.tabulate(16)(i => (i + 1).toFloat)
    val vecs = (0L until 1000L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val vpairs = Similarity.nearDupPairs(vecs, 0.9, dim = 16,
      planes = 8, tables = 4)
    assert(vpairs.count() == 999, "expected d-1 star pairs on the vector side")
    assert(vpairs.filter(col("i") =!= 0).count() == 0)
  }

  test("sequence packing honors the budget up to one straddling doc per pack") {
    import graft.operators.Packing
    import spark.implicits._
    val budget = 100
    val d = Seq(
      // shard a: 40+40 fills pack 0 to 80; 50 straddles (starts at 80 -> pack 0)
      ("a", 1L, 40), ("a", 2L, 40), ("a", 3L, 50), ("a", 4L, 30),
      // shard b: a single doc larger than the budget gets its own pack
      ("b", 1L, 250), ("b", 2L, 10)
    ).toDF("src", "id", "tok")
    val packed = Packing.packByBudget(d, "id", col("tok"), budget, "src")
      .select("src", "id", "pack_seq")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(packed(("a", 1L)) == 0 && packed(("a", 2L)) == 0)
    assert(packed(("a", 3L)) == 0, "doc starting inside pack 0 stays in pack 0")
    assert(packed(("a", 4L)) == 1, "doc starting past the boundary opens pack 1")
    assert(packed(("b", 1L)) == 0 && packed(("b", 2L)) == 2,
      "oversized doc consumes whole budget multiples")
    // overhang contract on the real corpus: sum - last doc < budget
    val docsDf = docs.limit(200)
    val sm = Packing.packByBudget(docsDf, "doc_id",
      graft.functions.TextFunctions.nTokens(col("text")), 512, "source")
    val viol = sm.groupBy("source", "pack_seq")
      .agg(sum("pack_tokens").as("s"), max("pack_tokens").as("m"))
      .filter(col("s") - col("m") >= 512).count()
    assert(viol == 0, "a pack's pre-overhang fill must stay under the budget")
    // packs never span shards; assignment deterministic
    val again = Packing.packByBudget(d, "id", col("tok"), budget, "src")
      .select("src", "id", "pack_seq")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == packed)
  }

  test("funnel counts only strictly ordered stage completions") {
    import graft.operators.Events
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)), // full
      (2L, "view", ts(5)), (2L, "click", ts(4)),                          // click BEFORE view
      (3L, "view", ts(1)), (3L, "click", ts(2)),                          // no purchase
      (4L, "purchase", ts(1))                                             // purchase only
    ).toDF("user_id", "event_type", "ts")
    val f = Events.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(f == Map(1 -> 3L, 2 -> 2L, 3 -> 1L),
      s"expected view=3, click=2 (user 2's click precedes their view), purchase=1; got $f")
  }

  test("retentionCohorts: first-period cohorts, distinct-user offsets, size at offset 0") {
    import graft.operators.Events
    import spark.implicits._
    // weeks (Mondays): 2026-01-05, -12, -19
    val ts = (d: Int, h: Int) => java.sql.Timestamp.valueOf(f"2026-01-$d%02d $h%02d:00:00")
    val ev = Seq(
      // cohort W0: users 1,2. user1 active W0,W1,W2; user2 only W0 (twice —
      // multiple events in one period must count once)
      (1L, ts(5, 9)), (1L, ts(13, 9)), (1L, ts(20, 9)),
      (2L, ts(6, 9)), (2L, ts(7, 9)),
      // cohort W1: user 3, active W1 and W2
      (3L, ts(12, 9)), (3L, ts(21, 9))
    ).toDF("user_id", "ts")
    val m = Events.retentionCohorts(ev)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(m == Map(
      ("2026-01-05", 0) -> ((2L, 2L)),
      ("2026-01-05", 1) -> ((1L, 2L)),
      ("2026-01-05", 2) -> ((1L, 2L)),
      ("2026-01-12", 0) -> ((1L, 1L)),
      ("2026-01-12", 1) -> ((1L, 1L))), s"unexpected matrix $m")
    // law: offset 0 always equals cohort_size (a user is active in the
    // period that defines their cohort)
    assert(m.collect { case ((_, 0), (n, sz)) => n == sz }.forall(identity))
  }

  test("asofJoin attaches the latest at-or-before right row; strict excludes ties") {
    import graft.operators.Events
    import spark.implicits._
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val left = Seq(
      (1L, ts(2), "p0"), // ties right rid=100 exactly
      (1L, ts(5), "p1"), // after rid=101, before rid=103
      (2L, ts(1), "p2"), // BEFORE the key's only right row
      (3L, ts(4), "p3")  // key with no right rows at all
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts(2), 100L, 1.0),
      (1L, ts(4), 101L, 2.0),
      (1L, ts(7), 103L, 4.0),
      (2L, ts(3), 102L, 3.0)
    ).toDF("user_id", "ts", "rid", "rv")
    def picks(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select("tag", "asof_rid").collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
    val out = Events.asofJoin(left, right, Seq("user_id"), "ts", Seq("rid", "rv"))
    assert(out.columns.toSeq ==
      Seq("user_id", "ts", "tag", "asof_ts", "asof_rid", "asof_rv"))
    assert(picks(out) == Map("p0" -> 100L, "p1" -> 101L, "p2" -> -1L, "p3" -> -1L))
    // the matched right TIMESTAMP travels with its payload row
    val m = out.filter(col("tag") === "p1").select("asof_ts", "asof_rv").head
    assert(m.getTimestamp(0) == ts(4) && m.getDouble(1) == 2.0)
    // strict: the equal-timestamp right row becomes invisible
    val strict =
      Events.asofJoin(left, right, Seq("user_id"), "ts", Seq("rid", "rv"),
        strict = true)
    assert(picks(strict) == Map("p0" -> -1L, "p1" -> 101L, "p2" -> -1L, "p3" -> -1L))
    // forward: the NEXT right row at-or-after; strict skips the tie
    val fwd = Events.asofJoin(left, right, Seq("user_id"), "ts", Seq("rid", "rv"),
      forward = true)
    assert(picks(fwd) == Map("p0" -> 100L, "p1" -> 103L, "p2" -> 102L, "p3" -> -1L))
    // tolerance: p1's match (rid=101, 1 min back) survives a 1-minute
    // bound; a tie (0 back) always survives; EVERY asof_ column of a
    // too-stale match nulls together (ts included)
    val tol = Events.asofJoin(left, right, Seq("user_id"), "ts",
      Seq("rid", "rv"), tolerance = Some("1 minutes"))
    assert(picks(tol) == Map("p0" -> 100L, "p1" -> 101L, "p2" -> -1L, "p3" -> -1L))
    val tolTight = Events.asofJoin(left, right, Seq("user_id"), "ts",
      Seq("rid", "rv"), tolerance = Some("30 seconds"))
    assert(picks(tolTight) == Map("p0" -> 100L, "p1" -> -1L, "p2" -> -1L, "p3" -> -1L))
    val staleRow = tolTight.filter(col("tag") === "p1")
      .select("asof_ts", "asof_rv").head
    assert(staleRow.isNullAt(0) && staleRow.isNullAt(1),
      "stale match must null every asof_ column, not just the rank payload")
    // forward tolerance: p1 -> rid=103 is 2 min ahead, dropped at 1 min
    val tolFwd = Events.asofJoin(left, right, Seq("user_id"), "ts",
      Seq("rid", "rv"), forward = true, tolerance = Some("1 minutes"))
    assert(picks(tolFwd) == Map("p0" -> 100L, "p1" -> -1L, "p2" -> -1L, "p3" -> -1L))
    val fwdStrict = Events.asofJoin(left, right, Seq("user_id"), "ts",
      Seq("rid", "rv"), strict = true, forward = true)
    assert(picks(fwdStrict) ==
      Map("p0" -> 101L, "p1" -> 103L, "p2" -> 102L, "p3" -> -1L))
    // every left row survives exactly once (left-outer semantics)
    assert(out.count() == 4 && strict.count() == 4)
    // a genuine NULL inside the MATCHED row must stay NULL — per-column
    // running lasts would backfill it from an older right row (row tear)
    val rightN = Seq(
      (1L, ts(1), Option(200L)),
      (1L, ts(3), Option.empty[Long]) // the matched row carries NULL rid
    ).toDF("user_id", "ts", "rid")
    val torn = Events.asofJoin(
      Seq((1L, ts(5), "x")).toDF("user_id", "ts", "tag"),
      rightN, Seq("user_id"), "ts", Seq("rid")).head
    assert(torn.getTimestamp(torn.fieldIndex("asof_ts")) == ts(3) &&
        torn.isNullAt(torn.fieldIndex("asof_rid")),
      s"NULL payload field was backfilled from an older right row: $torn")
  }

  test("rangeJoin: half-open bands, overlaps, boundaries, negative values") {
    import graft.model.Joins
    import spark.implicits._
    val fact = Seq((1L, -0.5), (2L, 0.0), (3L, 9.99), (4L, 10.0), (5L, 25.0))
      .toDF("id", "v")
    val bands = Seq(
      ("neg", -5.0, 0.0), ("a", 0.0, 10.0), ("b", 10.0, 26.0),
      ("wide", 5.0, 26.0)
    ).toDF("band", "lo", "hi")
    val got = Joins.rangeJoin(fact, bands, "v", "lo", "hi", bucketWidth = 4.0)
      .select("id", "band").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "neg"),                 // negative value, negative band
      (2L, "a"),                   // lo is INCLUSIVE (0 ∉ [-5,0))
      (3L, "a"), (3L, "wide"),     // overlapping bands both match
      (4L, "b"), (4L, "wide"),     // hi is EXCLUSIVE (10 ∉ [0,10))
      (5L, "b"), (5L, "wide")))
    // a band narrower than one bucket still matches exactly
    val narrow = Seq(("tiny", 9.5, 10.5)).toDF("band", "lo", "hi")
    val got2 = Joins.rangeJoin(fact, narrow, "v", "lo", "hi", bucketWidth = 100.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got2 == Set(3L, 4L))
  }

  test("hash split is deterministic, exhaustive, and weight-proportional") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Sampling.assignSplit(docs, "doc_id", splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.assignSplit(docs, "doc_id", splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "split assignment must be run-stable")
    assert(a.size == docs.count(), "every row gets a split")
    val byName = a.values.groupBy(identity).view.mapValues(_.size)
    assert(byName.keySet == Set("train", "val", "test"))
    val trainFrac = byName("train").toDouble / a.size
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train fraction $trainFrac far from 0.8")
    // a different salt draws an INDEPENDENT split: some rows must move
    val salted = Sampling.assignSplit(docs, "doc_id", splits, salt = "v2")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(salted != a, "salt must change the draw")
    // weights are validated
    intercept[IllegalArgumentException] {
      Sampling.assignSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("hash samples are nested across rates and stratified rates hold") {
    val ids10 = docs.filter(Sampling.hashUniform(col("doc_id")) < 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ids30 = docs.filter(Sampling.hashUniform(col("doc_id")) < 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids10.subsetOf(ids30), "samples at growing rates must be nested")
    assert(ids30.size > ids10.size)
    // stratified: keep all of one language, none of the rest
    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
    val keep = langs.head
    val strat = Sampling.stratifiedHashSample(docs, "doc_id", "lang",
      Map(keep -> 1.0), defaultRate = 0.0)
    assert(strat.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq(keep))
    assert(strat.count() == docs.filter(col("lang") === keep).count())
    // and the filter is a pure projection — no shuffle in the plan
    val planStr = strat.queryExecution.executedPlan.toString
    assert(!planStr.contains("Exchange"), s"sampling must not shuffle:\n$planStr")
  }

  test("exact stratified sample hits quotas exactly and nests across quota sizes") {
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (small, big) = (bySource.keys.toSeq.sorted.head, bySource.keys.toSeq.sorted.last)
    val quotas = Map(small -> 7, big -> (bySource(big).toInt + 100))
    val out = Sampling.stratifiedExactSample(docs, "doc_id", "source", quotas)
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exactly the quota where the stratum is big enough, the whole
    // stratum where it isn't, nothing at all for unlisted strata
    assert(counts == Map(small -> 7L, big -> bySource(big)),
      s"quota violation: $counts")
    // deterministic and prefix-monotone: a larger quota only ADDS rows
    val ids7 = out.filter(col("source") === small)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ids12 = Sampling.stratifiedExactSample(docs, "doc_id", "source",
        Map(small -> 12)).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids7.subsetOf(ids12), "quota growth must nest the sample")
    assert(ids12.size == 12)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedExactSample(docs, "doc_id", "source", Map(small -> -1))
    }
  }

  test("16-bit PCM decode honors signedness and endianness") {
    // unsigned midpoint 0x8000 is SILENCE: two's-complement decoding would
    // map it to -1.0 (the round-6 advice bug). Little-endian bytes.
    val silenceU = Array[Byte](0x00, 0x80.toByte)
    assert(Multimodal.pcmToMono(silenceU, 16, 1, unsigned = true, bigEndian = false)
      .head == 0.0f)
    // unsigned full-scale extremes land on ±1 (8000 above midpoint = 0x0000)
    assert(Multimodal.pcmToMono(Array[Byte](0, 0), 16, 1, unsigned = true,
      bigEndian = false).head == -1.0f)
    assert(Multimodal.pcmToMono(Array[Byte](0xff.toByte, 0xff.toByte), 16, 1,
      unsigned = true, bigEndian = false).head > 0.999f)
    // signed: 0x4000 = +0.5 in both endiannesses
    assert(Multimodal.pcmToMono(Array[Byte](0x00, 0x40), 16, 1,
      unsigned = false, bigEndian = false).head == 0.5f)
    assert(Multimodal.pcmToMono(Array[Byte](0x40, 0x00), 16, 1,
      unsigned = false, bigEndian = true).head == 0.5f)
    // unsigned big-endian midpoint
    assert(Multimodal.pcmToMono(Array[Byte](0x80.toByte, 0x00), 16, 1,
      unsigned = true, bigEndian = true).head == 0.0f)
  }

  test("cosine is symmetric and self-similarity is 1") {
    import spark.implicits._
    val two = emb.limit(2).collect()
    val a = two(0).getSeq[Float](two(0).fieldIndex("embedding")).toArray
    val b = two(1).getSeq[Float](two(1).fieldIndex("embedding")).toArray
    val df = Seq((a, b)).toDF("x", "y")
    val r = df.select(
      Similarity.cosine(col("x"), col("y")).as("xy"),
      Similarity.cosine(col("y"), col("x")).as("yx"),
      Similarity.cosine(col("x"), col("x")).as("xx")).head()
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
  }

  test("null array elements propagate to a null result, never garbage") {
    import graft.functions.VectorExpressions
    // parquet arrays are containsNull=true; a null slot must not be read as
    // 0.0/garbage by the codegen'd getDouble loops (ADVICE r03)
    val df = spark.sql(
      "select array(1.0d, cast(null as double), 2.0d) as bad, " +
        "array(3.0d, 4.0d) as good")
    val r = df.select(
      VectorExpressions.dotp(col("bad"), col("bad")).as("d_bad"),
      VectorExpressions.l2normalize(col("bad")).as("n_bad"),
      VectorExpressions.dotp(col("good"), col("good")).as("d_good"),
      VectorExpressions.l2normalize(col("good")).as("n_good")).head()
    assert(r.isNullAt(0), "dot_product over a null element must be null")
    assert(r.isNullAt(1), "l2_normalize over a null element must be null")
    assert(r.getDouble(2) == 25.0)
    assert(math.abs(r.getSeq[Double](3).head - 0.6) < 1e-12)
  }

  test("session_window and gaps-and-islands sessionization agree on counts") {
    val ev = graft.sources.Sources.readEvents(spark, sfDir)
    val a = Events.sessions(ev, "30 minutes").count()
    val b = Events.sessionsSql(ev, 30).count()
    assert(a == b)
  }

  test("real PNG bytes decode to width/height-correct features; garbage falls back") {
    import java.awt.image.BufferedImage
    import spark.implicits._
    val img = new BufferedImage(7, 5, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 7)
      img.setRGB(x, y, ((x * 37 + y * 53) % 256) * 0x010101)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val garbage = Array[Byte](1, 2, 3, 4)
    val media = Seq((1L, png), (2L, garbage)).toDF("media_id", "content")
    val fs = Multimodal.extractFeatures(media, dim = 8).collect()
      .map(f => f.media_id -> f).toMap
    // decoded path: resolution comes from the REAL raster, histogram sums to 1
    assert(fs(1L).features(0) == 7.0f, "decoded width")
    assert(fs(1L).features(1) == 5.0f, "decoded height")
    assert(math.abs(fs(1L).features.drop(3).sum - 1.0f) < 1e-5, "histogram mass")
    assert(fs(1L).n_bytes == png.length)
    // undecodable bytes: deterministic fake, bit-identical to decodeStub
    assert(fs(2L).features.sameElements(Multimodal.decodeStub(garbage, 8)))
  }

  test("multimodal feature extraction is deterministic with stable shape") {
    val media = syntheticMedia(30)
    assert(media.schema("content").dataType.typeName == "binary")
    val f1 = Multimodal.extractFeatures(media, dim = 8).collect()
      .sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media, dim = 8).collect()
      .sortBy(_.media_id)
    assert(f1.length == 30)
    assert(f1.forall(_.features.length == 8))
    assert(f1.zip(f2).forall { case (x, y) => x.features.sameElements(y.features) })
  }

  test("multimodal features compose with similarity search end-to-end") {
    // decode (stub) -> feature vectors -> brute kNN over them: the full
    // media-dedup pipeline shape with only the codec faked
    val media = syntheticMedia(40)
    val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
      .select(col("media_id").as("vec_id"), col("features").as("embedding"))
    val q = feats.filter(col("vec_id") < 2)
    val knn = Similarity.bruteKnn(q, feats, k = 3)
    val rows = knn.collect()
    assert(rows.length == 2 * 3)
    assert(rows.forall(_.getInt(2) <= 3)) // rank column
  }

  test("resize re-encodes real PNGs at the target dims; garbage passes through null") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      while (i < w * h) { img.setRGB(i % w, i / w, i * 2654435761L.toInt); i += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, png(64, 64)), (2L, png(33, 17)),
      (3L, Array.fill[Byte](16)(0x7f)) // not an image
    ).toDF("media_id", "content")
    val out = Multimodal.resizeImages(media, 16, 16).collect()
      .map(r => r.media_id -> r).toMap
    for (id <- Seq(1L, 2L)) {
      val decoded = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(out(id).content))
      assert(decoded.getWidth == 16 && decoded.getHeight == 16,
        s"media $id must re-decode at the target dims")
      assert(out(id).width == 16 && out(id).height == 16)
    }
    assert(out(3L).content == null && out(3L).width == 0,
      "undecodable bytes pass through as null, not an exception")
    // deterministic: same input bytes -> same output bytes
    val again = Multimodal.resizeImages(media, 16, 16).collect()
      .map(r => r.media_id -> r).toMap
    assert(java.util.Arrays.equals(out(1L).content, again(1L).content))
  }

  test("MJPEG AVI round-trips: real frames, timing, and feature routing") {
    def frame(brightness: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(brightness, brightness, brightness))
      g.fillRect(0, 0, 32, 24)
      g.dispose()
      img
    }
    val avi = Multimodal.encodeMjpegAvi(
      (1 to 6).map(i => frame(i * 40)), microsPerFrame = 40000L)
    val clip = Multimodal.decodeVideo(avi).get
    assert(clip.frames.length == 6, "all six JPEG frames demux")
    assert(clip.frames.head.getWidth == 32 && clip.frames.head.getHeight == 24)
    assert(clip.microsPerFrame == 40000L, "avih timing survives the round trip")
    assert(clip.durationMs == 240L)
    // feature routing: AVI bytes take the REAL video path, not the stub
    val feats = Multimodal.decodeFeatures(avi, dim = 10)
    assert(feats(0) == 6.0f && feats(1) == 25.0f &&
      feats(2) == 32.0f && feats(3) == 24.0f,
      s"header features must be (frames, fps, w, h): ${feats.toSeq}")
    // sampled mean luminance rises with the planted brightness ramp
    assert(feats(4) < feats(9), s"luminance ramp lost: ${feats.toSeq}")
    // garbage and truncation degrade, never throw
    assert(Multimodal.decodeVideo(Array.fill[Byte](64)(0x11)).isEmpty)
    val truncated = java.util.Arrays.copyOf(avi, avi.length / 2)
    val partial = Multimodal.decodeVideo(truncated)
    assert(partial.forall(_.frames.length < 6),
      "truncated container yields at most the whole frames before the cut")
    // corrupt chunk size near Int.MaxValue: Int arithmetic would wrap the
    // cursor negative and throw (confirmed crash) — must degrade to None
    val evil = new Array[Byte](100)
    System.arraycopy("RIFF".getBytes("US-ASCII"), 0, evil, 0, 4)
    evil(4) = 0x58; evil(5) = 0; evil(6) = 0; evil(7) = 0 // riff size 88
    System.arraycopy("AVI JUNK".getBytes("US-ASCII"), 0, evil, 8, 8)
    evil(16) = -1; evil(17) = -1; evil(18) = -1; evil(19) = 0x7f // size 0x7FFFFFFF
    assert(Multimodal.decodeVideo(evil).isEmpty,
      "overflowing chunk size must decode to None, not crash")
    // deeply nested LIST chunks: an unbounded recursive walk would
    // StackOverflowError (fatal, past NonFatal) — the depth cap must
    // degrade gracefully instead
    val levels = 200000
    val nested = new Array[Byte](12 + 12 * levels)
    def putU32(off: Int, v: Int): Unit = {
      nested(off) = (v & 0xff).toByte
      nested(off + 1) = ((v >> 8) & 0xff).toByte
      nested(off + 2) = ((v >> 16) & 0xff).toByte
      nested(off + 3) = ((v >> 24) & 0xff).toByte
    }
    System.arraycopy("RIFF".getBytes("US-ASCII"), 0, nested, 0, 4)
    putU32(4, nested.length - 8)
    System.arraycopy("AVI ".getBytes("US-ASCII"), 0, nested, 8, 4)
    var off = 12
    var k = 0
    while (k < levels) {
      System.arraycopy("LIST".getBytes("US-ASCII"), 0, nested, off, 4)
      putU32(off + 4, 4 + 12 * (levels - 1 - k)) // payload: type + inner LIST
      System.arraycopy("mdat".getBytes("US-ASCII"), 0, nested, off + 8, 4)
      off += 12
      k += 1
    }
    assert(Multimodal.decodeVideo(nested).isEmpty,
      "deeply nested LISTs must degrade to None, not StackOverflow")
  }

  test("video near-dup: majority hash survives one edited frame, not a recut") {
    import spark.implicits._
    def frame(seed: Long, invert: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 64) {
        var x = 0
        while (x < 64) {
          var z = ((x / 8) + (y / 8) * 8 + seed * 64) * 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z ^= z >>> 31
          val bright = ((z & 0x7fffffffL) % 3 == 0) ^ invert
          val v = if (bright) 220 else 30
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      img
    }
    def avi(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] =
      Multimodal.encodeMjpegAvi(frames, 40000L)
    val base = (0 until 3).map(f => frame(f, invert = false))
    // edited copy: a small corner edit in ONE frame (the q57 plant shape —
    // a fully different frame would flip the A0/A2-tie bits and push the
    // majority hash past any tight threshold)
    val edited = {
      val f1 = frame(1, invert = false)
      var i = 0
      while (i < 6) { f1.setRGB(i, 0, 0xffffff); i += 1 }
      Seq(base(0), f1, base(2))
    }
    val media = Seq(
      (1L, avi(base)),
      (2L, avi(edited)),
      (3L, avi((0 until 3).map(f => frame(f, invert = true)))) // inverted: far
    ).toDF("media_id", "content")
    val pairs = Multimodal.videoNearDupPairs(media, maxHamming = 8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"one-frame edit must pair, inversion must not: $pairs")
  }

  test("chunking covers every token; stride=width partitions exactly") {
    import graft.operators.Chunking
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 tokens
      (2L, "a b c"), // shorter than one window
      (3L, "solo"),
      (4L, null.asInstanceOf[String]) // NULL text: dropped, never a crash
    ).toDF("doc_id", "text")
    // overlapping windows: width 8, stride 5 -> starts 0,5,...,95
    val c = Chunking.chunkByTokens(d, "doc_id", "text", width = 8, stride = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val doc1 = c.filter(_._1 == 1L).sortBy(_._2)
    assert(doc1.length == 20, "starts are multiples of 5 below 100")
    assert(doc1.init.forall(_._3 == 8), "all but the last chunk are full width")
    assert(doc1.last._3 == 5, "trailing window clamps at the document end")
    // consecutive chunks overlap by width - stride = 3 tokens
    val (c0, c1) = (doc1(0)._4.split(" "), doc1(1)._4.split(" "))
    assert(c0.takeRight(3).sameElements(c1.take(3)))
    assert(c.filter(_._1 == 2L).map(_._4).toSeq == Seq("a b c"))
    assert(c.filter(_._1 == 3L).map(_._4).toSeq == Seq("solo"))
    // NULL text degrades the row (size(NULL) is -1 under non-ANSI SQL and
    // would otherwise crash the sequence bound), matching the oracle drop
    assert(!c.exists(_._1 == 4L), "NULL-text doc yields zero chunks")
    // stride = width: disjoint chunks reconstruct the token stream exactly
    val parts = Chunking.chunkByTokens(d, "doc_id", "text", width = 8, stride = 8)
      .orderBy("doc_id", "chunk_idx")
      .groupBy("doc_id").agg(concat_ws(" ", collect_list("chunk_text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(parts(1L) == (1 to 100).map(i => s"t$i").mkString(" "))
  }

  test("duplicate-ngram share: exact copies score 1, unique text scores low") {
    import graft.operators.Corpus
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq(
      (1L, boiler), (2L, boiler), // planted exact pair: every 3-gram shared
      (3L, "entirely original words nobody else uses anywhere whatsoever today"),
      (4L, "tiny") // short-doc fallback: whole text as the single shingle
    ).toDF("doc_id", "text")
    val s = Corpus.duplicateNgramShare(d, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(s(1L)._3 == 1.0 && s(2L)._3 == 1.0, "exact copies share every n-gram")
    assert(s(3L)._3 == 0.0, "unique text shares none")
    assert(s(4L) == ((1L, 0L, 0.0)), "short doc contributes its full-text shingle")
    assert(s.values.forall(v => v._3 >= 0.0 && v._3 <= 1.0 && v._2 <= v._1))
  }

  test("bloom decontamination: no false negatives, planted leak found, no join in the probe plan") {
    import graft.operators.{Decontaminate, Dedup}
    import spark.implicits._
    val evalSet = Seq(
      (1L, "the held out benchmark question about astrophysics and entropy"),
      (2L, "a second eval prompt nobody should train on ever")
    ).toDF("doc_id", "text")
    val train = Seq(
      // planted leak: eval doc 1 verbatim inside a training doc
      (10L, "prefix words then the held out benchmark question about astrophysics and entropy trailing"),
      (11L, "completely unrelated training text about cooking pasta slowly"),
      (12L, "a second eval prompt nobody should train on ever") // exact copy
    ).toDF("doc_id", "text")
    val bloom = Decontaminate.ngramBloom(evalSet, "doc_id", "text", n = 3)

    // law: every eval gram probes true (Bloom filters cannot false-negative)
    val evalGrams = Dedup.docShingles(evalSet, "doc_id", "text", 3)
    val misses = evalGrams
      .filter(!Decontaminate.mightContain(bloom, col("s"))).count()
    assert(misses == 0, "an eval n-gram was not found in its own filter")
    // the at-scale path (caller-supplied cardinality, no count job, no
    // checkpoint) must build an equally sound filter
    val sizedBloom = Decontaminate.ngramBloom(evalSet, "doc_id", "text", n = 3,
      expectedItems = Some(64L))
    assert(evalGrams.filter(!Decontaminate.mightContain(sizedBloom, col("s")))
      .count() == 0, "expectedItems-sized filter lost an eval n-gram")

    val report = Decontaminate.bloomLeakReport(train, bloom, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(report(12L)._3 == 1.0, "verbatim eval copy must hit on every gram")
    assert(report(10L)._2 >= 7, "embedded eval text's grams must hit")
    assert(report(11L)._2 <= 1, "clean doc may see at most fp noise")
    // the probe plan is scan + aggregate: no join node anywhere
    val probePlan = Decontaminate.bloomLeakReport(train, bloom, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!probePlan.contains("Join"),
      s"bloom probe must not join against the eval set:\n$probePlan")
  }

  test("sample-to-budget saturates small sources and respects the hash membership") {
    import graft.operators.Sampling
    import spark.implicits._
    val d = (
      (1 to 50).map(i => ("big", i.toLong, Seq.fill(20)("w").mkString(" "))) ++
      (1 to 2).map(i => ("tiny", 100L + i, "a b c d e"))
    ).toDF("source", "doc_id", "text")
    val tok = graft.functions.TextFunctions.nTokens(col("text"))
    // budget >> tiny source's mass: its rate saturates at 1 (keep all)
    val out = Sampling.sampleToBudget(d, "doc_id", "source", tok,
      budgetTokens = 500L, temperature = 0.7)
    assert(out.filter(col("source") === "tiny").count() == 2,
      "a source smaller than its budget share must be kept whole")
    // membership is the deterministic hash: rerun is identical
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.sampleToBudget(d, "doc_id", "source", tok, 500L, 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // big source is subsampled, not dropped and not kept whole
    val nBig = out.filter(col("source") === "big").count()
    assert(nBig > 0 && nBig < 50, s"big source should thin out, kept $nBig")
    // null source and null text must contribute nothing, not crash the
    // driver-side rate build (null-key group row / null token sum)
    val dirty = d.unionByName(Seq(
      (null.asInstanceOf[String], 900L, "x y z"),
      ("ghost", 901L, null.asInstanceOf[String])
    ).toDF("source", "doc_id", "text"))
    val dirtyOut = Sampling.sampleToBudget(dirty, "doc_id", "source", tok,
      budgetTokens = 500L, temperature = 0.7)
    assert(dirtyOut.filter(col("doc_id") >= 900L).count() == 0,
      "null-source / null-text rows sample at rate 0")
  }

  test("incremental exact dedup equals the plain anti-join on a planted delta") {
    import graft.operators.Dedup
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"), (3L, "eta theta iota")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha beta gamma"),      // verbatim dup
      (11L, "ALPHA   beta gamma "),   // dup after normalization (case+ws)
      (12L, "kappa lambda mu"),       // new
      (13L, "delta epsilon zeta new") // near but not exact -> new
    ).toDF("doc_id", "text")
    val out = Dedup.exactDelta(corpus, delta, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out == Map(10L -> 1, 11L -> 1, 12L -> 0, 13L -> 0))
    // law: identical to the unoptimized fingerprint anti-join
    val naive = delta
      .select(col("doc_id"), graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .join(corpus.select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp")),
        Seq("fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.filter(_._2 == 0).keySet == naive,
      "bloom prefilter changed the exact result")
  }

  test("mixing weights sum to 1 and T=1 recovers token proportions") {
    import graft.operators.Corpus
    import spark.implicits._
    val d = Seq(
      ("big", 1L, "a b c d e f g h"), ("big", 2L, "i j k l m n o p"), // 16 tokens
      ("small", 3L, "q r s t") // 4 tokens
    ).toDF("source", "doc_id", "text")
    val t1 = Corpus.mixingWeights(d, "source",
      graft.functions.TextFunctions.nTokens(col("text")), temperature = 1.0)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(t1("big") == ((16L, 0.8)) && t1("small") == ((4L, 0.2)))
    // T < 1 compresses toward uniform but keeps the order
    val t07 = Corpus.mixingWeights(d, "source",
      graft.functions.TextFunctions.nTokens(col("text")), temperature = 0.7)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(t07.values.sum - 1.0) < 1e-6)
    assert(t07("big") > t07("small") && t07("big") < 0.8,
      "temperature < 1 up-samples the small source")
  }

  test("kNN tolerates degenerate vectors: zero/null embeddings are not neighbors") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 0f, 0f, 0f)), // zero vector: NaN cosine
      (4L, null.asInstanceOf[Array[Float]]) // null embedding: null cosine
    ).toDF("vec_id", "embedding")
    val q = Seq((10L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    // null cos would crash the bounded aggregation's non-nullable input
    // encoder; NaN would rank FIRST under the window's desc but LAST
    // under Scala's total ordering — both are filtered, identically on
    // either path: an undefined similarity is not a neighbor
    val res = Similarity.bruteKnn(q, corpus, k = 4).collect()
    assert(res.map(_.getLong(1)).toSet == Set(1L, 2L),
      s"degenerate vectors must not rank: ${res.toSeq}")
    assert(res.forall(r => !r.getDouble(3).isNaN))
  }

  test("video decoder seam: a custom decoder is picked up; default still MJPEG-only") {
    import spark.implicits._
    def frame(v: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val c = if ((x + y) % 2 == 0) v else 255 - v
          img.setRGB(x, y, (c << 16) | (c << 8) | c); x += 1
        }
        y += 1
      }
      img
    }
    val avi = Multimodal.encodeMjpegAvi(Seq(frame(30)), 40000L)
    val magic = "XVID0".getBytes("US-ASCII") // only MagicVideoDecoder reads it
    val media = Seq((1L, avi), (2L, magic), (3L, Array.fill[Byte](16)(0x2a)))
      .toDF("media_id", "content")
    val default = Multimodal.videoHashes(media)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(default == Set(1L),
      s"default decoder must read exactly the AVI row: $default")
    val custom = Multimodal.videoHashes(media, decoder = MagicVideoDecoder)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(custom == Set(2L),
      s"custom decoder must be used instead of the default: $custom")
  }

  test("DIB-in-AVI: a real non-MJPEG codec round-trips exactly through the seam") {
    import spark.implicits._
    def frame(seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        10, 6, java.awt.image.BufferedImage.TYPE_INT_RGB) // stride padding exercised (10*3 = 30 -> 32)
      var y = 0
      while (y < 6) {
        var x = 0
        while (x < 10) {
          img.setRGB(x, y, ((x * 41 + seed) % 256 << 16) |
            ((y * 73 + seed) % 256 << 8) | ((x * y + seed) % 256))
          x += 1
        }
        y += 1
      }
      img
    }
    val frames = (0 until 3).map(f => frame(f * 17))
    val avi = Multimodal.encodeDibAvi(frames, microsPerFrame = 40000L)
    // the default decoder cannot read it: no JPEG SOI in any frame chunk
    assert(Multimodal.MjpegAviDecoder.decode(avi, 16).isEmpty,
      "MJPEG decoder unexpectedly read a DIB AVI")
    // the DIB decoder reads every frame with EXACT pixels (uncompressed)
    val clip = Multimodal.DibAviDecoder.decode(avi, 16).get
    assert(clip.frames.length == 3 && clip.microsPerFrame == 40000L)
    clip.frames.zip(frames).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got.getWidth == 10 && got.getHeight == 6)
      for (y <- 0 until 6; x <- 0 until 10)
        assert((got.getRGB(x, y) & 0xffffff) == (want.getRGB(x, y) & 0xffffff),
          s"pixel ($x,$y) of frame $i diverged")
    }
    // end-to-end through the operators: a DIB gallery with an edited copy
    // pairs up under videoNearDupPairs once the decoder is swapped in
    def gallery(edit: Boolean): Array[Byte] =
      Multimodal.encodeDibAvi((0 until 3).map { f =>
        val img = frame(f * 17)
        if (edit && f == 1) { var i = 0; while (i < 4) { img.setRGB(i, 0, 0xffffff); i += 1 } }
        img
      }, 40000L)
    val media = Seq((1L, gallery(false)), (2L, gallery(true)),
      (3L, Multimodal.encodeMjpegAvi(frames, 40000L)))
      .toDF("media_id", "content")
    // default decoder sees only the MJPEG row -> no pairs at all
    assert(Multimodal.videoNearDupPairs(media, maxHamming = 5).count() == 0)
    val pairs = Multimodal.videoNearDupPairs(media, maxHamming = 5,
      decoder = Multimodal.DibAviDecoder)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"expected exactly the planted DIB near-dup pair, got $pairs")
    // feature routing: decodeFeatures falls to the stub by default, real
    // video features through the seam
    val viaSeam = Multimodal.decodeFeatures(avi, 8, Multimodal.DibAviDecoder)
    assert(viaSeam(0) == 3.0f && viaSeam(2) == 10.0f && viaSeam(3) == 6.0f,
      s"n_frames/width/height must come from the real DIB decode: ${viaSeam.toSeq}")
    assert(!Multimodal.decodeFeatures(avi, 8).sameElements(viaSeam),
      "default routing must not accidentally equal the real decode")
  }
  test("keep-best dedup keeps the highest-score member, min id on ties") {
    import spark.implicits._
    // clusters: {1,2,3} (via 1-2, 2-3), {10,11}; 20 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val d = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0), // 2 and 3 tie on score -> keep 2
      (10L, 1.0), (11L, 7.0),          // 11 wins on score despite larger id
      (20L, 0.0)                       // unpaired: untouched
    ).toDF("doc_id", "score")
    val kept = Dedup.dropNearDupsKeepBest(d, pairs, "doc_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 11L, 20L), s"got $kept")
    // null scores lose to any real score; an all-null cluster keeps min id
    val dn = Seq(
      (1L, Some(1.0)), (2L, None), (3L, None), // 1 wins: only real score
      (10L, None), (11L, None)                 // all null -> min id 10
    ).toDF("doc_id", "score")
    val keptN = Dedup.dropNearDupsKeepBest(dn, pairs, "doc_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptN == Set(1L, 10L), s"got $keptN")
    // min-id policy and keep-best agree when score is -id
    val asMin = Dedup.dropNearDups(d, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaBest = Dedup.dropNearDupsKeepBest(
        d.withColumn("score", -col("doc_id")), pairs, "doc_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBest == asMin)
  }

  test("importance resampling favors target-like docs, deterministically") {
    import spark.implicits._
    // the parquet fixture's lang column is a LABEL ONLY (all languages
    // share one vocabulary), so content-based weighting needs a corpus
    // whose target distribution genuinely differs: 160 noise docs vs 40
    // signal docs over disjoint vocabularies, target = pure signal text
    val noiseWords = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val sigWords = Seq("quark", "lepton", "boson", "gluon")
    def doc(words: Seq[String], seed: Int): String =
      (0 until 20).map(i => words((seed * 31 + i * 7) % words.size)).mkString(" ")
    val corpus = ((0 until 160).map(i => (i.toLong, doc(noiseWords, i))) ++
      (160 until 200).map(i => (i.toLong, doc(sigWords, i)))).toDF("doc_id", "text")
    val target = (0 until 10).map(i => (1000L + i, doc(sigWords, i)))
      .toDF("doc_id", "text")
    val sel = Sampling.importanceResample(corpus, target, "doc_id", "text",
      budget = 40, buckets = 256)
    val rows = sel.collect()
    assert(rows.length == 40, s"budget must be hit exactly, got ${rows.length}")
    // signal docs carry a decisively higher log-ratio than noise docs, so
    // even Gumbel-perturbed selection is dominated by them (the gap is
    // ~20 tokens x ln-ratio >> any Gumbel draw)
    val selSignal = rows.count(_.getAs[Long]("doc_id") >= 160L)
    assert(selSignal >= 38,
      s"importance weighting must concentrate on target-like docs: " +
        s"$selSignal/40 signal")
    // every signal doc outweighs every noise doc in the score itself
    val byKind = rows.map(r => (r.getAs[Long]("doc_id") >= 160L,
      r.getAs[Double]("logw"))).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    if (byKind.size == 2)
      assert(byKind(true).min > byKind(false).max)
    // run-stable membership on the parquet corpus (real tokenizer path)
    val pdocs = docs
    val ptarget = docs.filter(col("lang") === "en")
    val a = Sampling.importanceResample(pdocs, ptarget, "doc_id", "text",
        budget = 60, buckets = 256)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.importanceResample(pdocs, ptarget, "doc_id", "text",
        budget = 60, buckets = 256)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "membership must be run-stable")
    assert(a.size == 60)
    // a different salt redraws the Gumbel noise: some membership changes
    val salted = Sampling.importanceResample(pdocs, ptarget, "doc_id", "text",
        budget = 60, buckets = 256, salt = "v2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(salted != a, "salt must change the draw")
    intercept[IllegalArgumentException] {
      Sampling.importanceResample(pdocs, ptarget, "doc_id", "text", budget = 0)
    }
  }

  test("importance resampling and shuffle shards are partitioning-invariant") {
    // the membership/assignment contract: pure functions of (salt, id,
    // corpus content) — a different physical partitioning must not move
    // a single row (rand()-based samplers fail exactly this law)
    val target = docs.filter(col("lang") === "en")
    def selection(d: org.apache.spark.sql.DataFrame): Set[Long] =
      Sampling.importanceResample(d, target, "doc_id", "text",
          budget = 40, buckets = 128)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selection(docs.repartition(1)) == selection(docs.repartition(13)))
    def shards(d: org.apache.spark.sql.DataFrame): Map[Long, (Int, Long)] =
      Sampling.shuffleShards(d, "doc_id", 8)
        .select("doc_id", "shard", "pos").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(shards(docs.repartition(1)) == shards(docs.repartition(13)))
  }

  test("writeShards lays each shard down as one pos-ordered file") {
    val path = java.nio.file.Files.createTempDirectory("shards_out").toString
    Sampling.writeAssigned(Sampling.shuffleShards(docs, "doc_id", 4), 4, path)
    val expected = Sampling.shuffleShards(docs, "doc_id", 4)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val back = spark.read.parquet(path)
    assert(back.select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getAs[Int]("shard"), r.getLong(2))).toSet
      == expected, "round trip must preserve the full assignment")
    // one data file per shard dir, rows inside it in pos order
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0 until 4).foreach { s =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/shard=$s"))
        .filter(f => f.getPath.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $s should be one ordered file")
      val pos = spark.read.parquet(files.head.getPath.toString)
        .select("pos").collect().map(_.getLong(0)).toSeq
      assert(pos == pos.sorted,
        s"shard $s rows not in pos order: ${pos.take(10)}...")
      assert(pos.head == 0L && pos.last == pos.length - 1L)
    }
  }

  test("shuffle shards: exhaustive, dense positions, deterministic, balanced") {
    val n = docs.count()
    val out = Sampling.shuffleShards(docs, "doc_id", numShards = 8)
    assert(out.count() == n, "every row keeps exactly one (shard, pos)")
    // positions are dense 0..k-1 within every shard
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("k"), min("pos").as("lo"), max("pos").as("hi"))
      .collect()
    assert(perShard.length == 8, "all 8 shards populated on 500 docs")
    perShard.foreach { r =>
      assert(r.getAs[Long]("lo") == 0L && r.getAs[Long]("hi") == r.getAs[Long]("k") - 1,
        s"positions must be dense: $r")
    }
    // deterministic across runs
    val a = out.select("doc_id", "shard", "pos").collect().map(_.toString).sorted
    val b = Sampling.shuffleShards(docs, "doc_id", numShards = 8)
      .select("doc_id", "shard", "pos").collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // no shard hogs the corpus (hash balance at n=500: expect ~62 each)
    val sizes = perShard.map(_.getAs[Long]("k"))
    assert(sizes.max < 2 * sizes.min + 20, s"shard skew: ${sizes.toSeq}")
    // within-shard order is independent of the assignment draw: the
    // same shard re-keyed by salt reshuffles its members' order
    val pos1 = out.filter(col("shard") === 0).select("doc_id", "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pos2 = Sampling.shuffleShards(docs, "doc_id", 8, salt = "v2")
      .select("doc_id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pos1.exists { case (id, p) => pos2.get(id).exists(_ != p) },
      "a fresh salt must reorder at least one shared member")
  }

  test("DSIR bigram features separate a word-order-scrambled decoy; unigrams cannot") {
    import spark.implicits._
    // every doc holds the SAME 20 distinct words — ordered docs in
    // canonical order, decoys fully reversed. Unigram histograms are
    // bucket-for-bucket identical; only bigrams see the order.
    val words = (1 to 20).map(i => s"w$i")
    val fwd = words.mkString(" ")
    val rev = words.reverse.mkString(" ")
    val raw = ((1L to 10L).map(_ -> fwd) ++ (11L to 20L).map(_ -> rev))
      .toDF("doc_id", "text")
    val target = (1L to 10L).map(_ -> fwd).toDF("doc_id", "text")
    def logwById(ngrams: Int): Map[Long, Double] =
      graft.operators.Sampling.importanceResample(raw, target, "doc_id",
        "text", budget = 20, buckets = 256, ngrams = ngrams)
        .select("doc_id", "logw").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uni = logwById(1)
    assert((1L to 20L).map(uni).distinct.size == 1,
      s"unigram logw must be identical across ordered and reversed docs: $uni")
    val bi = logwById(2)
    val fwdMin = (1L to 10L).map(bi).min
    val revMax = (11L to 20L).map(bi).max
    assert(fwdMin > revMax,
      s"bigram logw must strictly separate word order: fwdMin=$fwdMin revMax=$revMax")
  }

  test("shuffleShards enforces the shard-size bound with a named error") {
    // the guard rides the pos column — materialize it (count() would
    // prune pos away and never evaluate the check)
    val ex = intercept[Exception] {
      graft.operators.Sampling.shuffleShards(docs, "doc_id", numShards = 1,
        maxShardRows = 100).agg(max("pos")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: msgs(t.getCause)
    assert(msgs(ex).exists(m => m != null && m.contains("maxShardRows")),
      s"expected the named shard-size error, got: ${ex.getMessage}")
    // the default bound never fires at fixture scale
    assert(graft.operators.Sampling.shuffleShards(docs, "doc_id", 8)
      .count() == docs.count())
  }

  test("duplicate spans: planted boilerplate found exactly; removal kills every shared gram") {
    import spark.implicits._
    // 20-token license header shared by docs 1-3, a distinct 14-token
    // footer shared by docs 2-4; docs 5-6 share NOTHING >= 12 tokens.
    val header = (1 to 20).map(i => s"lic$i").mkString(" ")
    val footer = (1 to 14).map(i => s"ftr$i").mkString(" ")
    def body(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val d = Seq(
      1L -> s"$header ${body("a", 15)}",
      2L -> s"$header ${body("b", 15)} $footer",
      3L -> s"${body("c", 5)} $header ${body("cc", 9)}",
      4L -> s"${body("d", 15)} $footer",
      5L -> body("e", 30),
      6L -> body("f", 30)).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", minTokens = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // expected coverage: exactly the planted regions, 1-based inclusive
    assert(spans == Set(
      (1L, 1, 20),         // header at the front
      (2L, 1, 20), (2L, 36, 49),  // header + footer after the 15-token body
      (3L, 6, 25),         // header after a 5-token prefix
      (4L, 16, 29)),       // footer after the 15-token body
      s"got $spans")
    // removal: no 12-token gram remains shared by >= 2 docs, untouched
    // docs keep byte-identical text, and survivors keep their own tokens
    val cleaned = Dedup.removeDuplicateSpans(d, "doc_id", "text", 12)
    assert(Dedup.duplicateSpans(cleaned, "doc_id", "text", 12).isEmpty)
    val byId = cleaned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(5L) == body("e", 30) && byId(6L) == body("f", 30),
      "span-free docs must pass through byte-identical")
    assert(byId(1L) == body("a", 15), "doc 1 keeps exactly its own body")
    assert(byId(3L) == s"${body("c", 5)} ${body("cc", 9)}",
      "doc 3 stitches prefix+suffix around the removed header")
    // overlap merging: two overlapping shared windows report ONE span
    val ov = Seq(
      10L -> ((1 to 30).map(i => s"s$i").mkString(" ")),
      11L -> ((1 to 18).map(i => s"s$i").mkString(" ") + " " + body("x", 10)),
      12L -> (body("y", 10) + " " + (13 to 30).map(i => s"s$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ovSpans = Dedup.duplicateSpans(ov, "doc_id", "text", 12)
      .filter(col("doc_id") === 10L)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(ovSpans == Set((1, 30)),
      s"overlapping shared windows must merge into one span, got $ovSpans")
  }

  test("span decontamination: only eval-shared regions flagged; train-train dups survive removal") {
    import spark.implicits._
    import graft.operators.Decontaminate
    // eval set: one benchmark item of 16 tokens + an unrelated doc
    val bench = (1 to 16).map(i => s"qa$i").mkString(" ")
    def body(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val evalD = Seq(100L -> s"${body("ev", 6)} $bench",
      101L -> body("ez", 25)).toDF("doc_id", "text")
    // train: doc 1 quotes the benchmark mid-doc; docs 2+3 share a
    // 20-token boilerplate that is NOT in eval (dedup's business, not
    // decontamination's); doc 4 is clean
    val boiler = (1 to 20).map(i => s"bp$i").mkString(" ")
    val train = Seq(
      1L -> s"${body("a", 10)} $bench ${body("aa", 5)}",
      2L -> s"$boiler ${body("b", 15)}",
      3L -> s"${body("c", 15)} $boiler",
      4L -> body("d", 30)).toDF("doc_id", "text")
    val spans = Decontaminate.contaminatedSpans(train, evalD,
        "doc_id", "text", minTokens = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // exactly the quoted benchmark region, 1-based inclusive; the
    // train-train boilerplate must NOT be flagged
    assert(spans == Set((1L, 11, 26)), s"got $spans")
    // removal: cleaned corpus shares no 12-token gram with eval; the
    // train-train boilerplate survives verbatim; clean docs are
    // byte-identical
    val cleaned = Decontaminate.removeContaminatedSpans(train, evalD,
      "doc_id", "text", minTokens = 12)
    assert(Decontaminate.contaminatedSpans(cleaned, evalD,
      "doc_id", "text", 12).isEmpty)
    val byId = cleaned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L) == s"${body("a", 10)} ${body("aa", 5)}",
      "doc 1 stitches around the removed quote")
    assert(byId(2L) == s"$boiler ${body("b", 15)}" &&
      byId(3L) == s"${body("c", 15)} $boiler",
      "train-train boilerplate must survive decontamination")
    assert(byId(4L) == body("d", 30), "clean docs pass through byte-identical")
    // overlapping eval hits inside one train doc merge to ONE span:
    // train doc 20 holds tokens s1..s30; eval knows s1..s18 and s13..s30
    val ovTrain = Seq(20L -> (1 to 30).map(i => s"s$i").mkString(" "))
      .toDF("doc_id", "text")
    val ovEval = Seq(
      200L -> (1 to 18).map(i => s"s$i").mkString(" "),
      201L -> (13 to 30).map(i => s"s$i").mkString(" ")).toDF("doc_id", "text")
    val ovSp = Decontaminate.contaminatedSpans(ovTrain, ovEval,
        "doc_id", "text", 12)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(ovSp == Set((1, 30)),
      s"overlapping eval hits must merge into one span, got $ovSp")
  }

  test("leak attribution: shared-gram counts per (train, eval) pair") {
    import spark.implicits._
    import graft.operators.Decontaminate
    val bench = (1 to 16).map(i => s"qa$i").mkString(" ")
    def body(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val evalD = Seq(100L -> s"${body("ev", 6)} $bench",
      101L -> body("ez", 25)).toDF("doc_id", "text")
    val train = Seq(
      1L -> s"${body("a", 10)} $bench ${body("aa", 5)}",
      2L -> body("b", 30)).toDF("doc_id", "text")
    val got = Decontaminate.attributionReport(train, evalD,
        "doc_id", "text", minTokens = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the only shared grams are the 12-grams fully inside the 16-token
    // benchmark quote: 16 - 12 + 1 = 5 distinct grams, doc 1 × eval 100
    assert(got == Set((1L, 100L, 5L)), s"got $got")
  }

  test("score buckets: exact per-group terciles, tie and null semantics") {
    import spark.implicits._
    import graft.operators.Quality
    // group A: scores 1..9 — boundaries at the 3rd (3.0) and 6th (6.0)
    // smallest; group B: heavy tie at 1 pulls BOTH boundaries onto it,
    // so bucket 1 is empty and everything above the tie jumps to 2
    val a = (1 to 9).map(i => (s"a$i", "A", i.toDouble))
    val b = Seq(("b1", "B", 1.0), ("b2", "B", 1.0), ("b3", "B", 1.0),
      ("b4", "B", 1.0), ("b5", "B", 2.0), ("b6", "B", 3.0))
    val df = (a ++ b).toDF("id", "g", "s")
      .unionByName(Seq(("n1", Option.empty[String], Option(5.0)),
        ("n2", Option("A"), Option.empty[Double])).toDF("id", "g", "s"))
    val got = Quality.scoreBuckets(df, "g", "s")
      .collect().map(r =>
        r.getString(0) -> (if (r.isNullAt(3)) -1 else r.getInt(3))).toMap
    (1 to 3).foreach(i => assert(got(s"a$i") == 0, s"a$i: ${got(s"a$i")}"))
    (4 to 6).foreach(i => assert(got(s"a$i") == 1, s"a$i: ${got(s"a$i")}"))
    (7 to 9).foreach(i => assert(got(s"a$i") == 2, s"a$i: ${got(s"a$i")}"))
    (1 to 4).foreach(i => assert(got(s"b$i") == 0, s"b$i: ${got(s"b$i")}"))
    assert(got("b5") == 2 && got("b6") == 2,
      s"ties pull both boundaries: ${got("b5")}, ${got("b6")}")
    assert(got("n1") == -1 && got("n2") == -1,
      "null group or score must yield a null bucket")
  }

  test("score buckets: fraction validation and histogram guard fail by name") {
    import spark.implicits._
    import graft.operators.Quality
    val df = (1 to 50).map(i => (s"d$i", "g", i.toDouble)).toDF("id", "g", "s")
    intercept[IllegalArgumentException] {
      Quality.scoreBuckets(df, "g", "s", fractions = Seq(0.5, 0.3))
    }
    intercept[IllegalArgumentException] {
      Quality.scoreBuckets(df, "g", "s", fractions = Seq(0.0, 0.5))
    }
    val e = intercept[IllegalStateException] {
      Quality.scoreBuckets(df, "g", "s", maxHistRows = 10)
    }
    assert(e.getMessage.contains("maxHistRows"), e.getMessage)
    // a single median split works and is monotone in the score
    val half = Quality.scoreBuckets(df, "g", "s", fractions = Seq(0.5))
      .collect().map(r => r.getDouble(2) -> r.getInt(3)).sortBy(_._1)
    assert(half.map(_._2).toSeq == half.map(_._2).sorted.toSeq)
    assert(half.count(_._2 == 0) == 25 && half.count(_._2 == 1) == 25)
  }

  test("RRF fusion: hand-computed scores, single-list docs fuse, agreement wins") {
    import spark.implicits._
    import graft.operators.Retrieval
    // retriever A ranks (d1, d2, d3); retriever B ranks (d2, d4) — with
    // kRrf = 60: d2 = 1/62 + 1/61 = 0.0325 (round 4), d1 = 1/61 =
    // 0.0164, d3 = 1/63 = 0.0159, d4 = 1/62 = 0.0161
    val a = Seq((9L, 1L, 1), (9L, 2L, 2), (9L, 3L, 3))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((9L, 2L, 1), (9L, 4L, 2)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), k = 4)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    def rrf(rs: Int*): Double =
      math.rint(rs.map(r => 1.0 / (60 + r)).sum * 1e4) / 1e4
    assert(got == Seq((2L, 1, rrf(2, 1)), (1L, 2, rrf(1)),
      (4L, 3, rrf(2)), (3L, 4, rrf(3))),
      s"hand-computed RRF order diverged: $got")
    // ties after the 4-decimal round break by doc id ascending
    val t1 = Seq((9L, 7L, 1)).toDF("query_id", "doc_id", "rank")
    val t2 = Seq((9L, 5L, 1)).toDF("query_id", "doc_id", "rank")
    val tied = Retrieval.rrfFuse(Seq(t1, t2), k = 2).orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
    assert(tied == Seq((5L, 1), (7L, 2)), s"tie must break by id: $tied")
    // column contract is enforced loudly
    val e = intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(a.withColumnRenamed("doc_id", "neighbor_id")), 2)
    }
    assert(e.getMessage.contains("query_id"))
    // STRING doc ids (URL/UUID corpora) rank on the built-in window
    // limit — same tie-break as the long heap, and at most k rows per
    // (partition, query) cross the shuffle
    val s1 = Seq((9L, "doc-seven", 1)).toDF("query_id", "doc_id", "rank")
    val s2 = Seq((9L, "doc-five", 1)).toDF("query_id", "doc_id", "rank")
    val sFused = Retrieval.rrfFuse(Seq(s1, s2), k = 2)
    val sTied = sFused.orderBy("rank")
      .collect().map(r => (r.getString(1), r.getInt(2))).toSeq
    assert(sTied == Seq(("doc-five", 1), ("doc-seven", 2)),
      s"string ids must survive fusion with the same tie-break: $sTied")
    // (k = 1 over two rows: Spark adds no limit where k covers every row)
    val sTop1 = Retrieval.rrfFuse(Seq(s1, s2), k = 1)
    assert(limitsBeforeShuffle(sTop1),
      "string-id fusion must limit each group before the shuffle:\n" +
        sTop1.queryExecution.executedPlan)
  }

  /** A Partial `WindowGroupLimit` sits below a hash exchange in the
    * physical plan: at most k rows per (partition, group) are shuffled. */
  private def limitsBeforeShuffle(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.exists {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.isInstanceOf[HashPartitioning] &&
          e.child.exists {
            case w: WindowGroupLimitExec => w.mode == Partial
            case _ => false
          }
      case _ => false
    }
  }

  test("string-id top-k heap ≡ long-id heap under an order-preserving id map") {
    import spark.implicits._
    import graft.operators.Retrieval
    // two synthetic retrievers over 3 queries × 40 docs; zero-padded
    // decimal strings order exactly like the longs they encode, so the
    // long-heap fusion and the string-heap fusion must agree rank for
    // rank — ties, truncation, and all
    def ranking(seed: Int) = (for {
      q <- 1 to 3
      r <- 1 to 25
    } yield (q.toLong, ((q * 7 + r * seed) % 40 + 1).toLong, r))
      .distinct.groupBy(t => (t._1, t._2)).map(_._2.minBy(_._3)).toSeq
      .toDF("query_id", "doc_id", "rank")
    val a = ranking(3)
    val b = ranking(11)
    val longFused = Retrieval.rrfFuse(Seq(a, b), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2)) ->
        f"id-${r.getLong(1)}%05d").toMap
    def asStr(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("doc_id", format_string("id-%05d", col("doc_id")))
    val strFused = Retrieval.rrfFuse(Seq(asStr(a), asStr(b)), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getString(1)).toMap
    assert(strFused == longFused,
      s"string heap diverged from long heap:\n$strFused\nvs\n$longFused")
    // same law for the kNN ranking tail: brute kNN over string-keyed
    // vectors must rank exactly like the long-keyed corpus
    val vecs = (1 to 30).map(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 31 + d * 17) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") <= 2)
    val longKnn = Similarity.bruteKnn(q, vecs, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(2)) ->
        f"v${r.getLong(1)}%05d").toMap
    val sVecs = vecs.withColumn("vec_id", format_string("v%05d", col("vec_id")))
    val sq = sVecs.filter(col("vec_id") <= "v00002")
    val strKnnDf = Similarity.bruteKnn(sq, sVecs, k = 5)
    val strKnn = strKnnDf.collect()
      .map(r => (r.getString(0).drop(1).toLong, r.getInt(2)) -> r.getString(1))
      .toMap
    assert(strKnn == longKnn,
      s"string kNN heap diverged from long kNN heap:\n$strKnn\nvs\n$longKnn")
    assert(limitsBeforeShuffle(strKnnDf),
      "string-id kNN must limit each group before the shuffle:\n" +
        strKnnDf.queryExecution.executedPlan)
  }

  test("bruteKnn excludeSelf=false keeps id-colliding pairs (independent id spaces)") {
    import spark.implicits._
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    // hybrid retrieval: query 1 and doc 1 are different entities that
    // happen to share a number — the identical vector must rank first
    val kept = Similarity.bruteKnn(q, corpus, k = 1, excludeSelf = false)
      .collect()
    assert(kept.head.getLong(1) == 1L && kept.head.getInt(2) == 1,
      s"id-colliding doc must be retrievable: ${kept.toSeq}")
    // near-dup semantics (default): a vector is trivially its own
    // nearest neighbor — still excluded
    val dropped = Similarity.bruteKnn(q, corpus, k = 1).collect()
    assert(dropped.head.getLong(1) == 2L,
      s"default kNN must keep self-exclusion: ${dropped.toSeq}")
  }

  test("hybridSearch: a doc both retrievers rank first is the fused winner") {
    import spark.implicits._
    import graft.operators.Retrieval
    // doc 3 is the unique lexical match AND the planted nearest vector;
    // doc 1 is lexical-only noise, doc 2 dense-only noise
    val corpus = Seq(
      (1L, "alpha beta alpha beta gamma"),
      (2L, "delta epsilon zeta eta theta"),
      (3L, "needle needle needle alpha beta"),
      (4L, "iota kappa lambda mu nu")).toDF("doc_id", "text")
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val vecs = Seq(
      (1L, v(0.0, 1.0)), (2L, v(0.9, 0.45)), (3L, v(1.0, 0.02)),
      (4L, v(-1.0, 0.0))).toDF("vec_id", "embedding")
    val qs = Seq((100L, "needle", v(1.0, 0.0)))
      .toDF("query_id", "qtext", "qvec")
    val top = Retrieval.hybridSearch(corpus, vecs, qs, k = 2, cand = 3)
      .orderBy("rank").collect()
    assert(top.head.getLong(1) == 3L,
      s"doc 3 leads both retrievers; fused head was ${top.head}")
    assert(top.forall(_.getLong(0) == 100L))
  }

  // ------------------------------------------------------------------
  // curriculumShards — exact distributed rank law + guards
  // ------------------------------------------------------------------

  test("curriculumShards ≡ local exact rank; deterministic under repartition") {
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.curriculumShards(d, "doc_id",
        col("n_chars").cast("double"), numShards = 4, pivots = 7)
        .select("doc_id", "shard", "pos").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val got = run(docs)
    // local ground truth: rank by (score, id) computed on the driver
    val local = docs.select(col("doc_id"), col("n_chars").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, sc) => (sc, id) }
      .zipWithIndex
      .map { case ((id, _), rk) =>
        id -> ((rk % 4, rk.toLong / 4))
      }.toMap
    assert(got == local, "distributed rank must equal the local sort rank")
    assert(run(docs.repartition(13)) == got,
      "assignment must not depend on input partitioning")
  }

  test("curriculumShards generative: random heavy-tie scores ≡ local rank (20 seeds)") {
    import spark.implicits._
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(160)
      // few distinct scores -> many ties; ids shuffled so input order
      // never accidentally equals rank order
      val rows = rnd.shuffle((0 until n).toList)
        .map(id => (id.toLong, rnd.nextInt(6).toDouble))
      val d = rows.toDF("id", "sc").repartition(1 + rnd.nextInt(7))
      val got = Sampling.curriculumShards(d, "id", col("sc"),
        numShards = 1 + rnd.nextInt(5), pivots = 1 + rnd.nextInt(12))
        .select("id", "shard", "pos").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      val num = got.values.map(_._1).max + 1 // recover numShards lower bound
      val local = rows.sortBy { case (id, sc) => (sc, id) }.zipWithIndex
        .map { case ((id, _), rk) => id -> rk }.toMap
      rows.foreach { case (id, _) =>
        val rk = got(id)._2 * num + got(id)._1
        assert(rk == local(id),
          s"seed=$seed id=$id: rank $rk != local ${local(id)} (num=$num)")
      }
    }
  }

  test("curriculumShards: score ties broken by id; duplicate scores exact") {
    // every score equal -> rank is pure id order; pivots land on ties
    val d = docs.select(col("doc_id")).withColumn("k", lit(1.0))
    val got = Sampling.curriculumShards(d, "doc_id", col("k"),
      numShards = 3, pivots = 5)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val ids = d.select("doc_id").collect().map(_.getLong(0)).sorted
    val expect = ids.zipWithIndex
      .map { case (id, rk) => (id, rk % 3, rk.toLong / 3) }.toSet
    assert(got.toSet == expect)
  }

  test("curriculumShards guards: NULL score and bucket overflow fail by name") {
    val nulled = docs.withColumn("sc",
      when(col("doc_id") === 3L, lit(null).cast("double"))
        .otherwise(col("n_chars").cast("double")))
    val e1 = intercept[Exception] {
      Sampling.curriculumShards(nulled, "doc_id", col("sc"), 4).collect()
    }
    assert(e1.getMessage.contains("NULL/NaN score"))
    val nan = docs.withColumn("sc",
      when(col("doc_id") === 3L, lit(Double.NaN))
        .otherwise(col("n_chars").cast("double")))
    val e1b = intercept[Exception] {
      Sampling.curriculumShards(nan, "doc_id", col("sc"), 4).collect()
    }
    assert(e1b.getMessage.contains("NULL/NaN score"))
    // a NON-NUMERIC score must fail loudly, never sort nulls-first into
    // the front of the curriculum: under ANSI (the default) the cast
    // itself raises CAST_INVALID_INPUT; with ANSI off the cast yields
    // NULL and the named guard catches it (the guard checks the CASTED
    // value for exactly this reason)
    val textScore = docs.withColumn("sc",
      when(col("doc_id") === 3L, lit("n/a"))
        .otherwise(col("n_chars").cast("string")))
    val e1c = intercept[Exception] {
      Sampling.curriculumShards(textScore, "doc_id", col("sc"), 4).collect()
    }
    assert(e1c.getMessage.contains("NULL/NaN score")
      || e1c.getMessage.contains("CAST_INVALID_INPUT"))
    val e2 = intercept[IllegalStateException] {
      Sampling.curriculumShards(docs, "doc_id",
        col("n_chars").cast("double"), numShards = 4, pivots = 2,
        maxBucketRows = 3L).collect()
    }
    assert(e2.getMessage.contains("maxBucketRows"))
  }

  // ------------------------------------------------------------------
  // leakSafeSplit — clusters travel together; unclustered ≡ assignSplit
  // ------------------------------------------------------------------

  test("leakSafeSplit: no near-dup cluster spans splits; singletons ≡ assignSplit") {
    import spark.implicits._
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      n = 3, k = 32, bands = 8, threshold = 0.8)
    val out = Sampling.leakSafeSplit(docs, "doc_id", pairs)
    assert(out.count() == docs.count(), "left join must keep every doc")
    // invariant: every component maps to exactly one split
    val comp = Dedup.connectedComponents(pairs).toDF("doc_id", "root")
    val spans = out.join(comp, "doc_id")
      .groupBy("root").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count()
    assert(spans == 0, "a near-dup cluster crossed a split boundary")
    assert(comp.count() > 0, "fixture must actually have near-dup clusters")
    // unclustered docs get exactly the plain hash split
    val plain = Sampling.assignSplit(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val clustered = comp.select("doc_id").as[Long].collect().toSet
    out.select("doc_id", "split").as[(Long, String)].collect()
      .filterNot { case (id, _) => clustered(id) }
      .foreach { case (id, sp) =>
        assert(sp == plain(id), s"singleton $id diverged from assignSplit")
      }
  }

  // ------------------------------------------------------------------
  // volumeAnomalies — planted spike fires; baseline excludes self
  // ------------------------------------------------------------------

  test("volumeAnomalies: 10× spike AND silent day both fire; self excluded") {
    import spark.implicits._
    // 20 days × ~100 events, day 15 spiked to 1000, day 10 fully SILENT
    // (no rows at all — the collapsed-crawler case: only densification
    // can score it)
    val rows = (1 to 20).filter(_ != 10).flatMap { d =>
      val n = if (d == 15) 1000 else 100 + (d % 3)
      (0 until n).map(i => (f"2024-02-$d%02d 12:00:00", s"e$i"))
    }
    val ev = rows.toDF("ts_s", "x").select(to_timestamp(col("ts_s")).as("ts"))
    val out = graft.operators.Events.volumeAnomalies(ev, "ts", Nil,
      window = 7, z = 3.0)
      .select(dayofmonth(col("day")).as("d"), col("n"), col("is_anomaly"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))).toMap
    assert(out.size == 20, "the silent day must be densified into the report")
    assert(out(10) == ((0L, Some(1))), "the zero-event day must flag")
    assert(out(15) == ((1000L, Some(1))), "the 10× day must flag")
    assert(out(1)._2.isEmpty, "day 1 has no trailing baseline")
    assert(out(2)._2.isEmpty, "day 2 has a 1-day baseline (stddev undefined)")
    (4 to 9).foreach(d => assert(out(d)._2.contains(0), s"steady day $d flagged"))
    // days 11-14 baseline contains the zero day (wide sigma) -> calm;
    // day 16's contains the spike -> calm. If the current day leaked
    // into its own baseline, neither day 10 nor 15 could fire.
    ((11 to 14) ++ Seq(16)).foreach(d =>
      assert(out(d)._2.contains(0), s"day $d flagged"))
  }

  test("writeAssigned exports curriculumShards loader-ready; rejects unassigned frames") {
    val path = java.nio.file.Files.createTempDirectory("curr_out").toString
    val assigned = Sampling.curriculumShards(docs, "doc_id",
      col("n_chars").cast("double"), numShards = 4, pivots = 8)
    Sampling.writeAssigned(assigned, 4, path)
    val back = spark.read.parquet(path)
    assert(back.count() == docs.count())
    // within every shard, pos order == ascending (n_chars, doc_id) order
    back.select("shard", "pos", "n_chars", "doc_id").collect()
      .groupBy(_.getInt(0)).foreach { case (_, rs) =>
        val byPos = rs.sortBy(_.getLong(1))
          .map(r => (r.getLong(2).toDouble, r.getLong(3))).toSeq
        assert(byPos == byPos.sorted, "shard not in curriculum order")
      }
    val e = intercept[IllegalArgumentException] {
      Sampling.writeAssigned(docs, 4, path)
    }
    assert(e.getMessage.contains("(shard, pos)-assigned"))
  }

  // ------------------------------------------------------------------
  // Paragraph dedup — CCNet stage 1: census, election, re-stitch
  // ------------------------------------------------------------------

  test("paragraph dedup: min-(doc,pos) election, normalization, pass-through") {
    import spark.implicits._
    val corpus = Seq(
      // doc 1 holds the CANONICAL copy (min doc id) — case/punct-varied,
      // pinned kept verbatim (normalization keys the census, never
      // rewrites surviving text)
      (1L, "alpha beta\nCOMMON boiler, plate!\ngamma delta"),
      (2L, "epsilon\ncommon boiler plate\nzeta"),
      (3L, "eta\ncommon boiler plate\ncommon boiler plate\ntheta"),
      // no duplicated paragraph: byte-identical pass-through
      (4L, "unique one\nunique two"),
      // blank paragraph is structure, not content: kept, never censused
      (5L, "iota\n\nkappa"),
      // within-doc repetition with the corpus-wide winner INSIDE the
      // doc: first occurrence survives, later ones drop
      (6L, "solo\nrepeat me\nrepeat me")
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateParagraphs(corpus, "doc_id", "text", "\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha beta\nCOMMON boiler, plate!\ngamma delta")
    assert(out(2L) == "epsilon\nzeta")
    assert(out(3L) == "eta\ntheta")
    assert(out(4L) == "unique one\nunique two")
    assert(out(5L) == "iota\n\nkappa")
    assert(out(6L) == "solo\nrepeat me")
    // duplicate-free corpora pass through byte-identical (the span-free
    // law): the whole fixture has no repeated paragraph at sep \n\n
    val pristine = docs.select("doc_id", "text")
    val same = Dedup.dropDuplicateParagraphs(pristine, "doc_id", "text", "\n\n")
    assert(same.except(pristine).isEmpty && pristine.except(same).isEmpty,
      "a duplicate-free corpus must pass through byte-identical")
  }

  // ------------------------------------------------------------------
  // UniMax mixing — water-filling under the epoch cap
  // ------------------------------------------------------------------

  test("unimax: hand-computed water level, caps bind, budget exactly spent") {
    import spark.implicits._
    // tokens big=600 mid=300 small=100, cap 2 epochs → capacities
    // (1200, 600, 200); budget 1500: small caps at 200 (share 500),
    // mid caps at 600 (share 650), big takes the level 700
    val docs = (Seq.fill(6)("big") ++ Seq.fill(3)("mid") ++ Seq("small"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s, 100L) }
      .toDF("doc_id", "src", "n_tok")
    val out = graft.operators.Corpus.unimaxAllocation(
        docs, "src", col("n_tok"), budget = 1500L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out("small") == ((100L, 200.0, 2.0, 0.133333)))
    assert(out("mid") == ((300L, 600.0, 2.0, 0.4)))
    assert(out("big") == ((600L, 700.0, 1.1667, 0.466667)))
    assert(out.values.map(_._2).sum == 1500.0, "budget exactly spent")
    // budget beyond total capacity: every source caps, epochs = maxEpochs
    val capped = graft.operators.Corpus.unimaxAllocation(
        docs, "src", col("n_tok"), budget = 5000L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> ((r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(capped == Map("big" -> ((1200.0, 2.0)), "mid" -> ((600.0, 2.0)),
      "small" -> ((200.0, 2.0))))
  }

  // ------------------------------------------------------------------
  // Incremental paragraph dedup — delta ≡ batch, store chaining
  // ------------------------------------------------------------------

  test("paragraph delta ≡ batch on appended ids; the store chains deltas") {
    import spark.implicits._
    val ingested = Seq(
      (1L, "alpha one\nshared boiler text\nomega one"),
      (2L, "alpha two\nshared boiler text\nomega two"),
      (3L, "alpha three\nonly in store\nomega three")
    ).toDF("doc_id", "text")
    val delta1 = Seq(
      (10L, "fresh ten\nshared boiler text\nnew paragraph here"),
      (11L, "fresh eleven\nnew paragraph here\ntail eleven")
    ).toDF("doc_id", "text")
    val delta2 = Seq(
      // hits delta1's 'new paragraph here' (now stored) AND the
      // original boiler; keeps only its own fresh content
      (20L, "fresh twenty\nnew paragraph here\nshared boiler text")
    ).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("para_store").toString
    Dedup.saveParagraphStore(ingested, "doc_id", "text", root)
    val out1 = Dedup.dropDuplicateParagraphsDelta(delta1, "doc_id", "text", root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch equivalence: same corpus deduped whole, restricted to delta ids
    val batch = Dedup.dropDuplicateParagraphs(
        ingested.unionByName(delta1), "doc_id", "text")
      .filter(col("doc_id") >= 10L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out1 == batch, s"delta must equal batch on appended ids:\n$out1\nvs\n$batch")
    assert(out1(10L) == "fresh ten\nnew paragraph here",
      "stored boiler drops; delta-first occurrence of the fresh para keeps")
    assert(out1(11L) == "fresh eleven\ntail eleven",
      "within-delta duplicate loses to doc 10's earlier occurrence")
    // the store was updated with delta1's fresh hashes
    val out2 = Dedup.dropDuplicateParagraphsDelta(delta2, "doc_id", "text", root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(20L) == "fresh twenty",
      s"both stored paragraphs must drop in the second delta: ${out2(20L)}")
  }

  test("paragraph delta retry with a pinned batchId is idempotent") {
    import spark.implicits._
    val ingested = Seq((1L, "shared boiler text\nbody one")).toDF("doc_id", "text")
    val delta = Seq((10L, "fresh ten\nshared boiler text")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("para_retry").toString
    Dedup.saveParagraphStore(ingested, "doc_id", "text", root)
    def run() = Dedup.dropDuplicateParagraphsDelta(delta, "doc_id", "text",
      root, batchId = Some(7L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = run()
    // the failure mode the batch partition exists for: the first call's
    // append already landed; a retry must NOT see its own hashes as
    // "already ingested" and strip the delta to nothing
    val retry = run()
    assert(first == retry, s"retry diverged: $first vs $retry")
    assert(first(10L) == "fresh ten", s"wrong survivors: $first")
  }

  test("paragraph dedup censuses non-Latin scripts (unicode normalization)") {
    import spark.implicits._
    // the same CJK boilerplate paragraph in two docs: it must census and
    // the later occurrence must drop — an [a-z]-only normalization would
    // fold it to "" (structure) and keep both copies
    val docs = Seq(
      (1L, "数据 管道 样板\nуникальный текст один"),
      (2L, "数据 管道 样板\nуникальный текст два")
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "数据 管道 样板\nуникальный текст один",
      "canonical copy (min doc, pos) keeps")
    assert(out(2L) == "уникальный текст два",
      s"CJK boilerplate must drop from doc 2, got '${out(2L)}'")
  }

  test("divergenceReport: a literal <oov> token folds into the tail bucket") {
    import spark.implicits._
    // '<oov>' appears often enough to top any vocabulary cut — it must
    // STILL fold into the tail bucket (kept verbatim it would appear
    // twice in the bucket list and double-count in the smoothing grid)
    val planted = Seq(
      ("A", "<oov> <oov> <oov> x y"), ("B", "<oov> <oov> x z")
    ).toDF("source", "text")
    val out = graft.operators.Corpus
      .divergenceReport(planted, "source", "text", maxVocab = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    // vocab (term count desc, asc, <oov> excluded): x, y|z -> x, y
    // buckets: x, y, <oov>; A = [1x, 1y, 3oov], B = [1x, 0y, 3oov(2oov+z)]
    val counts = Map("A" -> Seq(1L, 1L, 3L), "B" -> Seq(1L, 0L, 3L))
    val globalC = Seq(2L, 1L, 6L)
    for ((s, cs) <- counts) {
      val n = cs.sum
      val ps = cs.map(c => (c + 1.0) / (n + 3))
      val qs = globalC.map(c => (c + 1.0) / (9.0 + 3))
      val kl = ps.zip(qs).map { case (p, q) => p * math.log(p / q) }.sum
      val r = out(s)
      assert(r.getLong(1) == n, s"tokens of $s")
      assert(r.getDouble(2) == math.rint(kl * 1e6) / 1e6, s"kl of $s")
    }
  }

  // ------------------------------------------------------------------
  // Hard negatives — band semantics, near-dup ceiling
  // ------------------------------------------------------------------

  test("hardNegatives keeps only the cosine band, ranked, self excluded") {
    import spark.implicits._
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // anchor 1 at (1,0); candidates at known cosines: 0.95 (near-dup,
    // excluded high), 0.6 and 0.45 (in band), 0.1 (excluded low)
    val corpus = Seq(
      (1L, v(1, 0)),
      (2L, v(0.95, math.sqrt(1 - 0.95 * 0.95))),
      (3L, v(0.6, 0.8)),
      (4L, v(0.45, math.sqrt(1 - 0.45 * 0.45))),
      (5L, v(0.1, math.sqrt(1 - 0.01)))).toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(
        corpus.filter(col("vec_id") === 1L), corpus, k = 5,
        lo = 0.3, hi = 0.9)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((3L, 1), (4L, 2)),
      s"band [0.3, 0.9) keeps exactly cos 0.6 then 0.45: $got")
    // k truncates within the band
    val k1 = Similarity.hardNegatives(
        corpus.filter(col("vec_id") === 1L), corpus, k = 1,
        lo = 0.3, hi = 0.9).collect()
    assert(k1.length == 1 && k1.head.getLong(1) == 3L)
  }

  // ------------------------------------------------------------------
  // Profiler — one-pass stats: exact fields exact, native-type min/max
  // ------------------------------------------------------------------

  test("profile: duplicate cols rejected by name; quantiles one-pass, numeric-only") {
    import spark.implicits._
    val df = (1 to 101).map(i => (i.toLong, i.toDouble, s"s$i"))
      .toDF("id", "x", "s")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Profiler.profile(df, Seq("x", "x", "s"))
    }
    assert(e.getMessage.contains("duplicate column(s): x"))
    val p = graft.operators.Profiler.profile(df, Seq("x", "s"),
      quantiles = Seq(0.25, 0.5, 0.75))
    val rows = p.collect().map(r => r.getString(0) -> r).toMap
    // 1..101 uniform: exact quartiles are 26, 51, 76; the sketch is
    // exact at this cardinality
    val qx = rows("x").getSeq[Double](6)
    assert(qx == Seq(26.0, 51.0, 76.0), s"quartiles of 1..101: $qx")
    assert(rows("s").isNullAt(6), "non-numeric columns carry NULL quantiles")
    // still ONE aggregation — no Expand, single pass
    assert(!p.queryExecution.executedPlan.toString.contains("Expand"),
      "quantiles must ride the single profiling aggregation")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Profiler.profile(df, Seq("x"), quantiles = Seq(1.5))
    }
    assert(e2.getMessage.contains("quantiles must be in [0, 1]"))
  }

  test("profile: nulls, native-type min/max, distinct within rsd; one pass") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, -10.5, "b"), (2L, 9.0, "a"), (3L, null, "b"),
      (4L, 2.0, null), (5L, -10.5, "a")
    ).toDF("id", "x", "s")
    val p = graft.operators.Profiler.profile(df)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(p("id") == ((5L, 0L, 5L, "1", "5")))
    // native-type ordering: min is -10.5, NOT the string-least "2.0"
    val (n, nulls, d, lo, hi) = p("x")
    assert((n, nulls) == ((5L, 1L)) && lo == "-10.5" && hi == "9.0")
    assert(d == 3L, "tiny cardinalities are exact in HLL++ sparse mode")
    assert(p("s") == ((5L, 1L, 2L, "a", "b")))
    // the profile is ONE aggregation: no expand (exact-distinct) node
    val plan = graft.operators.Profiler.profile(df)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "profiler must not plan exact distincts")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Profiler.profile(df, Seq("nope"))
    }
    assert(e.getMessage.contains("no such column"))
    // map columns are unorderable: the all-columns default skips them,
    // an explicit request fails by name (not with an AnalysisException
    // from deep inside min())
    val withMap = df.withColumn("m",
      map(col("id").cast("string"), col("id"))) // non-null keys (ANSI)
    assert(graft.operators.Profiler.profile(withMap)
      .select("column").collect().map(_.getString(0)).toSet
      == Set("id", "x", "s"), "default profile must skip the map column")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Profiler.profile(withMap, Seq("m"))
    }
    assert(e2.getMessage.contains("unorderable"))
  }

  // ------------------------------------------------------------------
  // sourceOverlap — estimator quality + set-min law
  // ------------------------------------------------------------------

  test("sourceOverlap estimate tracks exact corpus Jaccard; self-dup sources agree") {
    import spark.implicits._
    // three synthetic sources: A and B share half their shingle stream,
    // C is disjoint; A2 is a row-duplicated copy of A (multiset ≠ set —
    // the min-hash must not care)
    val words = (0 until 40).map(i => s"w$i")
    def doc(ws: Seq[String]) = ws.mkString(" ")
    val a = (0 until 20).map(i => ("A", doc(words.slice(i, i + 6))))
    val b = (0 until 20).map(i =>
      ("B", doc(if (i < 10) words.slice(i, i + 6)
                else words.slice(i, i + 6).map(_.toUpperCase))))
    val c = (0 until 20).map(i => ("C", doc(words.slice(i, i + 6).map("x" + _))))
    val a2 = (a ++ a ++ a).map { case (_, t) => ("A2", t) }
    // blank docs planted in A and C: without empty-token stripping they
    // would share the universal "" shingle and fake A↔C overlap
    val blanks = Seq(("A", ""), ("A", "   "), ("C", ""))
    val df = (a ++ b ++ c ++ a2 ++ blanks).toDF("source", "text")
    val got = graft.operators.Corpus
      .sourceOverlap(df, "source", "text", n = 3, k = 64)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(got(("A", "A2")) == 1.0,
      "row-duplicated corpus must have identical signature (set semantics)")
    assert(got(("A", "C")) == 0.0 && got(("A2", "C")) == 0.0)
    // exact Jaccard of A vs B shingle sets for the error bound
    def shset(rows: Seq[(String, String)]) = rows.flatMap { case (_, t) =>
      val ts = t.split("\\s+").toSeq
      if (ts.length < 3) Seq(ts.mkString(" "))
      else ts.sliding(3).map(_.mkString(" ")).toSeq
    }.toSet
    val exact = {
      val sa = shset(a); val sb = shset(b)
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    assert(math.abs(got(("A", "B")) - exact) <= 0.2,
      s"k=64 estimate ${got(("A", "B"))} too far from exact $exact")
  }

  test("sourceOverlap output shape: strict upper triangle, matches in [0,k]") {
    val out = graft.operators.Corpus
      .sourceOverlap(docs, "source", "text", n = 3, k = 16).collect()
    val srcs = docs.select("source").distinct().count()
    assert(out.length == srcs * (srcs - 1) / 2, "one row per unordered pair")
    out.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      val m = r.getLong(2)
      assert(m >= 0 && m <= 16)
      assert(r.getDouble(3) == math.rint(m / 16.0 * 1e4) / 1e4)
    }
  }

  // ---------------------------------------------------------------- novelty

  test("noveltyReport: copied deltas score 0, fresh 1, short NULL, mixed exact") {
    import spark.implicits._
    val w = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, w), (2L, (1 to 40).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val mixed = ((1 to 20).map(i => s"w$i") ++ (1 to 20).map(i => s"m$i"))
      .mkString(" ")
    val delta = Seq(
      (10L, w),                                   // verbatim re-crawl
      (11L, (1 to 40).map(i => s"f$i").mkString(" ")), // fresh text
      (12L, mixed),                               // half re-crawl
      (13L, "too short to gram")                  // < minTokens tokens
    ).toDF("doc_id", "text")
    val out = graft.operators.Decontaminate
      .noveltyReport(corpus, delta, "doc_id", "text", minTokens = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(10L).getDouble(3) == 0.0)
    assert(out(11L).getDouble(3) == 1.0)
    assert(out(13L).getLong(1) == 0L && out(13L).getLong(2) == 0L
      && out(13L).isNullAt(3))
    // mixed: the 13 grams fully inside the w-prefix (starts 1..13) are
    // seen; the 20 grams crossing into m-tokens are not — 33 total
    val m = out(12L)
    assert(m.getLong(1) == 33L && m.getLong(2) == 13L)
    assert(m.getDouble(3) == math.rint(20.0 / 33.0 * 1e6) / 1e6)
  }

  test("noveltyReport ≡ head-on gram anti-join (bloom exactness law)") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    val out = graft.operators.Decontaminate
      .noveltyReport(corpus, delta, "doc_id", "text", minTokens = 8)
    // re-derive with no bloom: distinct 8-token md5 grams, plain joins
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("ts"))
      .where(size(col("ts")) >= 8)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ts")) - 7),
        i => md5(concat_ws(" ", slice(col("ts"), i, lit(8)))))).as("h"))
      .distinct()
    val cg = grams(corpus).select("h").distinct()
    val dg = grams(delta)
    val expect = delta.select("doc_id")
      .join(dg.groupBy("doc_id").agg(count(lit(1)).as("n_grams")),
        Seq("doc_id"), "left")
      .join(dg.join(cg, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_seen")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(col("n_grams") > 0,
          round((col("n_grams") - coalesce(col("n_seen"), lit(0L)))
            .cast("double") / col("n_grams").cast("double"), 6))
          .as("novelty"))
    assert(out.orderBy("doc_id").collect().toSeq
      == expect.orderBy("doc_id").collect().toSeq)
  }

  // -------------------------------------------------------------- divergence

  test("divergenceReport matches the closed-form KL/JS on a planted corpus") {
    import spark.implicits._
    val planted = Seq(
      ("A", "x x y"), ("B", "x z z")
    ).toDF("source", "text")
    val out = graft.operators.Corpus
      .divergenceReport(planted, "source", "text", maxVocab = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    // vocab (count desc, term asc): x, z; y folds to <oov>; B = 3
    val counts = Map("A" -> Seq(2L, 0L, 1L), "B" -> Seq(1L, 2L, 0L))
    val globalC = Seq(3L, 2L, 1L)
    val bigN = 6L
    for ((s, cs) <- counts) {
      val ps = cs.map(c => (c + 1.0) / (3 + 3))
      val qs = globalC.map(c => (c + 1.0) / (bigN + 3))
      val kl = ps.zip(qs).map { case (p, q) => p * math.log(p / q) }.sum
      val js = ps.zip(qs).map { case (p, q) =>
        val m = (p + q) / 2.0
        p * math.log(p / m) + q * math.log(q / m)
      }.sum / 2.0
      val r = out(s)
      assert(r.getLong(1) == 3L, s"tokens of $s")
      assert(r.getDouble(2) == math.rint(kl * 1e6) / 1e6, s"kl of $s")
      assert(r.getDouble(3) == math.rint(js * 1e6) / 1e6, s"js of $s")
    }
  }

  test("divergence laws on the fixture: kl >= 0, js in [0, ln 2]") {
    val out = graft.operators.Corpus
      .divergenceReport(docs, "source", "text", maxVocab = 64).collect()
    assert(out.length == docs.select("source").distinct().count())
    out.foreach { r =>
      assert(r.getDouble(2) >= 0.0, s"negative KL for ${r.getString(0)}")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= math.log(2.0) + 1e-9,
        s"JS out of range for ${r.getString(0)}")
    }
  }

  // ------------------------------------------------------------ gopher rules

  test("gopherReport: every rule fires on its planted doc, clean doc passes") {
    import spark.implicits._
    import graft.operators.Quality
    val good = "the data value and tools go well with more the data rows here now"
    val corpus = Seq(
      (1L, good),                                         // passes everything
      (2L, "- item one\nthe body of and that have with text here"), // bullet
      (3L, "the data ### and ## more with # text here now"),        // symbols
      (4L, "the lead and line with words here\nto be continued ..."), // ellipsis
      (5L, "the 11 22 33 44 55 66 77 88 and"),            // alpha < 0.8
      (6L, "hi"),                                         // < minWords
      (7L, ""),                                           // no words at all
      (8L, "zz qq rr ss tt uu vv ww xx yy")               // 0 stopword hits
    ).toDF("doc_id", "text")
    val out = Quality.gopherReport(corpus, "doc_id", "text",
        Quality.GopherParams(minWords = 5, maxWords = 100))
      .collect().map(r => r.getLong(0) -> r).toMap

    val g1 = out(1L)
    val w = good.split("\\s+")
    assert(g1.getLong(1) == w.length)
    assert(g1.getDouble(2) ==
      math.rint(w.map(_.length).sum.toDouble / w.length * 1e6) / 1e6)
    assert(g1.getDouble(3) == 0.0 && g1.getDouble(4) == 0.0
      && g1.getDouble(5) == 0.0 && g1.getDouble(6) == 1.0)
    assert(g1.getInt(7) == 3 && g1.getInt(8) == 1) // the/and/with

    assert(out(2L).getDouble(4) == 0.5 && out(2L).getInt(8) == 0)
    assert(out(3L).getDouble(3) ==
      math.rint(6.0 / 11 * 1e6) / 1e6 && out(3L).getInt(8) == 0)
    assert(out(4L).getDouble(5) == 0.5 && out(4L).getInt(8) == 0)
    assert(out(5L).getDouble(6) == 0.2 && out(5L).getInt(8) == 0)
    assert(out(6L).getLong(1) == 1L && out(6L).getInt(8) == 0)
    val empty = out(7L)
    assert(empty.getLong(1) == 0L && empty.isNullAt(2) && empty.isNullAt(3)
      && empty.isNullAt(6) && empty.getInt(8) == 0)
    assert(!empty.isNullAt(4) && empty.getDouble(4) == 0.0) // lines exist
    assert(out(8L).getInt(7) == 0 && out(8L).getInt(8) == 0)
  }

  test("stripHtml: blocks dropped whole, tags spaced, entities decoded in order") {
    import spark.implicits._
    import graft.functions.TextFunctions.stripHtml
    val cases = Seq(
      // script content with a bare `<` must vanish entirely, not leak
      ("<p>a</p><script>if (x < 3) alert('hi')</script><p>b</p>", "a b"),
      // multi-line style block (the (?s) flag), uppercase tag names
      ("<STYLE>\np { x }\n</STYLE>before<BR/>after", "before after"),
      // comments spanning lines; tags become spaces, never welds
      ("one<!-- two\nthree --><b>four</b>five", "one four five"),
      // entity decode order: a literal &amp;lt; is the TEXT "&lt;"
      ("x &amp;lt; y &lt; z &quot;q&quot; &#39;s&#39; &nbsp;w", // decode
        "x &lt; y < z \"q\" 's' w"),
      ("plain text, no markup", "plain text, no markup"),
      ("", ""))
    val out = cases.map(_._1).toDF("h")
      .select(stripHtml(col("h")).as("t")).collect().map(_.getString(0))
    cases.map(_._2).zip(out).zipWithIndex.foreach { case ((exp, got), i) =>
      assert(got == exp, s"case $i: expected '$exp', got '$got'")
    }
  }

  test("canonicalizeUrl: every rule, and only identity-preserving ones") {
    import spark.implicits._
    import graft.functions.TextFunctions.canonicalizeUrl
    val cases = Seq(
      // scheme/host case, www., default port, fragment, trailing slash
      ("HTTPS://WWW.Example.COM:443/A/B/#x", "https://example.com/A/B"),
      // path case PRESERVED; params sorted; tracking dropped
      ("http://a.com/P?z=1&utm_source=rss&a=2&fbclid=F", "http://a.com/P?a=2&z=1"),
      // non-default port and userinfo kept (they ARE identity)
      ("http://U:p@A.com:8080/x", "http://u:p@a.com:8080/x"),
      // https keeps :80 (not its default); http keeps :443
      ("https://a.com:80/", "https://a.com:80/"),
      // empty path normalizes to /; query-only URL keeps params
      ("http://A.com?b=2&a=1", "http://a.com/?a=1&b=2"),
      // all params tracking -> no query at all
      ("http://a.com/x?utm_a=1&utm_b=2", "http://a.com/x"),
      // www. strips even behind userinfo (host starts after the '@')
      ("http://u:p@WWW.Site.com/x", "http://u:p@site.com/x"),
      // a BARE tracker (no '=') is the same tracker
      ("http://a.com/x?gclid&b=1", "http://a.com/x?b=1"),
      // ...but a prefix-sharing REAL param survives
      ("http://a.com/x?gclidx=1", "http://a.com/x?gclidx=1"),
      // not a URL: trimmed passthrough
      ("  not a url  ", "not a url"))
    val out = cases.map(_._1).toDF("u")
      .select(canonicalizeUrl(col("u")).as("c")).collect().map(_.getString(0))
    cases.map(_._2).zip(out).zipWithIndex.foreach { case ((exp, got), i) =>
      assert(got == exp, s"case $i: expected '$exp', got '$got'")
    }
    // the dedup law: surface variants of one page share one key
    val variants = Seq(
      "http://www.site.com/p?a=1&b=2",
      "HTTP://SITE.com:80/p/?b=2&a=1&utm_c=9#top")
    val keys = variants.toDF("u")
      .select(canonicalizeUrl(col("u"))).collect().map(_.getString(0)).toSet
    assert(keys == Set("http://site.com/p?a=1&b=2"), s"variants split: $keys")
  }

  test("repetitionReport: hand-computed fractions on a planted doc") {
    import spark.implicits._
    import graft.operators.Quality
    // 3 lines: "a b c d" twice (duplicates) + "x y z" once
    val text = "a b c d\nx y z\na b c d"
    val corpus = Seq((1L, text), (2L, "p q r s t"), (3L, ""))
      .toDF("doc_id", "text")
    val out = Quality.repetitionReport(corpus, "doc_id", "text",
        topN = 2, dupN = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) == 3L)                       // n_lines
    assert(r1.getDouble(2) == math.rint(2.0 / 3 * 1e6) / 1e6) // 2 dup lines
    // dup chars: 2*7 of 7+5+7 line chars
    assert(r1.getDouble(3) == math.rint(14.0 / 19 * 1e6) / 1e6)
    // 2-grams: "a b","b c","c d" twice each; "d x","z a" etc once; the
    // tie among count-2 grams breaks to "a b" (len 3); text len 21
    assert(r1.getDouble(4) == math.rint(2.0 * 3 / 21 * 1e6) / 1e6)
    // duplicated 3-grams: "a b c","b c d" twice each, len 5 -> 2*5+2*5
    assert(r1.getDouble(5) == math.rint(20.0 / 21 * 1e6) / 1e6)
    val r2 = out(2L) // no repetition at all
    assert(r2.getLong(1) == 1L && r2.getDouble(2) == 0.0
      && r2.getDouble(3) == 0.0 && r2.getDouble(5) == 0.0)
    assert(r2.getDouble(4) == math.rint(1.0 * 3 / 9 * 1e6) / 1e6) // "p q" once
    val r3 = out(3L) // empty doc: one empty line, no grams
    assert(r3.getLong(1) == 1L && r3.getDouble(2) == 0.0
      && r3.getDouble(3) == 0.0 && r3.isNullAt(4) && r3.isNullAt(5))
  }

  test("repetitionReport and removeRepeatedLines: a NULL text row") {
    import spark.implicits._
    import graft.operators.{Dedup, Quality}
    val corpus = Seq((1L, "a b\na b"), (2L, null: String)).toDF("doc_id", "text")
    val r = Quality.repetitionReport(corpus, "doc_id", "text")
      .where(col("doc_id") === 2L).head()
    // no lines, no grams: NULL everywhere but the char-weighted line
    // fraction, whose zero-denominator branch reports 0
    assert(r.isNullAt(1) && r.isNullAt(2) && r.getDouble(3) == 0.0
      && r.isNullAt(4) && r.isNullAt(5))
    val fixed = Dedup.removeRepeatedLines(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(fixed == Map(1L -> Some("a b"), 2L -> None))
  }

  test("gopherReport fixture laws: ratios bounded, verdict consistent") {
    import graft.operators.Quality
    val out = Quality.gopherReport(docs, "doc_id", "text",
      Quality.GopherParams(minWords = 10, maxWords = 1000,
        stopwords = Seq("the", "a", "data", "value", "table"))).collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      for (i <- Seq(3, 4, 5, 6) if !r.isNullAt(i))
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0,
          s"ratio $i out of range for doc ${r.getLong(0)}")
      assert(r.getInt(8) == 0 || r.getInt(8) == 1)
      if (r.getLong(1) == 0L) assert(r.getInt(8) == 0)
    }
    // fixture docs are clean prose-like token streams: most should pass
    assert(out.count(_.getInt(8) == 1) > out.length / 2)
  }

  // ------------------------------------------------------------------
  // nearDupDelta restructure equivalence
  // ------------------------------------------------------------------

  test("nearDupDelta after the r18 Par restructure: cross hits drop the " +
    "whole delta component, fresh components keep their min id, and a " +
    "provided carved index gives the same survivors as the built one") {
    val mk = (id: Long, t: String) => (id, t)
    val corpusDocs = Seq(
      mk(2L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(4L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val deltaDocs = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta"), // cross dup
      mk(3L, "nine ten eleven twelve thirteen fourteen fifteen"), // fresh
      mk(5L, "nine ten eleven twelve thirteen fourteen fifteen")  // twin of 3
    ).toDF("doc_id", "text")
    val corpusIdx = Dedup.buildShingleIndex(corpusDocs, "doc_id", "text", 3)
    val (survBuilt, deltaIdx) = Dedup.nearDupDelta(
      Some(corpusIdx), deltaDocs, "doc_id", "text")
    assert(survBuilt.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(3L), "1 drops (cross), 3 survives (component min), 5 drops")
    // carved-index form: same survivors
    val (survCarved, _) = Dedup.nearDupDelta(
      Some(corpusIdx), deltaDocs, "doc_id", "text",
      deltaShinglesDf = Some(deltaIdx))
    assert(survCarved.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(3L))
  }
}

/** A stand-in for an ffmpeg binding behind the [[Multimodal.VideoDecoder]]
  * seam: reads only blobs starting with the "XVID" magic. Top-level (not
  * nested in the suite) so the mapPartitions closure serializes it without
  * dragging the ScalaTest outer class along. */
private object MagicVideoDecoder extends Multimodal.VideoDecoder {
  def decode(bytes: Array[Byte], maxFrames: Int): Option[Multimodal.VideoClip] =
    if (bytes.length >= 5 && bytes.take(4).sameElements("XVID".getBytes("US-ASCII"))) {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      while (i < 8) { img.setRGB(i, i, 0xffffff); i += 1 }
      Some(Multimodal.VideoClip(Seq(img), 40000L))
    } else None
}
