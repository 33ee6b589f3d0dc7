package graft

import org.apache.spark.sql.functions._

import graft.util.GraftSession

/** Exponent probe for the [[ScaleProbe]] superlinear TAIL: the full
  * 8× gate passes the steepest steps (subspan / dsir / dupshare) under
  * its 12× bound, but a single factor cannot distinguish O(n log n)
  * from O(n^1.5) — both look like "somewhat above linear" at 8×. This
  * probe times ONLY those steps at 1×, 8×, and 32× (same replica
  * construction, [[ScaleProbe.replicateDocs]]) and fits the growth
  * exponent from the 8×→32× segment:
  *
  *   exp = ln(t32/t8) / ln 4
  *
  * O(n) → 1.0; O(n log n) → ~1.05–1.1 at these sizes; O(n^1.5) → 1.5;
  * quadratic → 2. The gate FAILS a step whose 8×→32× ratio exceeds
  * 1.5× linear (t32/t8 > 6) once the 8× time clears the noise floor —
  * the same clamp doctrine as the main probe.
  *
  * `sbt "runMain graft.ScaleTail [sfDir] [outJson]"` → one JSON line +
  * `SCALE_TAIL.json`, nonzero exit on gate failure.
  */
object ScaleTail {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outJson = if (args.length > 1) args(1) else "SCALE_TAIL.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)

    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val nDocs = docs1.count()

    def timed(what: String)(body: => Long): Double = {
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[tail] $what%-28s $sec%8.2fs rows=$rows")
      sec
    }

    // the three steepest 8x steps, bodies identical to ScaleProbe's
    def suite(tag: String, d: org.apache.spark.sql.DataFrame)
    : Map[String, Double] = Map(
      "subspan" -> timed(s"$tag duplicate spans") {
        graft.operators.Dedup.duplicateSpans(d, "doc_id", "text",
          minTokens = 12).count()
      },
      "dupshare" -> timed(s"$tag dup-ngram share") {
        graft.operators.Corpus.duplicateNgramShare(d, "doc_id", "text").count()
      },
      // joined round 16: its 8x gate ratio crossed 4 (5.0x) — the same
      // over-4 criterion that picked the original three steps
      "lmscore" -> timed(s"$tag bigram LM score") {
        graft.operators.Corpus.lmScore(d, "doc_id", "text").count()
      },
      "dsir" -> timed(s"$tag importance resample") {
        graft.operators.Sampling.importanceResample(
          d, d.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
          budget = 100, buckets = 512).count()
      },
      // joined round 17: its 8x gate ratio crossed 4 (4.1x) — the same
      // over-4 criterion as the rest of the suite
      "srcoverlap" -> timed(s"$tag source overlap matrix") {
        graft.operators.Corpus.sourceOverlap(
          d.withColumn("source", pmod(col("doc_id"), lit(20)).cast("string")),
          "source", "text", n = 3, k = 32).count()
      })

    val noiseFloorSec = 0.3
    val factors = Seq(1, 8, 32)
    val byFactor = factors.map { f =>
      val d = ScaleProbe.replicateDocs(docs1, f)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count()
      val r = suite(s"${f}x", d)
      d.unpersist()
      f -> r
    }.toMap

    def num(d: Double): String = f"$d%.4f".replace(",", ".")
    val steps = byFactor(1).keySet.toSeq.sorted.map { k =>
      val (t1, t8, t32) = (byFactor(1)(k), byFactor(8)(k), byFactor(32)(k))
      val seg = t32 / math.max(t8, noiseFloorSec)
      val exp = math.log(math.max(seg, 1e-9)) / math.log(4.0)
      val gated = t32 >= noiseFloorSec
      val pass = !gated || seg <= 6.0 // 1.5x linear over the 4x segment
      println(f"[tail] $k%-10s 1x=$t1%.2fs 8x=$t8%.2fs 32x=$t32%.2fs " +
        f"seg(8->32)=$seg%.2f exp=$exp%.2f " +
        (if (!gated) "(clamped)" else if (pass) "PASS" else "FAIL"))
      (k, t1, t8, t32, seg, exp, gated, pass)
    }
    val allPass = steps.forall(_._8)
    val json = steps.map { case (k, t1, t8, t32, seg, exp, gated, pass) =>
      s""""$k":{"t1":${num(t1)},"t8":${num(t8)},"t32":${num(t32)},""" +
        s""""seg_ratio":${num(seg)},"exponent":${num(exp)},""" +
        s""""gated":$gated,"pass":$pass}"""
    }.mkString(
      s"""{"factors":[1,8,32],"sf":"$sfDir","seg_bound":6.0,""" +
        s""""noise_floor_sec":${num(noiseFloorSec)},"docs_1x":$nDocs,""" +
        s""""steps":{""", ",", s"""},"pass":$allPass}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
