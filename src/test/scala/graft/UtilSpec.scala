package graft

import org.apache.spark.sql.functions._

/** Engine utilities and driver helpers: the `Stage.materialize` policy,
  * `Par.run`'s failure contract, `Jobs.labeled` restoration, the bench
  * record comparator and the scale-probe replica ids. */
class UtilSpec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------------------
  // collision-proof scale replicas
  // ------------------------------------------------------------------

  test("replicateDocs ids stay unique and replica-disjoint past the old " +
    "10M stride; negative ids fail by name") {
    val docs = Seq((9999999L, "x y"), (10000001L, "p q"), (0L, "a b"))
      .toDF("doc_id", "text")
    val out = ScaleProbe.replicateDocs(docs, 3)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.map(_._1).distinct.length == 9,
      "replica ids must be unique for ids past the old additive stride")
    // replica-disjoint shingles: every token carries its replica suffix
    assert(out.forall { case (_, t) =>
      t.split(" ").forall(w => w.endsWith("_0") || w.endsWith("_1") ||
        w.endsWith("_2")) })
    val neg = Seq((-1L, "a")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      ScaleProbe.replicateDocs(neg, 2).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") +
        messages(t.getCause)
    assert(messages(e).contains("negative doc_id"))
  }

  // ------------------------------------------------------------------
  // bench cross-round comparator
  // ------------------------------------------------------------------

  test("BenchCompare.parsePrevMins reads both artifact generations " +
    "(query_stats wins over flat queries, failed sentinels dropped) " +
    "and latestRecord picks the highest round") {
    // r16+ shape: query_stats with min/med/max; flat queries alongside
    val modern = """{"queries":{"q1":2.5,"q2":1.0,"q3":-1.0},
      |"query_stats":{"q1":{"min":2.0,"med":2.5,"max":3.0,
      |"suspect":false},"q3":{"min":-1.0,"med":-1.0,"max":-1.0,
      |"suspect":false}}}""".stripMargin.replace("\n", "")
    val m = BenchCompare.parsePrevMins(modern)
    assert(m("q1") == 2.0, "query_stats.min wins over the flat value")
    assert(m("q2") == 1.0, "flat fallback for entries without stats")
    assert(!m.contains("q3"), "failed sentinel (-1) must be dropped")
    // r15-and-earlier shape: flat queries only (values were min-of-reps)
    val legacy = """{"queries":{"q1":3.25,"build_cube":10.5}}"""
    val l = BenchCompare.parsePrevMins(legacy)
    assert(l == Map("q1" -> 3.25, "build_cube" -> 10.5))
    // latestRecord: highest round number wins, other files ignored
    val dir = java.nio.file.Files.createTempDirectory("benchrec")
    for (n <- Seq(2, 10, 9)) java.nio.file.Files.write(
      dir.resolve(s"BENCH_REPS10_r$n.json"), "{}".getBytes("UTF-8"))
    java.nio.file.Files.write(
      dir.resolve("BENCH_r99.json"), "{}".getBytes("UTF-8"))
    assert(BenchCompare.latestRecord(dir).map(_.getFileName.toString)
      .contains("BENCH_REPS10_r10.json"))
    assert(BenchCompare.latestRecord(
      java.nio.file.Files.createTempDirectory("benchempty")).isEmpty)
  }

  test("BenchCompare.baselineMismatch refuses, by name, a record taken " +
    "at another sf or core count") {
    val rec = """{"cpus":"32","sf":"/d/sf0.1","queries":{"q1":1.0}}"""
    assert(BenchCompare.baselineMismatch(rec, "/d/sf0.1", 32).isEmpty)
    assert(BenchCompare.baselineMismatch(rec, "/d/sf0.01", 32)
      .contains("its sf is /d/sf0.1, this run's is /d/sf0.01"))
    assert(BenchCompare.baselineMismatch(rec, "/d/sf0.1", 4)
      .contains("its cpus is 32, this run's is 4"))
    // an older record that never stated its core count is refused too
    assert(BenchCompare.baselineMismatch("""{"sf":"/d/sf0.1"}""",
      "/d/sf0.1", 32).contains("its cpus is unrecorded, this run's is 32"))
  }

  // ------------------------------------------------------------------
  // Stage.materialize policy
  // ------------------------------------------------------------------

  test("Stage.materialize default = localCheckpoint (truncated lineage, " +
    "same rows); reliable mode = reliable checkpoint under the conf " +
    "switch with no call-site change") {
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val local = graft.util.Stage.materialize(df)
    def isBarrier(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.logical.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD]
    assert(isBarrier(local), "default mode must checkpoint (plan barrier)")
    assert(local.collect().map(_.getLong(1)).sorted.toSeq ==
      df.collect().map(_.getLong(1)).sorted.toSeq)
    val dir = java.nio.file.Files.createTempDirectory("stage_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val reliable = graft.util.Stage.materialize(df)
      assert(isBarrier(reliable), "reliable mode must checkpoint too")
      assert(reliable.collect().map(_.getLong(1)).sorted.toSeq ==
        df.collect().map(_.getLong(1)).sorted.toSeq)
      // the reliable checkpoint actually landed in the checkpoint dir
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try assert(files.filter(java.nio.file.Files.isRegularFile(_))
        .count() > 0, "reliable checkpoint wrote no files")
      finally files.close()
    } finally spark.conf.set("spark.graft.checkpoint.reliable", "false")
  }

  // ------------------------------------------------------------------
  // Par.run failure contract
  // ------------------------------------------------------------------

  test("Par.run: first failure (input order) propagates with the other " +
    "legs' failures suppressed; successful legs still ran (no-cancel)") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException](graft.util.Par.run[Int](Seq(
      () => { ran.incrementAndGet(); 1 },
      () => throw new IllegalStateException("leg-b"),
      () => throw new IllegalArgumentException("leg-c"),
      () => { ran.incrementAndGet(); 4 })))
    assert(e.getMessage == "leg-b", "first failure in input order wins")
    assert(e.getSuppressed.exists(_.getMessage == "leg-c"),
      "later failures must attach via addSuppressed, not vanish")
    assert(ran.get() == 2, "non-failing legs run to completion")
  }

  test("Par.run returns results in input order") {
    assert(graft.util.Par.run[Int](
      Seq(() => { Thread.sleep(50); 1 }, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  // ------------------------------------------------------------------
  // Jobs.labeled restoration
  // ------------------------------------------------------------------

  test("Jobs.labeled restores the caller's previous job description " +
    "instead of clearing it (nested labels keep the outer scope)") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      graft.util.Jobs.labeled(sc, "inner") {
        assert(sc.getLocalProperty("spark.job.description") == "inner")
      }
      assert(sc.getLocalProperty("spark.job.description") == "outer",
        "outer label must survive a nested labeled region")
    } finally sc.setJobDescription(null)
    graft.util.Jobs.labeled(sc, "solo")(())
    assert(sc.getLocalProperty("spark.job.description") == null,
      "a null previous description must be restored as null")
  }
}
