package graft
import graft.util.GraftSession

/** Single-query profiler: sbt "runMain graft.QBench <name> [reps] [sfDir]".
  * Prints per-rep wall time; use with the Spark UI off and explain on
  * demand (SPARK_GRAFT_EXPLAIN=1). */
object QBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    // SPARK_GRAFT_JOBLOG=1: per-job wall time + call site on stderr —
    // the guide-§1 "where does the time go" instrument for multi-job
    // queries (closures, index builds, eager materializations), since
    // the UI is off in bench runs
    if (sys.env.contains("SPARK_GRAFT_JOBLOG")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val site = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description"))
                .orElse(Option(p.getProperty("callSite.short"))))
              .getOrElse("?")
            starts.put(j.jobId, (System.nanoTime(), site)): Unit
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            Option(starts.remove(j.jobId)).foreach { case (t0, site) =>
              System.err.println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3fs  $site")
            }
          }
        })
    }
    // comma-separated names: profile several queries in ONE JVM (startup
    // costs ~30 s per sbt runMain — amortize it across a profiling sweep)
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { nm =>
      val fn = SparkEntry.queries(nm)
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[qbench] $nm rep$r ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      }
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
      if (sys.env.contains("SPARK_GRAFT_SHOW"))
        fn(spark, sfDir).show(50, truncate = false)
    }
    spark.stop()
  }
}
