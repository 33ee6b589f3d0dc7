package graft
import graft.util.{GraftSession, Jobs}

/** Single-query profiler: sbt "runMain graft.QBench <name> [reps] [sfDir]".
  * Prints per-rep wall time and the rep's Spark job count; use with the
  * Spark UI off and explain on demand (SPARK_GRAFT_EXPLAIN=1). */
object QBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    // comma-separated names: profile several queries in ONE JVM (startup
    // costs ~30 s per sbt runMain — amortize it across a profiling sweep)
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { nm =>
      val fn = SparkEntry.queries(nm)
      (1 to reps).foreach { r =>
        // the job count's flush job runs after the timed region
        val ((n, secs), jobs) = Jobs.counted(spark) {
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
        println(f"[qbench] $nm rep$r $secs%.2fs rows=$n jobs=$jobs")
      }
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
      if (sys.env.contains("SPARK_GRAFT_SHOW"))
        fn(spark, sfDir).show(50, truncate = false)
    }
    spark.stop()
  }
}
