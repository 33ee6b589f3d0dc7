package graft.util

import org.apache.spark.sql.SparkSession

/** The one local session config every `main` in `graft` runs with, so
  * correctness, smoke, scale and bench runs all plan the same way. AQE
  * on; shuffle partitions sized to the core count (not 200 — at local
  * scale oversized shuffles dominate runtime). */
object GraftSession {

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "128m")
      // columnar-cache compression costs CPU at build time; the box has
      // RAM to spare, so cache uncompressed
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // heap comes from build.sbt's -Xmx (SPARK_DRIVER_MEM, default 32g);
      // spark.driver.memory set here post-JVM-start would be a no-op
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
