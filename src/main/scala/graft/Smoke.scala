package graft

import graft.util.GraftSession

/** Local replica of the driver's t1 smoke: run SparkEntry.entry on sf0.001
  * and require rows > 0. Usage: sbt "runMain graft.Smoke [sfDir]". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n cols=${df.columns.mkString(",")}")
    df.show(5, truncate = false)
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
