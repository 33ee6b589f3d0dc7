package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, counted by a listener. A marked
    * job afterwards flushes the listener bus, so the count is complete.
    * With a `description`, only jobs carrying that job description
    * (a `Jobs.labeled` label) count. */
  protected def jobsDuring(body: => Unit, description: String = null): Int = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse("")
        val desc = Option(js.properties)
          .map(_.getProperty("spark.job.description")).orNull
        if (group == "graft-job-count-marker") markerSeen.countDown()
        else if (description == null || description == desc)
          jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup("graft-job-count-marker", "flush")
      spark.range(1).count()
      spark.sparkContext.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener bus never flushed")
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
