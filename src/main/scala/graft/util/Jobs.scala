package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark job labels and the one job counter. */
object Jobs {

  /** Job-description labeling (guide §1.5) that RESTORES the caller's
    * previous description instead of clearing it: a labeled region
    * inside a Par leg or an outer labeled scope must not wipe the outer
    * label for the jobs that follow it (the old
    * `finally setJobDescription(null)` pattern did exactly that). The
    * property is thread-local, so concurrent legs label independently. */
  def labeled[A](sc: SparkContext, what: String)(body: => A): A = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try body finally sc.setJobDescription(prev)
  }

  /** `body`'s result and the Spark jobs started while it ran, counted by
    * a listener. Listener events arrive on an asynchronous bus, so a
    * marked job runs AFTER `body` and the count is read only once the
    * listener has seen it: every job of `body` is counted, and none of
    * the marker's. With a `description`, only jobs carrying that job
    * description (a [[labeled]] label) count. */
  def counted[A](spark: SparkSession, description: String = null)
                (body: => A): (A, Int) = {
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
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup("graft-job-count-marker", "flush")
      spark.range(1).count()
      sc.clearJobGroup()
      if (!markerSeen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus never flushed")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
