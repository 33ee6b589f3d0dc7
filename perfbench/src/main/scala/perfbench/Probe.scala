package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** The benchmark's Spark listener. It records raw job and stage events
  * and sums task metrics per stage; the benchmark attributes them to its
  * operations afterwards by event time, because listener events arrive
  * asynchronously and jobs started on `Par` worker threads carry none of
  * the caller's local properties. */
final class Probe extends SparkListener {
  import Probe._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, desc, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submitted = i.submissionTime.getOrElse(-1L)
    s.completed = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    val info = e.taskInfo
    s.synchronized {
      s.tasks += 1
      if (!info.successful) s.failedTasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.computeIfAbsent((id, attempt), _ => new Stage(id, attempt))

  /** Jobs started in [from, to] (epoch ms), oldest first. */
  def jobsBetween(from: Long, to: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.start >= from && j.start <= to)
      .toSeq.sortBy(_.start)

  /** Every attempt of the given stages. */
  def stagesOf(ids: Seq[Int]): Seq[Stage] = {
    val want = ids.toSet
    stages.values.asScala.filter(s => want(s.id)).toSeq
  }
}

object Probe {
  final case class Job(id: Int, start: Long, end: Long, desc: String,
                       stageIds: Seq[Int])

  final class Stage(val id: Int, val attempt: Int) {
    var submitted = -1L
    var completed = -1L
    var tasks = 0L
    var failedTasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    var schedDelayMs = 0L
  }

  /** Total length of the union of [start, end] intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Sums a metric over the stages of `js`. */
  def sumStages(p: Probe, js: Seq[Job])(f: Stage => Long): Long =
    p.stagesOf(js.flatMap(_.stageIds)).map(s => s.synchronized(f(s))).sum

  /** Phase labels always reported; any other label seen is reported too. */
  private[perfbench] val labelPrefixes: Seq[String] = Seq("er", "er-delta", "v4")

  /** The phase label of a job: its description (`Jobs.labeled`) up to the
    * first colon. */
  def label(desc: String): Option[String] = {
    val i = desc.indexOf(':')
    if (i > 0 && !desc.take(i).exists(_.isWhitespace)) Some(desc.take(i)) else None
  }
}
