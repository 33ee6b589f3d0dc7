package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Spans and per-layer metrics of a traced timed section. Spans nest
  * operation -> construct/action -> Spark job -> stage; each job belongs
  * to the operation, and the phase, during which it started. */
object Trace {

  private final case class Span(id: Int, parent: Int, layer: String,
                                name: String, start: Long, end: Long)

  /** `untraced` is a timed section run right after the traced one with the
    * listener removed; the ratio of their median latencies is the tracing
    * overhead. */
  def perLayer(cpus: Int, w: Main.Window, untraced: Main.Window, probe: Probe,
               setup: Map[String, Double], kernels: Seq[(String, Double)],
               spansOut: Path): Seq[(String, String)] = {
    val runs = w.runs
    val n = math.max(1, runs.size).toDouble
    val jobsOf = runs.map(r => probe.jobsBetween(r.start, r.end))
    val allJobs = jobsOf.flatten
    def stageSum(f: Probe.Stage => Long): Long = Probe.sumStages(probe, allJobs)(f)
    val stages = probe.stagesOf(allJobs.flatMap(_.stageIds))

    // spans, and self time per layer (a span minus what its children cover)
    val spans = mutable.ArrayBuffer.empty[Span]
    val self = mutable.LinkedHashMap("operation" -> 0L, "construct" -> 0L,
      "action" -> 0L, "job" -> 0L, "stage" -> 0L)
    def add(parent: Int, layer: String, name: String, s: Long, e: Long): Int = {
      spans += Span(spans.size, parent, layer, name, s, e)
      spans.size - 1
    }
    def clip(s: Long, e: Long, lo: Long, hi: Long) = (math.max(s, lo), math.min(e, hi))
    runs.zip(jobsOf).foreach { case (r, js) =>
      val op = add(-1, "operation", r.key, r.start, r.end)
      val phases = Seq(("construct", r.start, r.constructEnd),
        ("action", r.constructEnd, r.end))
      self("operation") += (r.end - r.start) -
        Probe.covered(phases.map(p => (p._2, p._3)))
      phases.foreach { case (layer, s, e) =>
        val ph = add(op, layer, r.key, s, e)
        val inPhase = js.filter(j => j.start >= s && (j.start < e || layer == "action"))
        self(layer) += (e - s) - Probe.covered(inPhase.map(j => clip(j.start, j.end, s, e)))
        inPhase.foreach { j =>
          val jid = add(ph, "job", s"job ${j.id} ${j.desc}".trim, j.start, j.end)
          val st = probe.stagesOf(j.stageIds).filter(_.submitted > 0)
          self("job") += (j.end - j.start) -
            Probe.covered(st.map(x => clip(x.submitted, x.completed, j.start, j.end)))
          st.foreach { x =>
            add(jid, "stage", s"stage ${x.id}.${x.attempt}", x.submitted, x.completed)
            self("stage") += x.completed - x.submitted
          }
        }
      }
    }
    Files.write(spansOut, spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.quote(s.layer), "name" -> Json.quote(s.name),
        "start" -> s.start.toString, "end" -> s.end.toString))
    }.mkString("", "\n", "\n").getBytes(UTF_8))

    val opWallMs = runs.map(r => (r.end - r.start).toDouble).sum
    val gapMs = runs.zip(jobsOf).map { case (r, js) =>
      (r.end - r.start) - Probe.covered(js.map(j => (math.max(j.start, r.start),
        math.min(if (j.end > 0) j.end else r.end, r.end))))
    }.sum
    val eager = runs.zip(jobsOf).map { case (r, js) =>
      js.count(_.start <= r.constructEnd && r.constructEnd > r.start)
    }.sum
    val olap = runs.filter(_.kind == "olap")
    val ops = runs.filter(_.kind != "olap")
    val v4 = runs.zip(jobsOf).filter(_._1.kind == "v4")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val runMs = stageSum(_.runMs).toDouble
    val mb = 1e6

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    m("spark.jobs_per_op") = (allJobs.size / n, "count")
    m("spark.eager_jobs_per_op") = (eager / n, "count")
    m("spark.driver_gap_ms_per_op") = (gapMs / n, "ms")
    m("spark.scheduler_delay_ms_per_op") = (stageSum(_.schedDelayMs) / n, "ms")
    m("spark.tasks_per_op") = (stageSum(_.tasks) / n, "count")
    m("spark.stages_per_op") = (stages.size / n, "count")
    m("spark.executor_cpu_s_per_op") = (stageSum(_.cpuNs) / 1e9 / n, "s")
    m("spark.executor_run_s_per_op") = (runMs / 1000 / n, "s")
    m("spark.core_busy_ratio") = (if (opWallMs > 0) runMs / (opWallMs * cpus) else 0.0, "1")
    m("spark.shuffle_read_mb_per_op") = (stageSum(_.shuffleRead) / mb / n, "MB")
    m("spark.shuffle_write_mb_per_op") = (stageSum(_.shuffleWrite) / mb / n, "MB")
    m("spark.spill_mb") = (stageSum(_.spill) / mb, "MB")
    m("spark.gc_s") = (stageSum(_.gcMs) / 1000.0, "s")
    m("spark.failed_tasks") = (stageSum(_.failedTasks).toDouble, "count")
    m("spark.stage_retries") = (stages.count(_.attempt > 0).toDouble, "count")
    m("model.construct_ms") = (mean(olap.map(_.constructS * 1000)), "ms")
    m("model.action_ms") = (mean(olap.map(_.actionS * 1000)), "ms")
    m("builders.cube_build_s") = (setup.getOrElse("cube_build_s", 0.0), "s")
    m("operators.summaries_build_s") = (setup.getOrElse("summaries_build_s", 0.0), "s")
    m("queries.v4_build_s") = (mean(v4.map(_._1.constructS)), "s")
    m("queries.v4_build_jobs") = (mean(v4.map(_._2.size.toDouble)), "count")
    m("operators.construct_s_per_op") = (mean(ops.map(_.constructS)), "s")
    m("operators.action_s_per_op") = (mean(ops.map(_.actionS)), "s")
    (Probe.labelPrefixes ++ allJobs.flatMap(j => Probe.label(j.desc)).distinct.sorted)
      .distinct.foreach { l =>
      val js = allJobs.filter(j => Probe.label(j.desc).contains(l))
      m(s"operators.phase.${l}_s") =
        (js.map(j => math.max(0L, j.end - j.start)).sum / 1000.0 / n, "s")
      m(s"operators.phase.${l}_jobs") = (js.size / n, "count")
    }
    Seq("tokens", "langId", "stripHtmlBlocks", "shingles", "repetitionRatio").foreach { k =>
      m(s"functions.${k}_ns_per_row") = (kernels.toMap.getOrElse(k, 0.0), "ns")
    }
    m("io.bytes_written_per_op") = (runs.map(_.ioBytes).sum / n, "bytes")
    m("io.files_written_per_op") = (runs.map(_.ioFiles).sum / n, "count")
    m("io.bytes_read_per_op") = (stageSum(_.inputBytes) / n, "bytes")
    val p50 = Main.median(runs.filter(_.ok).map(_.latencyMs))
    val p50Untraced = Main.median(untraced.runs.filter(_.ok).map(_.latencyMs))
    m("trace.overhead_ratio") = (if (p50Untraced > 0) p50 / p50Untraced else 0.0, "1")
    self.foreach { case (layer, ms) => m(s"trace.self_ms_per_op.$layer") = (ms / n, "ms") }

    m.toSeq.map { case (k, (v, unit)) =>
      k -> Json.obj(Seq("value" -> Json.d(v), "unit" -> Json.quote(unit)))
    }
  }
}
