package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Runs one workload of the benchmark in a fresh JVM: set-ups, the timed
  * section as a single closed-loop client, and, when tracing, a second
  * timed section under the benchmark's listener plus the text-kernel
  * microbenchmark. Reads a spec written by `run.py` and writes
  * `record.json`, `spans.jsonl` and one file per distinct result under the
  * spec's output directory; `run.py` checks the results and prints the
  * metrics. Several specs run one after another in the same JVM (the build
  * uses that to record a class-data-sharing archive of all workloads).
  *
  * Usage: perfbench.Main <spec.json>...
  */
object Main {

  final case class Spec(workload: String, data: String, out: String,
                        seconds: Double, trace: Boolean, cpus: Int,
                        kernelRows: Long, ops: Seq[OpSpec], warmup: Seq[OpSpec])
  final case class OpSpec(key: String, kind: String, query: String,
                          template: String, args: Map[String, Seq[Any]])

  final case class OpRun(key: String, kind: String, cycle: Int,
                         start: Long, constructEnd: Long, end: Long,
                         constructS: Double, actionS: Double, rows: Long,
                         fingerprint: String, error: String,
                         result: String, ioBytes: Long, ioFiles: Long) {
    def latencyMs: Double = (constructS + actionS) * 1000
    def ok: Boolean = error == null
  }

  final case class Window(runs: Seq[OpRun], busyS: Double, cycles: Int,
                          cpuS: Double)

  def parseSpec(path: String): Spec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
    def plain(v: JValue): Any = v match {
      case JString(s)  => s
      case JInt(i)     => i.toLong
      case JLong(l)    => l
      case JDouble(d)  => d
      case JBool(b)    => b
      case other       => other.values
    }
    def ops(field: String) = (j \ field).children.map { o =>
      val args = (o \ "args") match {
        case JObject(fs) => fs.map { case (k, v) => k -> v.children.map(plain) }.toMap
        case _           => Map.empty[String, Seq[Any]]
      }
      OpSpec((o \ "key").extract[String], (o \ "kind").extract[String],
        (o \ "query").extractOrElse[String](""),
        (o \ "template").extractOrElse[String](""), args)
    }
    Spec((j \ "workload").extract[String], (j \ "data").extract[String],
      (j \ "out").extract[String], (j \ "seconds").extract[Double],
      (j \ "trace").extract[Int] == 1, (j \ "cpus").extract[Int],
      (j \ "kernel_rows").extractOrElse[Long](0L), ops("ops"), ops("warmup"))
  }

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "128m")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
  private def processCpuS: Double = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }


  /** Files under `root` modified at or after `since` (epoch ms). */
  private def writtenSince(root: File, since: Long): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.lastModified >= since) { bytes += f.length; files += 1 }
    walk(root)
    (bytes, files)
  }

  def main(args: Array[String]): Unit = args.foreach(a => runSpec(parseSpec(a)))

  def runSpec(spec: Spec): Unit = {
    val out = Paths.get(spec.out)
    Files.createDirectories(out.resolve("results"))
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val navRoot = new File(tmp, "perfbench_nav").getPath
    val localDir = out.resolve("spark-local").toString
    val loads = mutable.ArrayBuffer.empty[Double]
    def sampleLoad(): Unit = loads += osBean.getSystemLoadAverage
    sampleLoad()

    // Set-up: a new session, the workload's once-per-session state and the
    // warm-up ops (their results are discarded); setup_s is all of it.
    val t0 = System.nanoTime()
    val spark = session(spec.cpus, localDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val built = Workloads.setup(spec.workload, spark, spec.data, navRoot)
    def toOp(o: OpSpec): Op = o.kind match {
      case "olap" =>
        val c = built.cube.get
        Op(o.key, o.kind, _ => Some(Workloads.olap(c, navRoot, o.template, o.args)))
      case "query" =>
        val f = Workloads.catalogue(o.query)
        Op(o.key, o.kind, s => Some(f(s, spec.data)))
      case "v4" =>
        Op(o.key, o.kind, s => { Workloads.rebuildV4(s, spec.data); None })
      case other => throw new IllegalArgumentException(s"unknown op kind $other")
    }

    val (_, warmS) = Workloads.timed(spec.warmup.map(toOp).foreach { op =>
      op.construct(spark).foreach(_.collect())
    })
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupParts = ("session_s" -> sessionS) +: built.timings :+ ("warmup_s" -> warmS)
    sampleLoad()
    val ops: Seq[Op] = spec.ops.map(toOp)

    val firstPrint = mutable.HashMap.empty[String, String]
    var resultSeq = 0
    def saveResult(key: String, df: DataFrame, rows: Array[Row]): String = {
      resultSeq += 1
      val name = f"r$resultSeq%04d.jsonl"
      val header = Json.obj(Seq("key" -> Json.quote(key),
        "columns" -> Json.arr(df.columns.toSeq.map(Json.quote))))
      val body = rows.iterator.map(Json.value).mkString("\n")
      Files.write(out.resolve("results").resolve(name),
        (header + "\n" + body + (if (rows.isEmpty) "" else "\n")).getBytes(UTF_8))
      name
    }

    def runOp(op: Op, cycle: Int, scanIo: Boolean): OpRun = {
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var constructEnd = start
      var t1 = t0
      try {
        val df = op.construct(spark)
        t1 = System.nanoTime(); constructEnd = System.currentTimeMillis()
        val rows = df.map(_.collect())
        val t2 = System.nanoTime(); val end = System.currentTimeMillis()
        // everything below is outside the operation's timing
        val (ioB, ioF) = if (scanIo) writtenSince(tmp, start) else (0L, 0L)
        val (fp, result) = (df, rows) match {
          case (Some(d), Some(rs)) =>
            val h = rs.iterator.map(r => MurmurHash3.stringHash(Json.value(r)).toLong).sum
            val fp = s"${rs.length}:$h"
            val saved =
              if (firstPrint.get(op.key).contains(fp)) null
              else saveResult(op.key, d, rs)
            firstPrint.getOrElseUpdate(op.key, fp)
            (fp, saved)
          case _ => ("", null)
        }
        OpRun(op.key, op.kind, cycle, start, constructEnd, end,
          (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows.map(_.length.toLong).getOrElse(-1L),
          fp, null, result, ioB, ioF)
      } catch {
        case e: Throwable =>
          val end = System.currentTimeMillis()
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] ${op.key} failed: $msg")
          OpRun(op.key, op.kind, cycle, start, constructEnd, end,
            (System.nanoTime() - t0) / 1e9, 0.0, -1L, "", msg, null, 0L, 0L)
      }
    }

    // The timed section: whole cycles of the op list until `seconds` of
    // operation time have passed, finishing the cycle in flight.
    def window(scanIo: Boolean): Window = {
      val runs = mutable.ArrayBuffer.empty[OpRun]
      var busy = 0.0
      var cycle = 0
      val cpu0 = processCpuS
      while (cycle == 0 || busy < spec.seconds) {
        ops.foreach { op =>
          val r = runOp(op, cycle, scanIo)
          busy += r.constructS + r.actionS
          runs += r
        }
        if (cycle == 0) sampleLoad()
        cycle += 1
      }
      Window(runs.toSeq, busy, cycle, processCpuS - cpu0)
    }

    val timedWin = window(scanIo = false)
    sampleLoad()
    // storage still held once garbage blocks are cleaned: collect, let the
    // context cleaner drop unreachable checkpoints, until two reads agree
    val (cachedMb, cachedRdds) = {
      def held = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      var prev = -1L
      var now = held
      var tries = 0
      while (now != prev && tries < 10) {
        System.gc(); Thread.sleep(300)
        prev = now; now = held; tries += 1
      }
      (now / 1e6, spark.sparkContext.getRDDStorageInfo.toSeq.sortBy(_.id).map { i =>
        Json.obj(Seq("name" -> Json.quote(i.name.take(60)),
          "mb" -> Json.d((i.memSize + i.diskSize) / 1e6),
          "partitions" -> Json.quote(s"${i.numCachedPartitions}/${i.numPartitions}")))
      })
    }

    val traced: Option[(Window, Seq[(String, String)])] =
      if (!spec.trace) None
      else {
        val probe = new Probe
        spark.sparkContext.addSparkListener(probe)
        val w = window(scanIo = true)
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(probe)
        val after = window(scanIo = false)
        val kernels =
          if (spec.kernelRows > 0) kernelBench(spark, spec.data, spec.kernelRows)
          else Seq.empty
        Some((w, Trace.perLayer(spec.cpus, w, after, probe, setupParts.toMap,
          kernels, out.resolve("spans.jsonl"))))
      }
    sampleLoad()

    def runsJson(w: Window): String = Json.arr(w.runs.map { r =>
      Json.obj(Seq(
        "key" -> Json.quote(r.key), "kind" -> Json.quote(r.kind),
        "cycle" -> r.cycle.toString,
        "construct_ms" -> Json.d(r.constructS * 1000),
        "action_ms" -> Json.d(r.actionS * 1000),
        "rows" -> r.rows.toString,
        "fingerprint" -> Json.quote(r.fingerprint),
        "result" -> (if (r.result == null) "null" else Json.quote(r.result)),
        "error" -> (if (r.error == null) "null" else Json.quote(r.error))))
    })
    def windowJson(w: Window): String = Json.obj(Seq(
      "busy_s" -> Json.d(w.busyS), "cycles" -> w.cycles.toString,
      "process_cpu_s" -> Json.d(w.cpuS), "ops" -> runsJson(w)))

    val rt = Runtime.getRuntime
    val oracles = spec.ops.filter(_.kind == "query").map(_.query).distinct
      .flatMap(q => Workloads.oracleFor(q).map(sql => q -> Json.quote(sql)))
    val record = Json.obj(Seq(
      "workload" -> Json.quote(spec.workload),
      "cpus" -> spec.cpus.toString,
      "setup_s" -> Json.d(setupS),
      "setup" -> Json.obj(setupParts.map { case (k, v) => k -> Json.d(v) }),
      "timed" -> windowJson(timedWin),
      "cached_mb" -> Json.d(cachedMb),
      "cached_rdds" -> Json.arr(cachedRdds),
      "traced" -> traced.map(t => windowJson(t._1)).getOrElse("null"),
      "per_layer" -> traced.map(t => Json.obj(t._2)).getOrElse("null"),
      "oracles" -> Json.obj(oracles),
      "catalogue_keys" -> Json.obj(spec.ops.filter(_.kind == "query").map(_.query)
        .distinct.map(q => q -> Json.quote(Workloads.catalogueKey(q)))),
      "machine" -> Json.obj(Seq(
        "load_avg_samples" -> Json.arr(loads.toSeq.map(Json.d)),
        "process_cpu_s" -> Json.d(processCpuS),
        "available_processors" -> rt.availableProcessors.toString,
        "max_heap_mb" -> (rt.maxMemory / (1024 * 1024)).toString,
        "jvm" -> Json.quote(System.getProperty("java.vm.version")),
        "class_data_sharing" -> Json.quote(ManagementFactory
          .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
          .getVMOption("SharedArchiveFile").getValue.nonEmpty.toString)))))
    Files.write(out.resolve("record.json"), (record + "\n").getBytes(UTF_8))
    spark.stop()
  }

  /** ns per row of each text kernel, projected over the workload's corpus
    * (replicated to at least `minRows` rows) into the `noop` sink; the
    * median of three passes. */
  def kernelBench(spark: SparkSession, dir: String, minRows: Long): Seq[(String, Double)] = {
    val base = spark.read.parquet(s"$dir/documents.parquet").select("text")
    val n = base.count()
    val copies = math.max(1L, (minRows + n - 1) / n)
    val corpus = base.crossJoin(spark.range(copies).toDF("copy")).select("text")
      .persist()
    val rows = corpus.count().toDouble
    val shingled = corpus.select(TextFunctions.shingles(col("text"), 3).as("sh")).persist()
    shingled.count()
    def nsPerRow(df: DataFrame): Double = median((1 to 3).map { _ =>
      val (_, s) = Workloads.timed(
        df.write.format("noop").mode("overwrite").save())
      s * 1e9 / rows
    })
    val text = col("text")
    val res = Seq(
      "tokens" -> nsPerRow(corpus.select(TextFunctions.tokens(text))),
      "langId" -> nsPerRow(corpus.select(TextFunctions.langId(text))),
      "stripHtmlBlocks" -> nsPerRow(corpus.select(TextFunctions.stripHtmlBlocks(text))),
      "shingles" -> nsPerRow(corpus.select(TextFunctions.shingles(text, 3))),
      "repetitionRatio" -> nsPerRow(shingled.select(TextFunctions.repetitionRatio(col("sh")))))
    corpus.unpersist(); shingled.unpersist()
    res
  }
}
