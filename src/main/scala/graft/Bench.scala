package graft

/** Cross-round bench comparison helpers — separated from the main so the
  * artifact-parsing contract is law-testable (UtilSpec). */
object BenchCompare {

  /** Per-query min from a prior bench artifact: prefer
    * `query_stats.<q>.min` (the r16+ spread instrument), fall back to
    * the flat `queries` map (earlier artifacts recorded min-of-reps
    * directly). Negative sentinels (failed queries) are dropped — a
    * breakage must not become a comparison baseline. */
  def parsePrevMins(json: String): Map[String, Double] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(json)
    def num(v: JValue): Option[Double] = v match {
      case JDouble(d)  => Some(d)
      case JInt(i)     => Some(i.toDouble)
      case JDecimal(d) => Some(d.toDouble)
      case JLong(l)    => Some(l.toDouble)
      case _           => None
    }
    def numMap(v: JValue, pick: JValue => JValue): Map[String, Double] =
      v match {
        case JObject(fields) => fields.flatMap { case (k, f) =>
          num(pick(f)).map(k -> _) }.toMap
        case _ => Map.empty
      }
    val flat = numMap(j \ "queries", identity)
    val stats = numMap(j \ "query_stats", _ \ "min")
    (flat ++ stats).filter(_._2 > 0)
  }

  /** Why the record `json` cannot be the baseline of a run at (`sf`,
    * `cpus`), if it cannot: a record taken at another scale or core
    * count (or one that does not say which) times different inputs, so
    * its min-to-min deltas mean nothing. */
  def baselineMismatch(json: String, sf: String, cpus: Int): Option[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(json)
    def field(name: String): Option[String] = j \ name match {
      case JString(v) => Some(v)
      case JInt(i)    => Some(i.toString)
      case _          => None
    }
    Seq("sf" -> sf, "cpus" -> cpus.toString).collectFirst {
      case (k, own) if !field(k).contains(own) =>
        s"its $k is ${field(k).getOrElse("unrecorded")}, this run's is $own"
    }
  }

  /** The newest committed reps-10 record in `dir`
    * (`BENCH_REPS10_r<N>.json`, highest N) — the comparison baseline
    * when `SPARK_GRAFT_BENCH_PREV` doesn't name one explicitly. */
  def latestRecord(dir: java.nio.file.Path): Option[java.nio.file.Path] = {
    val re = "BENCH_REPS10_r(\\d+)\\.json".r
    val cands = scala.util.Try {
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.flatMap { p =>
          p.getFileName.toString match {
            case re(n) => Some((n.toInt, p))
            case _     => None
          }
        }.toList
      } finally s.close()
    }.getOrElse(Nil)
    cands.sortBy(-_._1).headOption.map(_._2)
  }
}

/** Driver-run benchmark: every SparkEntry query on SPARK_GRAFT_SF_DIR at
  * local[32], one JSON line. AQE on; shuffle partitions sized to the core
  * count (not 200 — at local scale oversized shuffles dominate runtime). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // optional comma-separated query-name filter for focused A/B runs
    // (e.g. the round-13 q81/q82 regression adjudication); timing
    // semantics are untouched — unselected queries are just skipped
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.util.GraftSession.local(cpus)
    // Warmup: run every query once at the smallest SF. The schemas are
    // identical across SFs, so the generated whole-stage-codegen classes
    // are byte-identical and Spark's codegen cache + the JIT are fully
    // primed for the timed plans; data volume stays negligible.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      SparkEntry.queries.toSeq.sortBy(_._1).filter(q => selected(q._1)).foreach { case (name, fn) =>
        // a warmup failure usually predicts a timed-section failure; name
        // it now so the breakage is visible before the metrics line
        try fn(spark, warmDir).count() catch {
          case e: Throwable =>
            System.err.println(s"[bench] warmup $name failed: ${e.getClass.getName}")
        }
      }
      // Drop the warm-dir builds before the timed section: left pinned
      // (uncompressed columnar) they compete for executor memory/GC with
      // the sf target's build and bleed into its line items (observed:
      // build_cube 12.7s -> 37.9s with the caches held). Reverse order:
      // the pairs sit atop the shingle index.
      SparkEntry.builds.reverse.foreach(_.invalidate(spark, warmDir))
      System.gc()
    }
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Multi-point load sampling: a single end-of-run load_avg cannot
    // distinguish "the box was busy all run" from "a burst hit one
    // query" — three rounds of verdict time went to clean-clone A/B
    // adjudication of exactly that ambiguity. Samples land in the JSON
    // as load_avg_samples (start / after-builds / mid-queries / end).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def sampleLoad(): Unit = loadSamples += osBean.getSystemLoadAverage
    sampleLoad()
    // Build/cache-fill accounting: the engine's usage model is build-once-
    // query-many (the reference holds an in-memory cube object), so each
    // memoized build in SparkEntry.builds gets its OWN line item. Without
    // this, whichever query touches a cold cache first absorbs the whole
    // build cost (the reps-min then reports only the cached cost) and
    // per-query numbers are incomparable across rounds.
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      try body catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getName}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name%-28s $sec%8.2fs")
      name -> sec
    }
    val builds = SparkEntry.builds.map { m =>
      timed(s"build_${m.name}") { m.warm(spark, sfDir) } }
    // Each query line is the MIN of `SPARK_GRAFT_BENCH_REPS` runs
    // (default 3): ambient machine load swings single-shot wall times
    // 30-50% on this shared box, the minimum is the standard least-noise
    // estimator of the plan's actual cost, and two rounds of verdict time
    // went to re-adjudicating 2-run minima — the third rep is the cheap
    // fix. The build lines stay single-shot (a second run would measure
    // the warm cache, not the build).
    // parsed defensively: a malformed env value must not abort the run
    // after the builds have already spent their minutes
    val reps = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").trim.toInt).getOrElse(3))
    sampleLoad() // after the builds, before the timed query loop
    // Per-query SPREAD travels in the artifact: min (the noise-robust
    // plan-cost statistic on a shared box — headline, unchanged), median
    // and max across reps, and a `suspect` flag when (max-min)/min
    // exceeds SuspectBand — so a q45-style cross-round excursion
    // self-adjudicates from BENCH_r{N}.json alone (wide spread = ambient
    // noise; tight spread at a shifted min = a real plan change) instead
    // of costing a clean-clone A/B session.
    val SuspectBand = 0.5
    final case class QStat(min: Double, med: Double, max: Double,
                           suspect: Boolean)
    def stat(times: Seq[Double]): QStat = {
      val s = times.sorted
      val med =
        if (s.isEmpty) -1.0
        else if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      val spread = if (s.isEmpty || s.head <= 0) 0.0
        else (s.last - s.head) / s.head
      QStat(if (s.isEmpty) -1.0 else s.head, med,
        if (s.isEmpty) -1.0 else s.last,
        s.length >= 2 && spread > SuspectBand)
    }
    val qList = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => selected(q._1))
    val midAt = qList.length / 2
    val timedQueries = qList.zipWithIndex.map { case ((name, fn), i) =>
      if (i == midAt) sampleLoad()
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
        ((System.nanoTime() - t0) / 1e9, n)
      }
      // successful runs only (rows >= 0): a thrown run returns in near-zero
      // time and would otherwise always win the min, reporting a transient
      // failure as the query's best time even when the retry succeeded
      val ok = runs.filter(_._2 >= 0)
      // all runs failed: emit a -1 sentinel time rather than the near-zero
      // failure latency, so a hard-broken query can't read as a speedup in
      // cross-round bench comparisons
      val (sec, n) = if (ok.nonEmpty) ok.minBy(_._1) else (-1.0, -1L)
      val st = stat(ok.map(_._1))
      System.err.println(f"[bench] $name%-28s $sec%8.2fs  rows=$n" +
        (if (st.suspect) f"  SUSPECT med=${st.med}%.2f max=${st.max}%.2f"
         else ""))
      (name, sec, st)
    }
    sampleLoad() // end of the timed section
    // builds are single-shot (a second run would measure the warm cache,
    // not the build): min = med = max, never suspect
    val allStats = builds.map { case (k, v) =>
      (k, QStat(v, v, v, suspect = false)) } ++
      timedQueries.map { case (k, _, st) => (k, st) }
    val results = builds ++ timedQueries.map { case (k, v, _) => (k, v) }
    // Locale.ROOT: the f interpolator is locale-sensitive and a
    // comma-decimal default locale would emit unparseable JSON
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // failed queries (sentinel -1) are excluded from the headline total —
    // summing the negative sentinel would make a hard-broken query LOWER
    // the total, reading as a speedup in cross-round comparisons — and
    // NAMED in a "failed" array so a comparer that only reads the total
    // cannot mistake a breakage (whose runtime the total now omits) for
    // a speedup
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    // `reps` is recorded in the JSON so cross-round comparisons can tell a
    // real regression from a rep-count artifact (fewer reps -> higher
    // minima); round 10 vs 11 was re-adjudicated for exactly this reason
    // machine state travels IN the artifact: the round-13 star-query
    // investigation burned a day proving a cross-round delta was
    // environmental — load average, JVM/GC identity, and core count in
    // the JSON make that diagnosable from the artifact alone
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val rt = Runtime.getRuntime
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val gcNames = {
      val it = gcs.iterator(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().getName
      b.result().mkString("+")
    }
    val machine =
      s""""machine":{"load_avg":${num(os.getSystemLoadAverage)},"load_avg_samples":[${loadSamples.map(num).mkString(",")}],"available_processors":${rt.availableProcessors},"max_heap_mb":${rt.maxMemory / (1024 * 1024)},"jvm":"${System.getProperty("java.vm.version")}","gc":"$gcNames"}"""
    // Cross-round comparator: the verdict used to hand-join the previous
    // round's reps-10 record to classify min-to-min deltas — the artifact
    // now does it itself. Baseline: SPARK_GRAFT_BENCH_PREV if set, else
    // the newest committed BENCH_REPS10_r<N>.json in the working dir;
    // per-query prev_min/delta land in query_stats, and any >1.3x
    // min-to-min shift lists itself in "regressions" pre-classified by
    // the suspect flag (wide spread = ambient noise; tight spread at a
    // shifted min = a real plan change).
    // failure modes are LOUD, never silent: a typo'd SPARK_GRAFT_BENCH_PREV
    // disables the comparator by name instead of falling back to some
    // other baseline, and an unparseable/empty record disables it instead
    // of emitting "0 regressions against <named baseline>" for a
    // comparison that never happened; a record taken at another sf or
    // core count disables it too, by name
    val prevPath = sys.env.get("SPARK_GRAFT_BENCH_PREV") match {
      case Some(p) =>
        val path = java.nio.file.Paths.get(p)
        if (java.nio.file.Files.isRegularFile(path)) Some(path)
        else {
          System.err.println(s"[bench] SPARK_GRAFT_BENCH_PREV=$p is not " +
            "a readable file — cross-round comparator DISABLED (no " +
            "silent fallback)")
          None
        }
      case None => BenchCompare.latestRecord(java.nio.file.Paths.get("."))
    }
    val prevParsed: Option[(java.nio.file.Path, Map[String, Double])] =
      prevPath.flatMap { p =>
        val text = scala.util.Try(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        val m = text.map(BenchCompare.parsePrevMins)
          .getOrElse(Map.empty[String, Double])
        if (m.isEmpty) {
          System.err.println(s"[bench] prev record $p is unparseable or " +
            "empty — cross-round comparator DISABLED for this run")
          None
        } else BenchCompare.baselineMismatch(text.get, sfDir, cpus) match {
          case Some(why) =>
            System.err.println(s"[bench] prev record $p is not comparable " +
              s"($why) — cross-round comparator DISABLED for this run")
            None
          case None => Some((p, m))
        }
      }
    val prevMins: Map[String, Double] = prevParsed.map(_._2)
      .getOrElse(Map.empty)
    val RegressionBand = 1.3
    def prevFor(k: String, min: Double): Option[Double] =
      if (min <= 0) None else prevMins.get(k)
    val statsJson = allStats.map { case (k, st) =>
      val prev = prevFor(k, st.min).map(pm =>
        ",\"prev_min\":" + num(pm) + ",\"delta\":" + num(st.min / pm))
        .getOrElse("")
      "\"" + k + "\":{\"min\":" + num(st.min) + ",\"med\":" + num(st.med) +
        ",\"max\":" + num(st.max) + ",\"suspect\":" + st.suspect + prev + "}"
    }.mkString("{", ",", "}")
    val regressions = allStats.flatMap { case (k, st) =>
      prevFor(k, st.min).filter(pm => st.min / pm > RegressionBand)
        .map(pm => (k, st, pm, st.min / pm))
    }.sortBy(-_._4)
    val regJson = regressions.map { case (k, st, pm, r) =>
      s"""{"q":"$k","min":${num(st.min)},"prev_min":${num(pm)},""" +
        s""""ratio":${num(r)},"suspect":${st.suspect}}"""
    }.mkString("[", ",", "]")
    // prev_source names the baseline ONLY when it actually parsed —
    // regressions:[] next to a named source must mean "compared, clean"
    val prevSrc = prevParsed.map(p => "\"" + p._1.toString + "\"")
      .getOrElse("null")
    val nSuspect = allStats.count(_._2.suspect)
    val fullJson = s"""{"metric":"total","value":${num(total)},"unit":"sec","reps":$reps,"cpus":"$cpus",$machine,"queries":$qs,"query_stats":$statsJson,"n_suspect":$nSuspect,"prev_source":$prevSrc,"regressions":$regJson,"n_regressions":${regressions.size},"failed":[${failed.mkString(",")}],"sf":"$sfDir"}"""
    println(fullJson)
    // The harness archives only a bounded TAIL of stdout (~2000 chars) and
    // parses a JSON line out of it; with 125+ per-query entries the full
    // line is >4 KB, lands truncated mid-line in the tail, and nothing
    // parses (BENCH_r12.json: parsed=null). So: persist the complete
    // record to a file and make the FINAL stdout line a compact summary
    // guaranteed to fit in the tail — any last-parseable-line or
    // first-parseable-line-of-tail parser finds it whole.
    // The artifact name embeds the CORE COUNT: the round-17 driver's
    // 8-core scaling run overwrote the 32-core run's BENCH_LATEST.json
    // (the verdict's only complete end-of-round record) — per-cpus names
    // make two runs at different cpus leave BOTH full artifacts on disk.
    val fullPath = java.nio.file.Paths.get(s"BENCH_LATEST_c$cpus.json")
      .toAbsolutePath
    scala.util.Try(java.nio.file.Files.write(fullPath,
      (fullJson + "\n").getBytes("UTF-8"))): Unit
    // Compact per-query minima as their own stdout line JUST BEFORE the
    // total line: integer milliseconds, ordered as `results` (builds
    // first, then queries sorted by name — the names themselves would
    // blow the tail budget; they are recoverable from the full artifact
    // or SparkEntry.queries.keys.sorted). With ~166 entries this is
    // ~800 B, so the archived tail holds it whole next to the total
    // line and a cross-round comparison can be reconstructed from the
    // tail alone even if the full artifact is lost.
    println(s"""{"metric":"per_query_ms","cpus":"$cpus","order":"builds,then-name-asc","ms":[${results.map(r => math.round(r._2 * 1000)).mkString(",")}]}""")
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","reps":$reps,"cpus":"$cpus",$machine,"n_queries":${results.size},"n_failed":${failed.size},"n_suspect":$nSuspect,"n_regressions":${regressions.size},"failed":[${failed.take(10).mkString(",")}],"sf":"$sfDir","full":"$fullPath"}""")
    spark.stop()
  }
}
