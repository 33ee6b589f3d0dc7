package graft

import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Events, Similarity}
import graft.streaming.{DocStreaming, EventsStreaming, StoreCompaction, VecStreaming}

/** Structured Streaming vs batch equivalence: the same window expression
  * over readStream (AvailableNow, memory sink) must produce the batch
  * answer once the stream drains. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  /** File stream sources need a directory — stage the single fixture file
    * into a temp dir. */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming windowed counts equal the batch tumbling aggregation") {
    val stream = EventsStreaming.readEvents(spark, streamDir)
    val agg = EventsStreaming.windowedCounts(stream, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("win_test")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("win_test")
      .groupBy("window_start", "event_type")
      .agg(max("n_events").as("n_events")) // Update mode: keep last emission
    val batchEv = graft.sources.Sources.readEvents(spark, sfDir)
    val batch = Events.tumbling(batchEv, "1 hour")
      .select("window_start", "event_type", "n_events")

    val a = streamed.select("window_start", "event_type", "n_events")
    assert(a.except(batch).count() == 0 && batch.except(a).count() == 0)
  }

  test("streaming anomaly monitor ≡ batch volumeAnomalies on emitted days") {
    val sink = java.nio.file.Files.createTempDirectory("anom_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("anom_ckpt").toString
    val stream = EventsStreaming.readEvents(spark, streamDir)
    val q = EventsStreaming.startToCubeSink(
      EventsStreaming.dailyCounts(stream, Seq("event_type"), "1 minute"),
      sink, ckpt)
    q.awaitTermination(120000)
    // both sides restricted to watermark-emitted days: the batch run
    // densifies through ITS global max day (beyond the stream's), and
    // the trailing frames of shared days depend only on earlier days
    val emittedDays = spark.read.parquet(sink).select("day").distinct()
    val streamed = EventsStreaming.anomaliesFromSink(spark, sink,
      Seq("event_type"), window = 7, z = 2.0)
      .join(emittedDays, "day", "left_semi")
    val batch = Events.volumeAnomalies(
      graft.sources.Sources.readEvents(spark, sfDir), "ts",
      Seq("event_type"), window = 7, z = 2.0)
      .join(emittedDays, "day", "left_semi")
    assert(streamed.count() > 0, "stream must emit watermark-closed days")
    val cols = Seq("event_type", "day", "n", "mu", "sigma", "zscore", "is_anomaly")
    val a = streamed.select(cols.head, cols.tail: _*)
    val b = batch.select(cols.head, cols.tail: _*)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0,
      "streaming anomaly report must equal the batch report on closed days")
  }

  test("dailyCounts buckets by session-timezone midnights like the batch twin") {
    // the epoch-aligned window(ts, '1 day') form bucketed by UTC
    // midnights; in a non-UTC session that breaks stream≡batch against
    // Events' date_trunc('DAY') days — pin the date_trunc twin here
    val tzConf = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzConf)
    try {
      spark.conf.set(tzConf, "America/New_York")
      val sink = java.nio.file.Files.createTempDirectory("tz_sink").toString
      val ckpt = java.nio.file.Files.createTempDirectory("tz_ckpt").toString
      val stream = EventsStreaming.readEvents(spark, streamDir)
      val q = EventsStreaming.startToCubeSink(
        EventsStreaming.dailyCounts(stream, Seq("event_type"), "1 minute"),
        sink, ckpt)
      q.awaitTermination(120000)
      val streamed = spark.read.parquet(sink)
        .groupBy("day", "event_type").agg(max("n").as("n"))
      val batch = graft.sources.Sources.readEvents(spark, sfDir)
        .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      assert(streamed.count() > 0, "stream must emit watermark-closed days")
      // every emitted (day, type, n) must agree with the batch bucketing
      // in the NON-UTC session timezone
      assert(streamed.except(batch).count() == 0,
        "streamed day buckets must match session-timezone date_trunc days")
    } finally spark.conf.set(tzConf, saved)
  }

  test("stream-to-cube: windowed sink queried as a navigable cube") {
    import graft.query.dsl._
    val sink = java.nio.file.Files.createTempDirectory("cube_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cube_ckpt").toString
    val stream = EventsStreaming.readEvents(spark, streamDir)
    // Append mode requires watermark-closed windows; AvailableNow closes
    // all but the tail when the stream drains
    val agg = EventsStreaming.windowedCounts(stream, "1 hour", "1 minute")
    val q = EventsStreaming.startToCubeSink(agg, sink, ckpt)
    q.awaitTermination(120000)
    val cube = EventsStreaming.cubeFromSink(spark, sink)
    assert(cube.dimensions.keySet == Set("time", "type"))
    val byType = cube.q(dim("time").collapse())
    val counts = byType.fact.data.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum > 0)
    // cube totals match the batch aggregation over the same closed windows
    val batch = Events.tumbling(
      graft.sources.Sources.readEvents(spark, sfDir), "1 hour")
    val sinkWindows = spark.read.parquet(sink)
      .select("window_start").distinct().count()
    assert(sinkWindows > 0 && sinkWindows <= batch.select("window_start").distinct().count())
  }

  test("sliding windows produce width/slide overlapping windows") {
    val ev = graft.sources.Sources.readEvents(spark, sfDir)
    val slid = EventsStreaming.slidingCounts(ev, "1 hour", "30 minutes")
    val tumb = EventsStreaming.windowedCounts(ev, "1 hour")
    // each event lands in 2 sliding windows -> total events double
    val sSum = slid.agg(sum("n_events")).head().getLong(0)
    val tSum = tumb.agg(sum("n_events")).head().getLong(0)
    assert(sSum == 2 * tSum)
  }

  test("streaming exact dedup across micro-batches equals batch Dedup.exact") {
    import graft.operators.Dedup
    import graft.streaming.DocStreaming
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    // second wave: same texts under fresh ids — duplicates that arrive in a
    // LATER micro-batch (maxFilesPerTrigger=1 => one batch per file)
    val dupWave = docsDf.withColumn("doc_id", col("doc_id") + 1000000L)
    val dir = java.nio.file.Files.createTempDirectory("docs_stream").toString
    docsDf.coalesce(1).write.mode("append").parquet(dir)
    dupWave.coalesce(1).write.mode("append").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val deduped = DocStreaming.dedupExact(stream, "doc_id", "text", "ts", "1 hour")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_stream_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val survivors = spark.table("dedup_stream_test")
    val batch = Dedup.exact(docsDf.unionByName(dupWave), "doc_id", "text")
    // exactly-once per fingerprint, and the survivor fingerprint set equals
    // the batch dedup groups — the whole duplicate wave was dropped
    assert(survivors.count() == batch.count(),
      "streaming dedup survivor count diverged from batch Dedup.exact")
    val sFps = survivors.select("fp").collect().map(_.getString(0)).toSet
    val bFps = batch.select("fp").collect().map(_.getString(0)).toSet
    assert(sFps == bFps, "survivor fingerprints diverged from batch dedup groups")
    assert(survivors.groupBy("fp").count()
      .filter(col("count") > 1).count() == 0, "a fingerprint survived twice")
  }

  test("streaming near-dup dedup across micro-batches equals batch dropNearDups") {
    import graft.operators.Dedup
    import graft.streaming.DocStreaming
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // wave 2, arriving in a LATER micro-batch: exact copies of every 4th
    // doc (near-dups of wave-1 docs, including copies of docs wave 1
    // itself drops — the cross-batch CHAIN case) plus genuinely fresh
    // docs built from id-salted tokens (jaccard 0 with everything)
    val copies = docsDf.filter(col("doc_id") % 4 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val fresh = spark.range(20).select(
      (col("id") + 2000000L).as("doc_id"),
      concat_ws(" ", (0 until 30).map(kk =>
        concat(lit("w"), col("id"), lit(s"_$kk"))): _*).as("text"))
    val wave2 = copies.unionByName(fresh)
    val dir = java.nio.file.Files.createTempDirectory("neardup_stream").toString
    docsDf.coalesce(1).write.mode("append").parquet(dir)
    wave2.coalesce(1).write.mode("append").parquet(dir)

    val store = java.nio.file.Files.createTempDirectory("neardup_store").toString
    val surv = java.nio.file.Files.createTempDirectory("neardup_surv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("neardup_ckpt").toString
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocStreaming.startNearDupDedup(stream, "doc_id", "text",
      store, surv, ckpt)
    q.awaitTermination(180000)

    val streamed = spark.read.parquet(surv)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docsDf.unionByName(wave2)
    val batch = Dedup.dropNearDups(all,
        Dedup.minhashLsh(all, "doc_id", "text"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // ids arrive in id order (wave 2 carries the larger ids), so batch's
    // min-id canonical winner IS the streaming first arrival: survivor
    // sets must be identical — every copy dropped (even copies of docs
    // wave 1 dropped), every fresh doc kept
    assert(streamed == batch,
      s"streaming survivors diverged from batch dropNearDups: " +
        s"extra=${(streamed -- batch).take(5)} missing=${(batch -- streamed).take(5)}")
    assert(fresh.collect().map(_.getLong(0)).toSet.subsetOf(streamed),
      "a genuinely fresh doc was dropped")
    assert(streamed.forall(_ < 1000000L + 2000000L) &&
      !copies.collect().map(_.getLong(0)).exists(streamed.contains),
      "a cross-batch near-dup copy survived")
  }

  test("streaming decontamination equals batch removal across micro-batches") {
    import graft.operators.Decontaminate
    import graft.streaming.DocStreaming
    import spark.implicits._
    val bench = (1 to 16).map(i => s"qa$i").mkString(" ")
    def body(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val evalD = Seq(100L -> s"${body("ev", 6)} $bench").toDF("doc_id", "text")
    // the quote appears in BOTH micro-batches — the frozen eval index
    // must cut it wherever it lands, and clean docs must pass through
    val wave1 = Seq(
      1L -> s"${body("a", 10)} $bench ${body("aa", 5)}",
      2L -> body("b", 30)).toDF("doc_id", "text")
    val wave2 = Seq(
      3L -> s"$bench ${body("c", 20)}",
      4L -> body("d", 25)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("decon_stream").toString
    wave1.coalesce(1).write.mode("append").parquet(dir)
    wave2.coalesce(1).write.mode("append").parquet(dir)
    val clean = java.nio.file.Files.createTempDirectory("decon_clean").toString
    val ckpt = java.nio.file.Files.createTempDirectory("decon_ckpt").toString
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocStreaming.startDecontaminate(stream, evalD, "doc_id", "text",
      minTokens = 12, clean, ckpt)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(clean).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = Decontaminate.removeContaminatedSpans(
        wave1.unionByName(wave2), evalD, "doc_id", "text", minTokens = 12)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch,
      s"streaming cleaned corpus diverged from batch removal: $streamed")
    assert(streamed(1L) == s"${body("a", 10)} ${body("aa", 5)}",
      "mid-doc quote cut in batch 1")
    assert(streamed(3L) == body("c", 20), "leading quote cut in batch 2")
    assert(streamed(2L) == body("b", 30) && streamed(4L) == body("d", 25),
      "clean docs pass through byte-identical")
  }

  test("streaming novelty scoring equals batch noveltyReport across micro-batches") {
    import graft.operators.Decontaminate
    import graft.streaming.DocStreaming
    import spark.implicits._
    def body(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val corpus = Seq(100L -> body("w", 40), 101L -> body("c", 40))
      .toDF("doc_id", "text")
    // wave 1: a verbatim re-crawl + fresh text; wave 2: half-copied + short
    val wave1 = Seq(1L -> body("w", 40), 2L -> body("f", 40))
      .toDF("doc_id", "text")
    val wave2 = Seq(
      3L -> s"${body("w", 20)} ${body("m", 20)}",
      4L -> "too short to gram").toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("nov_stream").toString
    wave1.coalesce(1).write.mode("append").parquet(dir)
    wave2.coalesce(1).write.mode("append").parquet(dir)
    val rep = java.nio.file.Files.createTempDirectory("nov_rep").toString
    val ckpt = java.nio.file.Files.createTempDirectory("nov_ckpt").toString
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    DocStreaming.startNoveltyScore(stream, corpus, "doc_id", "text",
      minTokens = 8, rep, ckpt).awaitTermination(120000)
    val streamed = spark.read.parquet(rep)
      .select("doc_id", "n_grams", "n_seen", "novelty")
      .orderBy("doc_id").collect().toSeq
    val batch = Decontaminate.noveltyReport(corpus,
        wave1.unionByName(wave2), "doc_id", "text", minTokens = 8)
      .select("doc_id", "n_grams", "n_seen", "novelty")
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch,
      s"streaming novelty diverged from batch: $streamed vs $batch")
    val byId = streamed.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getDouble(3) == 0.0, "re-crawl must score 0")
    assert(byId(2L).getDouble(3) == 1.0, "fresh text must score 1")
    assert(byId(4L).isNullAt(3), "sub-gram doc must score NULL")
  }

  test("streaming BM25 ingest equals a from-scratch index; uncommitted debris is ignored") {
    import graft.operators.Corpus
    import graft.streaming.DocStreaming
    import spark.implicits._
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25_stream").toString
    docsDf.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(dir)
    docsDf.filter(col("doc_id") >= 250).coalesce(1)
      .write.mode("append").parquet(dir)
    val store = java.nio.file.Files.createTempDirectory("bm25_sstore")
      .toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("bm25_sckpt").toString
    val stream = spark.readStream.schema(docsDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    DocStreaming.startBm25Ingest(stream, "doc_id", "text", store, ckpt)
      .awaitTermination(120000)
    val qs = Seq((1L, "spark table scan")).toDF("query_id", "qtext")
    val streamed = Corpus.bm25SearchStored(spark, store, qs,
      "query_id", "qtext", k = 8).orderBy("rank").collect()
    val oneShot = Corpus.bm25Search(
      Corpus.bm25Index(docsDf, "doc_id", "text"), qs,
      "query_id", "qtext", k = 8).orderBy("rank").collect()
    assert(streamed.sameElements(oneShot),
      "stream-built store must rank exactly like a full rebuild")
    // crash debris: postings without the stats commit marker must not
    // skew a single score
    docsDf.limit(50).select(lit("spark").as("term"),
      (col("doc_id") + 900000L).as("doc_id"), lit(99L).as("tf"))
      .write.parquet(s"$store/postings/batch=77")
    val afterDebris = Corpus.bm25SearchStored(spark, store, qs,
      "query_id", "qtext", k = 8).orderBy("rank").collect()
    assert(afterDebris.sameElements(streamed),
      "uncommitted batch directory leaked into the probe")
    // the stream needs a THIRD batch so compaction has >= 2 candidates
    // below the newest; then compact and the ranking must not move —
    // stats rows are summed (not distinct'd), so equal-total batches
    // keep their combined mass
    docsDf.limit(0).coalesce(1).write.mode("append").parquet(dir)
    DocStreaming.startBm25Ingest(
      spark.readStream.schema(docsDf.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      "doc_id", "text", store, ckpt).awaitTermination(120000)
    Corpus.compactBm25Store(spark, store)
    val dirsLeft = new java.io.File(s"$store/postings").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(dirsLeft.head == "batch=-1" && dirsLeft.size == 2,
      s"expected compacted -1 + newest, got $dirsLeft")
    val afterCompact = Corpus.bm25SearchStored(spark, store, qs,
      "query_id", "qtext", k = 8).orderBy("rank").collect()
    assert(afterCompact.sameElements(streamed),
      "compaction changed a score or a rank")
    // a batch refresh after compaction continues the id sequence
    Corpus.refreshBm25Store(
      docsDf.limit(5).select((col("doc_id") + 500000L).as("doc_id"), col("text")),
      "doc_id", "text", store)
    val afterRefresh = Corpus.bm25SearchStored(spark, store, qs,
      "query_id", "qtext", k = 8)
    assert(afterRefresh.count() == 8)
  }

  test("streaming near-dup dedup survives a restart between micro-batches") {
    import graft.streaming.DocStreaming
    import spark.implicits._
    // 3 docs, each ~40 id-salted tokens; doc 11 is a 1-token-edited copy
    // of doc 1 (jaccard ~0.92), doc 20 is fresh
    def toks(b: Int) = (0 until 40).map(kk => s"r${b}_$kk")
    val wave1 = Seq((1L, toks(1).mkString(" "))).toDF("doc_id", "text")
    val wave2 = Seq(
      (11L, toks(1).updated(20, "edited").mkString(" ")),
      (20L, toks(20).mkString(" "))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("nd_restart").toString
    val store = java.nio.file.Files.createTempDirectory("nd_restart_store").toString
    val surv = java.nio.file.Files.createTempDirectory("nd_restart_surv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("nd_restart_ckpt").toString
    val schema = wave1.schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = DocStreaming.startNearDupDedup(stream, "doc_id", "text",
        store, surv, ckpt)
      q.awaitTermination(120000)
    }
    // first lifetime: only wave 1 exists; the query drains it and STOPS
    wave1.coalesce(1).write.mode("append").parquet(dir)
    run()
    // second lifetime: wave 2 lands, a NEW query resumes from the same
    // checkpoint + store — the cross-batch near-dup state must persist
    // across the restart
    wave2.coalesce(1).write.mode("append").parquet(dir)
    run()
    val survivors = spark.read.parquet(surv)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 20L),
      s"restart must keep the store: copy 11 dropped, fresh 20 kept — $survivors")
  }

  test("store compaction merges committed batches and preserves restart dedup semantics") {
    import graft.streaming.DocStreaming
    import spark.implicits._
    def toks(b: Int) = (0 until 40).map(kk => s"c${b}_$kk")
    val dir = java.nio.file.Files.createTempDirectory("nd_compact").toString
    val store = java.nio.file.Files.createTempDirectory("nd_compact_store").toString
    val surv = java.nio.file.Files.createTempDirectory("nd_compact_surv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("nd_compact_ckpt").toString
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = DocStreaming.startNearDupDedup(stream, "doc_id", "text",
        store, surv, ckpt)
      q.awaitTermination(120000)
    }
    // three single-doc micro-batches, then stop
    Seq(1L, 2L, 3L).foreach { id =>
      Seq((id, toks(id.toInt).mkString(" "))).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    run()
    def partitions() = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(partitions() == Set("batch=0", "batch=1", "batch=2"))
    val rowsBefore = spark.read.parquet(store).select("doc_id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    DocStreaming.compactStore(spark, store)
    // batches 0 and 1 merged into -1; the newest (replayable) one is kept
    assert(partitions() == Set("batch=-1", "batch=2"),
      s"unexpected layout after compaction: ${partitions()}")
    val rowsAfter = spark.read.parquet(store).select("doc_id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rowsAfter == rowsBefore, "compaction changed the store's row set")
    // idempotent: a second pass has a single source below max — no-op
    DocStreaming.compactStore(spark, store)
    assert(partitions() == Set("batch=-1", "batch=2"))
    // second lifetime: near-dup copies of a COMPACTED doc (1) and the
    // uncompacted doc (3), plus a fresh doc — cross-batch state must be
    // intact through the compaction
    Seq((11L, toks(1).updated(20, "edited").mkString(" ")),
        (13L, toks(3).updated(20, "edited").mkString(" ")),
        (20L, toks(20).mkString(" "))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    run()
    val survivors = spark.read.parquet(surv)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 3L, 20L),
      s"copies of compacted/uncompacted docs must drop, fresh kept — $survivors")
  }

  test("streaming EMBEDDING near-dup dedup chains through appends across restarts") {
    import graft.operators.Similarity
    import graft.streaming.VecStreaming
    import spark.implicits._
    // deterministic decorrelated vectors: per-seed Gaussian fill (a trig
    // fill is rank-2 — every sinusoid is a combination of the same two
    // basis vectors, making ALL pairs near-duplicates)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val corpus = (0 until 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val indexDir = java.nio.file.Files.createTempDirectory("vec_stream_idx").toString
    Similarity.saveIvfIndex(corpus, indexDir, nlist = 4, replicate = 2)
    val dir = java.nio.file.Files.createTempDirectory("vec_stream_in").toString
    val surv = java.nio.file.Files.createTempDirectory("vec_stream_surv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vec_stream_ckpt").toString
    val schema = corpus.schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = VecStreaming.startNearDupDedup(stream, "vec_id", "embedding",
        indexDir, surv, ckpt, threshold = 0.95, nprobe = 4, dim = 16)
      q.awaitTermination(120000)
    }
    // lifetime 1 — wave 1: a re-ingest of corpus vec 3 (drop), a fresh
    // vector (survive), and an identical twin pair (min id survives)
    Seq((100L, vec(3)), (101L, vec(300)),
        (110L, vec(400)), (111L, vec(400)))
      .toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(dir)
    run()
    // lifetime 2 — wave 2 in a RESTARTED stream: a copy of wave-1's
    // fresh survivor 101 (must drop via the APPENDS, not the base index),
    // a copy of wave-1's DROPPED twin 111 (chains through appended dups),
    // and a fresh vector
    Seq((200L, vec(300)), (201L, vec(400)), (202L, vec(500)))
      .toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(dir)
    run()
    val survivors = spark.read.parquet(surv)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(101L, 110L, 202L),
      s"expected fresh 101/110 + fresh 202 only (100 re-ingest, 111 twin, " +
        s"200/201 append-chained copies all drop) — got $survivors")
    // appends layout: per-batch-id partitions, cell-partitioned within
    val batches = new java.io.File(s"$indexDir/appends").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(batches == Set("batch=0", "batch=1"), s"unexpected appends layout: $batches")
  }

  test("IVF appends compaction preserves cell pruning and restart dedup semantics") {
    import graft.operators.Similarity
    import graft.streaming.VecStreaming
    import spark.implicits._
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val corpus = (0 until 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val indexDir = java.nio.file.Files.createTempDirectory("vec_compact_idx").toString
    Similarity.saveIvfIndex(corpus, indexDir, nlist = 4, replicate = 2)
    val dir = java.nio.file.Files.createTempDirectory("vec_compact_in").toString
    val surv = java.nio.file.Files.createTempDirectory("vec_compact_surv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vec_compact_ckpt").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = VecStreaming.startNearDupDedup(stream, "vec_id", "embedding",
        indexDir, surv, ckpt, threshold = 0.95, nprobe = 4, dim = 16)
      q.awaitTermination(120000)
    }
    // three single-vector micro-batches of fresh vectors, then stop
    Seq(100L -> vec(300), 101L -> vec(400), 102L -> vec(500)).foreach {
      case (id, v) => Seq((id, v)).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    run()
    val appends = s"$indexDir/appends"
    def partitions() = new java.io.File(appends).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(partitions() == Set("batch=0", "batch=1", "batch=2"))
    def rows() = spark.read.parquet(appends)
      .select("neighbor_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val before = rows()
    VecStreaming.compactStore(spark, indexDir)
    // batches 0 and 1 merged into -1; the newest (replayable) one is kept
    assert(partitions() == Set("batch=-1", "batch=2"),
      s"unexpected layout after compaction: ${partitions()}")
    assert(rows() == before, "compaction changed the appends row set")
    // the merged partition keeps the cell= hive layout the DPP pruning needs
    val cells = new java.io.File(s"$appends/batch=-1").listFiles()
      .map(_.getName).filter(_.startsWith("cell=")).toSet
    assert(cells.nonEmpty, "compacted partition lost its cell partitioning")
    // idempotent: a second pass has a single source below max — no-op
    VecStreaming.compactStore(spark, indexDir)
    assert(partitions() == Set("batch=-1", "batch=2"))
    // second lifetime: copies of a COMPACTED vector (100) and the
    // uncompacted one (102), plus a fresh vector — cross-batch state must
    // be intact through the compaction
    Seq((200L, vec(300)), (201L, vec(500)), (202L, vec(600)))
      .toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(dir)
    run()
    val survivors = spark.read.parquet(surv)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(100L, 101L, 102L, 202L),
      s"copies of compacted/uncompacted vectors must drop, fresh kept — $survivors")
  }

  test("streaming point-in-time enrichment equals the batch as-of join") {
    import graft.sources.Sources
    import spark.implicits._
    val ev = graft.sources.Sources.readEvents(spark, sfDir)
    val changes = ev.filter($"event_type" === "signup")
      .groupBy("user_id", "ts")
      .agg(max_by($"value", $"event_id").as("state"))
    val versions = Sources.scd2(changes, Seq("user_id"), "ts")
      .select("user_id", "ts", "state")
    val purchases = ev.filter($"event_type" === "purchase")
      .select("event_id", "user_id", "ts")
    // three files -> three micro-batches at maxFilesPerTrigger=1
    val in = java.nio.file.Files.createTempDirectory("pit_in").toString
    (0 until 3).foreach { k =>
      purchases.filter(pmod($"event_id", lit(3)) === k)
        .coalesce(1).write.mode("append").parquet(in)
    }
    val out = java.nio.file.Files.createTempDirectory("pit_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pit_ckpt").toString
    val stream = spark.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = EventsStreaming.startPointInTimeEnrich(stream, versions,
      Seq("user_id"), "ts", Seq("state"), out, ckpt)
    q.awaitTermination(120000)
    val batches = new java.io.File(out).listFiles()
      .map(_.getName).count(_.startsWith("batch="))
    assert(batches == 3, s"expected 3 micro-batch partitions, got $batches")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "asof_ts", "asof_state").collect()
        .map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(Events.asofJoin(purchases, versions,
      Seq("user_id"), "ts", payloadCols = Seq("state")))
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} / " +
        s"${(batch diff streamed).take(3)}")
  }

  test("streaming star ingest merges each batch once, replays skip via the journal") {
    import graft.io.CubeIO
    import graft.model._
    import graft.streaming.CubeStreaming
    import scala.collection.immutable.ListMap
    import spark.implicits._
    val base = Seq((1, "d1", 2.0), (2, "d1", 3.0)).toDF("k", "d", "v")
    val dimK = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "attr")
    val dimD = Seq("d1", "d2", "d3").toDF("d")
    val cube = DataCube.build(
      Fact.build(base, Seq("k", "d"), Seq(Measure.sum("v", "sum_v"))),
      Seq(Dimension.build("kd", "k", ListMap.empty, dimK),
        Dimension.build("dd", "d", ListMap.empty, dimD)))
    val star = java.nio.file.Files.createTempDirectory("star_stream").toString
    CubeIO.saveStar(cube, star, partitionFact = Seq("d"))
    // three single-file micro-batches: merge into existing grain, open a
    // new partition, merge into the just-opened partition
    val in = java.nio.file.Files.createTempDirectory("star_stream_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("star_stream_ck").toString
    Seq(Seq((1, "d1", 5.0)), Seq((3, "d2", 1.0)), Seq((3, "d2", 2.0)))
      .foreach { rows =>
        rows.toDF("k", "d", "sum_v").coalesce(1).write.mode("append").parquet(in)
      }
    val stream = spark.readStream
      .schema(Seq((1, "d", 1.0)).toDF("k", "d", "sum_v").schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = CubeStreaming.startIngestIntoStar(stream, star, ckpt)
    q.awaitTermination(120000)
    def fact() = CubeIO.loadStar(spark, star).fact.data.collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getAs[String]("d")) ->
        r.getDouble(r.fieldIndex("sum_v"))).toMap
    val expected = Map((1, "d1") -> 7.0, (2, "d1") -> 3.0, (3, "d2") -> 3.0)
    assert(fact() == expected, s"streamed star diverged: ${fact()}")
    // journal markers exist for every applied batch
    val journal = new java.io.File(s"$star/_ingest_journal").listFiles()
      .map(_.getName).toSet
    assert(journal == Set("batch=0", "batch=1", "batch=2"),
      s"unexpected journal: $journal")
    // a foreachBatch replay re-delivers an APPLIED batch id: skipped
    val replay = Seq((1, "d1", 99.0)).toDF("k", "d", "sum_v")
    assert(!CubeIO.ingestIntoStarOnce(spark, star, replay, batchId = 2L),
      "replayed batch id must be skipped")
    assert(fact() == expected, "replay mutated the star")
    // a NEW batch id applies normally
    assert(CubeIO.ingestIntoStarOnce(spark, star, replay, batchId = 3L))
    assert(fact() == expected + ((1, "d1") -> 106.0))
    // retraction journal is an independent namespace: batch id 3 is free
    // there, and a replay of the same retraction id is skipped
    val retr = Seq((1, "d1", 99.0)).toDF("k", "d", "sum_v")
    assert(CubeIO.retractFromStarOnce(spark, star, retr, "sum_v", batchId = 3L))
    assert(!CubeIO.retractFromStarOnce(spark, star, retr, "sum_v", batchId = 3L),
      "replayed retraction id must be skipped")
  }

  test("streaming sketch-cube ingest equals a from-scratch build; replay is a no-op") {
    import graft.operators.Sketches
    import graft.streaming.CubeStreaming
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
      .select("o_year", "o_orderpriority", "o_custkey")
    val dir = java.nio.file.Files.createTempDirectory("skcube_stream").toString
    orders.filter(col("o_year") < 1995).coalesce(1)
      .write.mode("append").parquet(dir)
    orders.filter(col("o_year") >= 1995).coalesce(1)
      .write.mode("append").parquet(dir)
    val store = java.nio.file.Files.createTempDirectory("skcube_store")
      .toString + "/c" // nonexistent: the first micro-batch must create it
    val ckpt = java.nio.file.Files.createTempDirectory("skcube_ckpt").toString
    val stream = spark.readStream.schema(orders.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    CubeStreaming.startIngestSketchCube(stream, store,
      Seq("o_year", "o_orderpriority"), "o_custkey", "o_year", ckpt)
      .awaitTermination(120000)
    def estimates(cells: org.apache.spark.sql.DataFrame) =
      Sketches.rollupDistinct(cells, Seq("o_year"), "o_custkey_sketch")
        .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val streamed = estimates(spark.read.parquet(store))
    val direct = estimates(Sketches.distinctSketchAtGrain(orders,
      Seq("o_year", "o_orderpriority"), "o_custkey"))
    assert(streamed == direct,
      s"stream-maintained sketch cube diverged: $streamed vs $direct")
    // replaying a batch re-unions the same sketches — estimates unchanged
    // (HLL union is register-max), the property that lets this twin skip
    // the star ingest's batch journal
    Sketches.ingestSketchCube(spark, store,
      orders.filter(col("o_year") >= 1995),
      Seq("o_year", "o_orderpriority"), "o_custkey", "o_year")
    assert(estimates(spark.read.parquet(store)) == direct,
      "replayed delta changed an estimate")
  }

  test("stateful sessionization emits valid closed sessions") {
    import spark.implicits._
    val stream = EventsStreaming.readEvents(spark, streamDir)
    val typed = stream
      .select($"ts".cast("timestamp").as("ts"), $"user_id", $"event_type", $"value")
      .as[EventsStreaming.Event]
    val sessions = EventsStreaming.sessionize(typed, 30)
    val q = sessions.writeStream
      .format("memory").queryName("sess_test")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.table("sess_test").as[EventsStreaming.Session].collect()
    // single-batch AvailableNow: open sessions stay in state; emitted ones
    // must be internally consistent and match batch session boundaries
    assert(out.forall(s => !s.session_end.before(s.session_start)))
    assert(out.forall(_.n_events > 0))
    val batch = Events.sessionsSql(
      graft.sources.Sources.readEvents(spark, sfDir), 30)
      .select($"user_id", $"session_start", $"n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    out.foreach { s =>
      assert(batch.contains((s.user_id, s.session_start, s.n_events)),
        s"emitted session not found in batch result: $s")
    }
  }

  test("hash split assigns identically on a stream (stateless projection)") {
    import graft.operators.Sampling
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("split_stream").toString
    docsDf.coalesce(2).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    // the split is a pure projection: legal on a stream with NO watermark,
    // no state — membership decided per row at ingest, the property that
    // lets a training pipeline route docs as they arrive
    val q = Sampling.assignSplit(stream, "doc_id")
      .select("doc_id", "split")
      .writeStream.format("memory").queryName("split_stream_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("split_stream_test").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = Sampling.assignSplit(docsDf, "doc_id")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch,
      "streaming split assignment diverged from batch — membership must not " +
        "depend on batch boundaries")
  }

  test("stateless text pipeline (chunking) runs unchanged on a doc stream") {
    import graft.operators.Chunking
    val docsPath = java.nio.file.Files.createTempDirectory("docs_chunk_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      docsPath.resolve("documents.parquet"))
    val schema = spark.read.parquet(docsPath.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(docsPath.toString)
    // the same operator invocation as batch — stateless projections need
    // no watermark and emit in append mode
    val chunks = Chunking.chunkFingerprints(stream, "doc_id", "text",
      width = 64, stride = 48)
    val q = chunks.writeStream
      .format("memory").queryName("chunk_stream_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("chunk_stream_test")
    val batch = Chunking.chunkFingerprints(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text",
      width = 64, stride = 48)
    assert(streamed.except(batch).count() == 0 &&
      batch.except(streamed).count() == 0 &&
      streamed.count() == batch.count(),
      "streaming chunk output diverged from batch")
  }

  test("stream-stream interval join equals the batch attribution pair set") {
    val stream = EventsStreaming.readEvents(spark, streamDir)
    val joined = EventsStreaming.attributionStream(stream, "view", "purchase",
      within = "30 minutes", lateness = "1 hour")
    val q = joined.writeStream
      .format("memory").queryName("attr_join_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val batchEv = graft.sources.Sources.readEvents(spark, sfDir)
    // the batch op's pair set BEFORE its per-conversion max (inner join
    // rows) — the streaming join's exact contract
    val from = batchEv.filter(col("event_type") === "view")
      .select(col("user_id").as("f_user"), col("ts").as("from_ts"))
    val batch = batchEv.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("to_ts"))
      .join(from,
        col("f_user") === col("user_id") &&
          col("from_ts") <= col("to_ts") &&
          col("from_ts") >= col("to_ts") - expr("INTERVAL 30 minutes"))
      .select("event_id", "user_id", "to_ts", "from_ts")

    val streamed = spark.table("attr_join_test")
    // AvailableNow drains the whole fixture, so no pair is lost to an
    // open watermark at the data's tail: the sets must be identical
    assert(streamed.except(batch).count() == 0,
      "streaming join emitted a pair batch attribution does not have")
    assert(batch.except(streamed).count() == 0,
      "streaming join dropped a pair batch attribution has")
    assert(streamed.count() == batch.count(), "pair multiplicity diverged")
  }

  // ------------------------------------------------------------------
  // streaming health hook
  // ------------------------------------------------------------------

  test("startNearDupDedup healthEveryN writes a per-batch health row " +
    "after the batch's append lands") {
    import graft.streaming.VecStreaming
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val corpus = (0 until 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val indexDir = java.nio.file.Files
      .createTempDirectory("vec_health_idx").toString
    Similarity.saveIvfIndex(corpus, indexDir, nlist = 4, replicate = 1)
    val in = java.nio.file.Files.createTempDirectory("vec_health_in").toString
    val surv = java.nio.file.Files.createTempDirectory("vec_health_s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vec_health_c").toString
    Seq((100L, vec(300)), (101L, vec(400)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(in)
    val stream = spark.readStream.schema(corpus.schema).parquet(in)
    val q = VecStreaming.startNearDupDedup(stream, "vec_id", "embedding",
      indexDir, surv, ckpt, threshold = 0.95, nprobe = 4, dim = 16,
      replicate = 1, healthEveryN = 1)
    q.awaitTermination(120000)
    val h = spark.read.parquet(s"$indexDir/health/batch=0").collect()
    assert(h.length == 1, "exactly one health row per checked batch")
    val row = h.head
    // the check runs AFTER the batch's own append: the streamed rows are
    // already counted on the appended side
    assert(row.getAs[Long]("rows_appended") >= 2)
    assert(row.getAs[Long]("rows_total") >= 22)
  }

  test("storeHealth: footer census over a per-batch store, compaction " +
    "recommendation fires past the live-batch bound and clears after " +
    "compactStore") {
    import graft.streaming.DocStreaming
    val dir = java.nio.file.Files.createTempDirectory("storehealth").toString
    (0 until 5).foreach { b =>
      Seq((b.toLong * 10, s"s$b")).toDF("doc_id", "s")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch=$b")
    }
    val h1 = DocStreaming.storeHealth(spark, dir, maxLiveBatches = 3)
      .collect().head
    assert(h1.getAs[Int]("batches_live") == 5)
    assert(!h1.getAs[Boolean]("has_compacted"))
    assert(h1.getAs[Long]("rows_total") == 5 &&
      h1.getAs[Long]("rows_live") == 5)
    assert(h1.getAs[Boolean]("recommend_compaction"))
    assert(h1.getAs[String]("reason").contains("compactStore"))
    DocStreaming.compactStore(spark, dir)
    val h2 = DocStreaming.storeHealth(spark, dir, maxLiveBatches = 3)
      .collect().head
    // compaction folds every batch except the newest into batch=-1
    assert(h2.getAs[Int]("batches_live") == 1)
    assert(h2.getAs[Boolean]("has_compacted"))
    assert(h2.getAs[Long]("rows_total") == 5)
    assert(h2.getAs[Long]("rows_compacted") == 4)
    assert(!h2.getAs[Boolean]("recommend_compaction"))
  }

  // ------------------------------------------------------------------
  // maintainStore: the compaction loop
  // ------------------------------------------------------------------

  /** Per-batch store fixture: `nBatches` partitions, one row per
    * (doc, batch) with s = batch — every row globally unique, so all
    * counts are construction arithmetic. */
  private def plantStore(nBatches: Int, nDocs: Int = 5): String = {
    val dir = java.nio.file.Files.createTempDirectory("maintstore").toString
    spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("batch",
        explode(sequence(lit(0L), lit(nBatches - 1L))))
      .select(col("doc_id"), col("batch").as("s"), col("batch"))
      .write.mode("overwrite").partitionBy("batch").parquet(dir)
    dir
  }

  test("maintainStore fires once past the live-batch bound, loses and " +
    "duplicates nothing, and the next tick is a healthy no-op that " +
    "touches no file") {
    val dir = plantStore(nBatches = 6, nDocs = 5)
    val r1 = DocStreaming.maintainStore(spark, dir, maxLiveBatches = 3)
      .collect().head
    assert(r1.getAs[Int]("batches_live") == 6)
    assert(r1.getAs[Boolean]("recommend_compaction") &&
      r1.getAs[Boolean]("compacted"))
    assert(spark.read.parquet(dir).count() == 30,
      "compaction must preserve every planted row")
    // partition discovery infers `batch` as int — normalize to long
    val batches = spark.read.parquet(dir)
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(batches.sameElements(Array(-1L, 5L)),
      "everything below the newest batch folds into batch=-1")
    // second tick: healthy no-op — row says so and no file changes
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def census() = graft.util.ParquetMeta
      .parquetFiles(fs, new org.apache.hadoop.fs.Path(dir))
      .map(st => (st.getPath.toString, st.getModificationTime, st.getLen))
      .sortBy(_._1)
    val before = census()
    val r2 = DocStreaming.maintainStore(spark, dir, maxLiveBatches = 3)
      .collect().head
    assert(!r2.getAs[Boolean]("compacted") &&
      !r2.getAs[Boolean]("recommend_compaction"))
    assert(r2.getAs[Int]("batches_live") == 1 &&
      r2.getAs[Boolean]("has_compacted"))
    assert(r2.getAs[Long]("rows_live") == 5 &&
      r2.getAs[Long]("rows_compacted") == 25)
    assert(census() == before, "a healthy tick must not touch the store")
  }

  test("maintainStore never claims a compaction that did not run: a " +
    "fired recommendation over a store with nothing mergeable reports " +
    "compacted = false") {
    // 2 batches > maxLiveBatches = 1 fires the recommendation, but only
    // ONE partition sits below the newest — compact() has nothing to
    // fold and must not be reported as having run
    val dir = plantStore(nBatches = 2, nDocs = 3)
    val r = DocStreaming.maintainStore(spark, dir, maxLiveBatches = 1)
      .collect().head
    assert(r.getAs[Boolean]("recommend_compaction"))
    assert(!r.getAs[Boolean]("compacted"),
      "nothing merged — the tick row must say so")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batch=-1")))
    assert(spark.read.parquet(dir).count() == 6, "store untouched")
  }

  test("maintainStore on a healthy store runs no jobs beyond the " +
    "footer census (metadata-sized no-op)") {
    val dir = plantStore(nBatches = 2, nDocs = 3)
    val censusJobs = jobsDuring {
      StoreCompaction.storeHealth(spark, dir).collect(): Unit
    }
    val maintJobs = jobsDuring {
      val row = DocStreaming.maintainStore(spark, dir).collect().head
      assert(!row.getAs[Boolean]("compacted"))
    }
    assert(maintJobs <= censusJobs + 1,
      s"healthy maintainStore ran $maintJobs jobs vs $censusJobs for " +
        "the bare census — it must add nothing beyond the measurement")
  }

  test("VecStreaming.maintainStore keeps the compacted appends " +
    "cell-partitioned so probe-side pruning survives compaction") {
    val root = java.nio.file.Files.createTempDirectory("vecmaint").toString
    val appends = s"$root/appends"
    // plant 4 append batches of cell-assigned vectors
    (0 until 4).foreach { b =>
      Seq((b * 10L, Seq(1.0, 0.0), b % 2), (b * 10L + 1, Seq(0.0, 1.0),
          (b + 1) % 2))
        .toDF("neighbor_id", "cv", "cell")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$appends/batch=$b")
    }
    val r = VecStreaming.maintainStore(spark, root, maxLiveBatches = 2)
      .collect().head
    assert(r.getAs[Boolean]("compacted"))
    val snap = spark.read.parquet(appends)
    assert(snap.count() == 8, "compaction must preserve every vector")
    val fs = new org.apache.hadoop.fs.Path(appends)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the batch=-1 snapshot is itself hive-partitioned by cell
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$appends/batch=-1/cell=0")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$appends/batch=-1/cell=1")),
      "compacted snapshot must stay cell-partitioned for probe pruning")
  }

  // ------------------------------------------------------------------
  // DocStreaming health hook
  // ------------------------------------------------------------------

  test("DocStreaming.startNearDupDedup healthEveryN writes a per-batch " +
    "store-health row OUTSIDE the store root") {
    val in = java.nio.file.Files.createTempDirectory("doc_health_in").toString
    val store = java.nio.file.Files
      .createTempDirectory("doc_health_st").toString + "/store"
    val surv = java.nio.file.Files.createTempDirectory("doc_health_s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("doc_health_c").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(in)
    val q = DocStreaming.startNearDupDedup(stream, "doc_id", "text",
      store, surv, ckpt, healthEveryN = 1)
    q.awaitTermination(120000)
    val h = spark.read.parquet(s"${store}_health/batch=0").collect()
    assert(h.length == 1, "exactly one health row per checked batch")
    val row = h.head
    // the check runs AFTER the batch's own store write: its shingles
    // are already counted on the live side
    assert(row.getAs[Int]("batches_live") == 1)
    assert(row.getAs[Long]("rows_live") > 0)
    assert(!row.getAs[Boolean]("recommend_compaction"))
    // the store root itself stays pure batch= partitions (readable)
    assert(spark.read.parquet(store).columns.contains("batch"))
  }

  test("startBm25Ingest healthEveryN writes a postings-store health row " +
    "under the store's health/ dir (outside the probed sub-stores)") {
    val in = java.nio.file.Files.createTempDirectory("bm25h_in").toString
    val store = java.nio.file.Files
      .createTempDirectory("bm25h_st").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("bm25h_c").toString
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(in)
    val q = DocStreaming.startBm25Ingest(stream, "doc_id", "text",
      store, ckpt, healthEveryN = 1)
    q.awaitTermination(120000)
    val h = spark.read.parquet(s"$store/health/batch=0").collect()
    assert(h.length == 1)
    assert(h.head.getAs[Int]("batches_live") == 1)
    assert(!h.head.getAs[Boolean]("recommend_compaction"))
    // the store still searches: health/ is invisible to the probe
    val res = Corpus.bm25SearchStored(spark, store,
      Seq((1L, "alpha")).toDF("query_id", "qtext"), "query_id", "qtext",
      k = 2).collect()
    assert(res.length == 1 && res.head.getAs[Long]("doc_id") == 1L)
  }

  // ------------------------------------------------------------------
  // BM25 store maintenance
  // ------------------------------------------------------------------

  test("maintainBm25Store compacts all three sub-stores past the bound " +
    "and the compacted store still ranks exactly like a full rebuild") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 40)
    val root = java.nio.file.Files
      .createTempDirectory("bm25_maint").toString + "/idx"
    Corpus.saveBm25Store(docsDf.filter(col("doc_id") < 10),
      "doc_id", "text", root)
    (1 to 3).foreach { i =>
      Corpus.refreshBm25Store(
        docsDf.filter(col("doc_id") >= i * 10 && col("doc_id") < (i + 1) * 10),
        "doc_id", "text", root)
    }
    val r1 = Corpus.maintainBm25Store(spark, root, maxLiveBatches = 2)
      .collect().head
    assert(r1.getAs[Boolean]("recommend_compaction") &&
      r1.getAs[Boolean]("compacted"))
    val r2 = Corpus.maintainBm25Store(spark, root, maxLiveBatches = 2)
      .collect().head
    assert(!r2.getAs[Boolean]("compacted"), "second tick is a no-op")
    val qs = Seq((1L, "spark table scan"), (2L, "customer value"))
      .toDF("query_id", "qtext")
    val stored = Corpus.bm25SearchStored(spark, root, qs,
      "query_id", "qtext", k = 8).orderBy("query_id", "rank").collect()
    val oneShot = Corpus.bm25Search(
      Corpus.bm25Index(docsDf, "doc_id", "text"), qs,
      "query_id", "qtext", k = 8).orderBy("query_id", "rank").collect()
    assert(stored.sameElements(oneShot),
      "compacted store must rank exactly like a full rebuild")
  }
}
