package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming ingestion — the capability the reference lacks
  * entirely (SURVEY §2.10) and Spark supplies natively. The transforms are
  * the *same expressions* as the batch path (graft.operators.Events): a
  * `window()` aggregation compiled against `readStream` instead of `read`.
  *
  * Scale posture: stateful aggregation state is keyed by (window,
  * event_type) — bounded by watermark expiry, shuffled once; file sources
  * list incrementally (`maxFilesPerTrigger`); sinks are exactly-once with
  * checkpointing.
  */
object EventsStreaming {

  /** Typed event row for the stateful API. */
  final case class Event(ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)

  /** One closed session per user. */
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp,
                           n_events: Long, sum_value: Double)

  final case class SessionState(start: Long, end: Long, n: Long, total: Double)

  /** A streaming DataFrame over an events parquet directory (file source —
    * new files are discovered incrementally). Schema is taken from the
    * existing data; the ns timestamp arrives as long and is truncated to
    * micros exactly like the batch reader. */
  def readEvents(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Int = 16): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    graft.sources.Sources.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
  }

  /** Tumbling-window aggregation with a watermark: late events beyond
    * `lateness` are dropped and window state is expired — bounded state at
    * any scale. Identical expression shape to Events.tumbling. */
  def windowedCounts(events: DataFrame, width: String = "1 hour",
                     lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count("*").as("n_events"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** java.sql.Timestamp <-> epoch micros (getTime alone is ms-precision —
    * the fixture's timestamps carry micros, so ms would corrupt session
    * bounds). */
  private def toMicros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Sliding-window variant: overlapping windows of `width` every `slide`
    * (each event lands in width/slide windows via the native Expand). */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "15 minutes",
                    lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count("*").as("n_events"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Stream-to-cube ingestion (SURVEY §7.1 step 7): run the watermarked
    * windowed aggregation into an append-only parquet sink, then expose
    * the sink as a [[graft.model.DataCube]] whose time dimension is the
    * window start (year/date/hour hierarchy) and whose other dimension is
    * the event type. The returned query handle drives ingestion; call
    * [[cubeFromSink]] any time for the current cube. */
  def startToCubeSink(agg: DataFrame, sinkDir: String,
                      checkpointDir: String): StreamingQuery =
    agg.writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()

  /** Day-grain counts for the streaming anomaly monitor: the
    * watermarked tumbling aggregation at day grain. Run it into a
    * parquet sink via [[startToCubeSink]]; score any time with
    * [[anomaliesFromSink]]. State is one row per open (day, group) —
    * bounded by the watermark, independent of event volume.
    *
    * Days are bucketed with `date_trunc('DAY', tsCol)` — the SESSION
    * timezone's midnights, exactly like the batch twin
    * [[graft.operators.Events.volumeAnomalies]]. (The previous
    * `window(ts, '1 day')` form bucketed by epoch-aligned UTC midnights
    * and broke stream≡batch in any non-UTC session.) That moves the
    * watermark onto the truncated column — the event-time metadata must
    * live ON the grouping attribute for state eviction — and a
    * day-start-grain watermark advances in day quanta, so ONE extra day
    * of slack is folded into `lateness`: every event the raw-timestamp
    * watermark would have accepted is still accepted (a day closes at
    * most a day later than before, and is never judged early). */
  def dailyCounts(events: DataFrame, groupCols: Seq[String] = Nil,
                  lateness: String = "1 hour",
                  tsCol: String = "ts"): DataFrame =
    events
      .withColumn("day", date_trunc("DAY", col(tsCol)))
      .withWatermark("day", s"$lateness 1 day")
      .groupBy((col("day") +: groupCols.map(col)): _*)
      .agg(count(lit(1)).as("n"))
      .select((col("day") +: groupCols.map(col) :+ col("n")): _*)

  /** Score the maintained day-count sink with the BATCH scoring tail
    * ([[graft.operators.Events.scoreDailyCounts]]) — the streaming twin
    * of `volumeAnomalies`. The heavy work (per-event counting) happened
    * incrementally in the stream; this reads the day-grain sink
    * (calendar-bounded rows) and applies the trailing-window z-score.
    * `max` per (day, group) makes the read idempotent under an
    * at-least-once sink replay (a day's final count is the largest
    * emission). Days still open behind the watermark haven't been
    * emitted yet and are absent — by design: a day is only judged once
    * it is complete. */
  def anomaliesFromSink(spark: SparkSession, sinkDir: String,
                        groupCols: Seq[String] = Nil,
                        window: Int = 7, z: Double = 3.0): DataFrame = {
    val daily = spark.read.parquet(sinkDir)
      .groupBy((col("day") +: groupCols.map(col)): _*)
      .agg(max(col("n")).as("n"))
    graft.operators.Events.scoreDailyCounts(daily, groupCols, window, z)
  }

  /** Stream-static POINT-IN-TIME enrichment: every streamed fact row is
    * joined to the dimension version valid at its own timestamp — the
    * streaming twin of the q63 batch path
    * ([[graft.sources.Sources.scd2]] +
    * [[graft.operators.Events.asofJoin]]). Structured Streaming's
    * stream-static join supports only equi-joins, so the as-of runs
    * per micro-batch in foreachBatch, against the dimension AS OF the
    * batch — correct for SCD2 dimensions, which are append-only in
    * version history (a new version affects only facts after its
    * `valid_from`, and a fact that arrived before the version existed
    * was correctly joined to the then-current one).
    *
    * Output lands in per-batch-id partitions (overwrite mode), so an
    * at-least-once foreachBatch replay rewrites its own partition
    * instead of duplicating rows — the same idempotence contract as the
    * dedup stores. `dim` is re-read per batch when it is a lazily-read
    * DataFrame over storage, picking up dimension versions appended
    * between batches. */
  def startPointInTimeEnrich(stream: DataFrame, dim: DataFrame,
                             keys: Seq[String], tsCol: String,
                             payloadCols: Seq[String],
                             outDir: String, checkpointDir: String,
                             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Events.asofJoin(batch.toDF(), dim, keys, tsCol,
            payloadCols)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .trigger(trigger)
      .start()

  def cubeFromSink(spark: SparkSession, sinkDir: String): graft.model.DataCube = {
    import graft.model._
    import scala.collection.immutable.ListMap
    val sink = spark.read.parquet(sinkDir)
      .withColumn("w_date", to_date(col("window_start")))
      .withColumn("w_hour", hour(col("window_start")))
    val timeDim = sink.select("window_start").distinct()
      .withColumn("w_date", to_date(col("window_start")))
      .withColumn("w_hour", hour(col("window_start")))
      .withColumn("w_year", year(col("window_start")))
    DataCube.build(
      Fact.build(sink, Seq("window_start", "event_type"),
        Seq(Measure.sum("n_events", "n_events"),
          Measure.sum("sum_value", "sum_value"))),
      Seq(
        Dimension.build("time", "window_start",
          ListMap("daily" -> Hierarchy(
            "w_year" -> Seq.empty, "w_date" -> Seq.empty,
            "w_hour" -> Seq.empty, "window_start" -> Seq.empty)),
          timeDim),
        Dimension.build("type", "event_type",
          ListMap("default" -> Hierarchy.flat("event_type")),
          sink.select("event_type").distinct())))
  }

  /** Custom sessionization state machine via mapGroupsWithState: per-user
    * state {start, end, n, total} in epoch micros; a gap beyond
    * `gapMinutes` closes the session and emits it. Event-time timeout
    * expires idle users' state — the unbounded-state trap a naive
    * implementation falls into. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60 * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, Session](
        GroupStateTimeout.EventTimeTimeout) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Session(userId, fromMicros(s.start), fromMicros(s.end), s.n, s.total)
          } else {
            val sorted = it.toSeq.sortBy(e => toMicros(e.ts))
            var cur = state.getOption
            var closed: Option[Session] = None
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed = Some(Session(userId, fromMicros(s.start),
                    fromMicros(s.end), s.n, s.total))
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.end + gapUs) / 1000L) // timeout is ms
            }
            // one closed session per micro-batch per user is emitted; in a
            // production pipeline use flatMapGroupsWithState to emit all
            closed.getOrElse(Session(userId, new java.sql.Timestamp(0), new java.sql.Timestamp(0), 0, 0.0))
          }
      }
      .filter(_.n_events > 0)
  }

  /** Sessionization emitting EVERY closed session (not just the last per
    * micro-batch) via flatMapGroupsWithState — the production variant of
    * [[sessionize]]. */
  def sessionizeAll(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60 * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, fromMicros(s.start), fromMicros(s.end),
              s.n, s.total))
          } else {
            val sorted = it.toSeq.sortBy(e => toMicros(e.ts))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += Session(userId, fromMicros(s.start),
                    fromMicros(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.end + gapUs) / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-stream interval join — the streaming form of
    * [[graft.operators.Events.attribution]]'s join step: every
    * (conversion, prior view ≤ `within` before it) pair, both sides
    * watermarked. The time bound lives IN the join condition, which is
    * what lets Spark expire buffered rows: a view older than
    * `to_ts - within` below the watermark can never match again, so join
    * state stays bounded at any stream length (the unbounded-state
    * stream-stream join is rejected by Spark outright).
    *
    * Inner join by design — the streaming twin of the batch op's pair
    * set before its per-conversion max; take the max downstream (batch
    * over the sink, or a stateful agg) where the semantics need
    * last-touch rather than all-touch. Output: (event_id, user_id,
    * to_ts, from_ts). */
  def attributionStream(events: DataFrame, fromType: String, toType: String,
                        within: String = "30 minutes",
                        lateness: String = "1 hour"): DataFrame = {
    val from = events.filter(col("event_type") === fromType)
      .select(col("user_id").as("f_user"), col("ts").as("from_ts"))
      .withWatermark("from_ts", lateness)
    val to = events.filter(col("event_type") === toType)
      .select(col("event_id"), col("user_id"), col("ts").as("to_ts"))
      .withWatermark("to_ts", lateness)
    to.join(from,
        col("f_user") === col("user_id") &&
          col("from_ts") <= col("to_ts") &&
          col("from_ts") >= col("to_ts") - expr(s"INTERVAL $within"))
      .select("event_id", "user_id", "to_ts", "from_ts")
  }
}
