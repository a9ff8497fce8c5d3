package graft.streaming

import graft.{Catalog, RunConfig}
import graft.exec.Materializer
import graft.models.{Intermediate, Staging}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming parity-plus (SURVEY §2.8).
  *
  * The reference's streaming story is illustrative markdown only
  * (notebooks/databricks_data_flow.sql:284-325: Auto Loader
  * `cloudFiles` ingest and a DLT pipeline with `@dlt.expect_or_drop`);
  * its incremental models are the batch analogue. This module makes those
  * shapes real on Spark:
  *
  *  - Auto Loader → `readStream` file source over a CSV landing dir
  *  - DLT expectations → filter/quarantine split on the same predicates
  *  - W1 dedup → `withWatermark` + `dropDuplicates(reading_id)`
  *  - hourly grain → tumbling `window()` aggregation under a watermark
  *  - MERGE sink → `foreachBatch` driving the batch Materializer upsert,
  *    so streaming and batch share one Silver write path
  *  - custom state → `flatMapGroupsWithState` anomaly-streak tracking
  *
  * Scale notes: the file source lists incrementally and checkpoints
  * progress; state stores (dedup, windows, streaks) are partitioned by
  * grouping key across executors, and the watermark bounds state size —
  * exactly the properties that keep this running on an unbounded 100 TB/day
  * feed where the batch rewrite would not.
  */
object StreamingIngest {

  /** Auto Loader analog: schema-pinned streaming CSV source over a landing
    * directory (cloudFiles → file source; new files are discovered
    * incrementally and exactly-once per checkpoint).
    */
  def readSensorStream(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream
      .schema(Catalog.sensorReadingsSchema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(landingDir)

  /** DLT `expect_or_drop` analog — the expectations from the reference's
    * DLT example (valid id/device/timestamp). Returns (valid, quarantine):
    * production keeps the drop stream auditable instead of discarding it.
    */
  def withExpectations(readings: DataFrame): (DataFrame, DataFrame) = {
    val ok = col("reading_id").isNotNull && col("device_id").isNotNull &&
      col("reading_ts").isNotNull && col("ingested_at").isNotNull
    (readings.filter(ok), readings.filter(!ok))
  }

  /** Streaming W1 dedup: keep one row per reading_id within the watermark
    * horizon (re-delivered ids are dropped; state for ids older than the
    * watermark is evicted, bounding memory on an unbounded stream).
    */
  def dedupWithinWatermark(readings: DataFrame, delay: String = "1 hour"): DataFrame =
    readings.withWatermark("ingested_at", delay).dropDuplicates("reading_id")

  /** Hourly tumbling-window per-device/metric stats — the streaming
    * int_device_health: windows finalize (append mode) once the event-time
    * watermark passes window end, i.e. late data within the delay still
    * lands in its hour.
    */
  def hourlyHealthStream(readings: DataFrame, delay: String = "2 hours"): DataFrame =
    readings
      .filter(col("metric_value").isNotNull)
      .withWatermark("reading_ts", delay)
      .groupBy(
        window(col("reading_ts"), "1 hour").as("hour_window"),
        col("device_id"), col("metric_name"))
      .agg(
        count(lit(1)).as("reading_count"),
        round(avg(col("metric_value")), 2).as("avg_value"),
        round(min(col("metric_value")), 2).as("min_value"),
        round(max(col("metric_value")), 2).as("max_value"))
      .select(
        col("hour_window.start").as("reading_hour"),
        col("device_id"), col("metric_name"),
        col("reading_count"), col("avg_value"), col("min_value"), col("max_value"))

  /** foreachBatch MERGE sink: every micro-batch runs the full Silver
    * transformation (staging projection + dedup + enrichment + anomaly
    * flags) and upserts by reading_id through the SAME Materializer the
    * batch pipeline uses — one write path, two drivers.
    */
  def silverUpsertSink(
      rawReadings: DataFrame,
      devices: DataFrame,
      targetPath: String,
      checkpointDir: String,
      cfg: RunConfig = RunConfig.frozen): StreamingQuery =
    StoreCompaction.sink(rawReadings, "silver_upsert", checkpointDir) { (batch, _) =>
      val cleaned = Intermediate.intSensorReadingsCleaned(
        Staging.stgSensorReadings(batch, cfg), devices, cfg)
      Materializer.incrementalUpsert(cleaned, targetPath, Seq("reading_id"))
    }

  /** Gap-based session windows on the stream — the streaming twin of the
    * batch sessionization query (q25): a session closes once the watermark
    * passes its end + gap, so state per (user, open session) is bounded.
    */
  def sessionizeStream(
      events: DataFrame,
      gap: String = "30 minutes",
      delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("first_event_ts"),
        max(col("ts")).as("last_event_ts"))
      .select(
        col("user_id"),
        col("session.start").as("session_start"),
        col("session.end").as("session_end"),
        col("n_events"), col("first_event_ts"), col("last_event_ts"))

  /** Stream-stream interval join — the streaming twin of the batch binned
    * range join (q18): purchases pick up same-user errors from the
    * trailing hour. Watermarks on BOTH sides bound the join state: an
    * error older than watermark + interval can never match again and is
    * evicted. Columns on the right side must be pre-renamed (err_*) so the
    * join condition is unambiguous.
    */
  def recentErrorsJoin(
      purchases: DataFrame,
      errors: DataFrame,
      delay: String = "1 hour"): DataFrame =
    purchases.withWatermark("ts", delay)
      .join(
        errors.withWatermark("err_ts", delay),
        org.apache.spark.sql.functions.expr(
          """user_id = err_user_id AND
            |ts >= err_ts AND ts < err_ts + INTERVAL 1 HOUR""".stripMargin))

  /** Stream-static join — enrich a stream with a batch dimension (the
    * DLT "streaming table joins a materialized dim" shape; reference's
    * silver enrich int_readings_enriched.sql does this batchwise). The
    * static side is re-read per micro-batch (picking up dim updates) and
    * broadcast when it fits `autoBroadcastJoinThreshold`, so the stream
    * side never shuffles — stateless, no watermark needed, unlike the
    * stream-stream case. At 100 TB of stream the dim broadcast is the
    * only sane plan; a huge dim would instead go through the foreachBatch
    * MERGE path.
    */
  def enrichWithDevices(readings: DataFrame, devices: DataFrame): DataFrame =
    readings.join(
      org.apache.spark.sql.functions.broadcast(
        devices.select(col("device_id"), col("plant_location"), col("device_type"))),
      Seq("device_id"), "left")

  // ── Custom state v2: transformWithState (Spark 4, RocksDB-backed) ─────

  case class MetricReading(device_id: String, metric_value: Double)
  case class DeviceRunningStats(device_id: String, n_readings: Long, max_value: Double)
  case class RunningState(n: Long, mx: Double)

  /** Arbitrary-state v2 processor: per-device lifetime (count, max) in a
    * `ValueState`, one Update row emitted per (key, micro-batch). The
    * successor API to flatMapGroupsWithState — typed state handles,
    * RocksDB state store (incremental checkpoints, state larger than
    * executor memory), per-state TTL available via `TTLConfig` when the
    * key space is unbounded.
    */
  class DeviceStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, MetricReading, DeviceRunningStats] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[RunningState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[RunningState]("agg",
        org.apache.spark.sql.Encoders.product[RunningState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[MetricReading],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[DeviceRunningStats] = {
      var s = Option(st.get()).getOrElse(RunningState(0L, Double.MinValue))
      rows.foreach(r => s = RunningState(s.n + 1, math.max(s.mx, r.metric_value)))
      st.update(s)
      Iterator.single(DeviceRunningStats(key, s.n, s.mx))
    }
  }

  /** Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`) — transformWithState
    * does not run on the default HDFS-backed store.
    */
  def deviceRunningStats(readings: Dataset[MetricReading]): Dataset[DeviceRunningStats] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.device_id)
      .transformWithState(new DeviceStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  // ── Timers: processing-time idle-source detection ─────────────────────

  case class IdleAlert(device_id: String, last_value: Double, idle_ms_at_least: Long)
  case class LastSeen(value: Double, timerAt: Long)

  /** TimeMode.ProcessingTime + per-key timers: every reading (re)arms a
    * one-shot timer `idleMs` ahead and cancels the previous one; if the
    * timer fires before the next reading, the key has gone quiet and an
    * IdleAlert is emitted from `handleExpiredTimer` — the push-based
    * "device went dark" monitor (the reference's freshness check, q60, is
    * the batch pull-based form of the same SLA). State is one LastSeen
    * per key plus at most one registered timer; the alert clears the
    * state, so a dead key costs nothing after its single alert.
    */
  class IdleDeviceProcessor(idleMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, MetricReading, IdleAlert] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[LastSeen] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[LastSeen]("last",
        org.apache.spark.sql.Encoders.product[LastSeen],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[MetricReading],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[IdleAlert] = {
      Option(last.get()).foreach(p => getHandle.deleteTimer(p.timerAt)) // re-arm
      var v = 0.0
      rows.foreach(r => v = r.metric_value)
      val fireAt = timers.getCurrentProcessingTimeInMs() + idleMs
      getHandle.registerTimer(fireAt)
      last.update(LastSeen(v, fireAt))
      Iterator.empty
    }
    override def handleExpiredTimer(key: String,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[IdleAlert] = {
      val out = Option(last.get())
        .map(p => IdleAlert(key, p.value, idleMs)).iterator
      last.clear() // one alert per silence; a new reading re-creates state
      out
    }
  }

  /** Requires the RocksDB state store provider, like `deviceRunningStats`. */
  def idleDeviceAlerts(readings: Dataset[MetricReading],
      idleMs: Long): Dataset[IdleAlert] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.device_id)
      .transformWithState(new IdleDeviceProcessor(idleMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(), OutputMode.Update())
  }

  // ── Custom state: anomaly streak tracking ─────────────────────────────

  case class Reading(device_id: String, reading_ts: java.sql.Timestamp, is_anomaly: Boolean)
  case class StreakState(streak: Int)
  case class StreakEvent(device_id: String, reading_ts: java.sql.Timestamp, streak: Int)

  /** flatMapGroupsWithState: per-device consecutive-anomaly streak — emits
    * a StreakEvent per anomalous reading carrying the running streak
    * length; a normal reading resets it. State is one Int per device,
    * partitioned across executors by the group key.
    */
  def anomalyStreaks(readings: Dataset[Reading]): Dataset[StreakEvent] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.device_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (deviceId: String, rows: Iterator[Reading], state: GroupState[StreakState]) => {
          var streak = state.getOption.map(_.streak).getOrElse(0)
          val out = rows.toSeq.sortBy(_.reading_ts.getTime).flatMap { r =>
            if (r.is_anomaly) {
              streak += 1
              Some(StreakEvent(deviceId, r.reading_ts, streak))
            } else {
              streak = 0
              None
            }
          }
          state.update(StreakState(streak))
          out.iterator
        })
  }
}
