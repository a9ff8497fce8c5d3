package graft.exec

import graft.{Catalog, RunConfig}
import graft.models._
import graft.quality.Checks
import graft.quality.Checks.CheckResult
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** Orchestration (SURVEY §3): seed → bronze views → silver incremental →
  * silver tests → (gate) → gold tables, plus the production-workflow
  * semantics worth preserving (§3.4): IF/ELSE branch on an anomaly-count
  * scalar, ForEach over plant locations with bounded concurrency, and a
  * retry helper.
  */
object Pipeline {

  case class Result(
      silverChecks: Seq[CheckResult],
      goldBuilt: Boolean,
      goldChecks: Seq[CheckResult]) {
    def allPassed: Boolean = (silverChecks ++ goldChecks).forall(_.passed)
  }

  /** One model-build task in the dependency graph. `deps` name other nodes
    * in the same `runDag` call; the body runs only after they complete.
    */
  case class DagNode(name: String, deps: Seq[String])(val body: () => Unit) {
    def run(): Unit = body()
  }

  /** dbt's `threads: N` scheduler semantics (profiles.yml.template:24):
    * run model nodes on a bounded pool, each starting the moment its
    * dependencies finish and a thread frees up — independent models build
    * concurrently. Spark sessions accept job submission from many threads,
    * so concurrent models' stages interleave on the cluster; per-model
    * results are unchanged because the DAG edges (not wall-clock order)
    * carry all data dependencies. Nodes must be listed deps-first (models
    * are written in DAG order already); an unknown dep is an error. Fails
    * fast: the first body exception propagates and unstarted dependents
    * are skipped.
    */
  def runDag(nodes: Seq[DagNode], threads: Int = 4): Unit = {
    require(threads >= 1, "threads must be >= 1")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val done = scala.collection.mutable.Map[String, Future[Unit]]()
    nodes.foreach { n =>
      val depFs = n.deps.map(d => done.getOrElse(d,
        throw new IllegalArgumentException(
          s"node '${n.name}' depends on '$d', which is not defined before it")))
      done(n.name) = Future.sequence(depFs).map(_ => n.run())
    }
    try Await.result(Future.sequence(nodes.map(n => done(n.name))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Full `dbt seed → run → test` lifecycle against a warehouse dir.
    *
    * Each test gate (35 silver checks, then 19 gold checks) is counted in
    * one Spark action by `Checks.evaluate`; the gold checks read the gold
    * tables just written.
    *
    * Silver models are materialized incrementally on their unique keys with
    * the reference's exact watermark predicates; `fullRefresh` mirrors
    * `dbt run --full-refresh` (drop + rebuild), the branch the production
    * workflow takes when anomalies spike
    * (notebooks/databricks_control_flow.py:150-215).
    */
  def run(
      spark: SparkSession,
      warehouseDir: String,
      seedDir: String = Catalog.defaultSeedDir,
      cfg: RunConfig = RunConfig.frozen,
      fullRefresh: Boolean = false,
      threads: Int = 4): Result = {

    val cleanedPath = s"$warehouseDir/silver/int_sensor_readings_cleaned"
    val healthPath  = s"$warehouseDir/silver/int_device_health"
    val alertsPath  = s"$warehouseDir/silver/int_alerts_enriched"

    // Bronze: views over the typed seeds — nothing materialized (S5).
    val stgR = Staging.stgSensorReadings(Catalog.rawSensorReadings(spark, seedDir), cfg)
    val stgD = Staging.stgDevices(Catalog.rawDevices(spark, seedDir), cfg)
    val stgA = Staging.stgAlerts(Catalog.rawAlerts(spark, seedDir), cfg)

    def wm(path: String, c: String): Option[java.sql.Timestamp] =
      if (fullRefresh) None else Materializer.watermark(spark, path, c)

    // Silver, as a DAG on `threads` workers: cleaned ∥ alerts first,
    // health once cleaned lands — the two independent chains overlap
    // exactly as dbt's scheduler would run them.
    runDag(Seq(
      // Silver 1: cleaned readings — incremental on reading_id, watermark
      // on ingested_at (int_sensor_readings_cleaned.sql:24-27).
      DagNode("int_sensor_readings_cleaned", Nil) { () =>
        val newReadings = wm(cleanedPath, "ingested_at")
          .map(w => stgR.filter(col("ingested_at") > lit(w))).getOrElse(stgR)
        Materializer.incrementalUpsert(
          Intermediate.intSensorReadingsCleaned(newReadings, stgD, cfg),
          cleanedPath, Seq("reading_id"))
      },
      // Silver 3: enriched alerts — incremental on alert_id, watermark on
      // alert_ts (int_alerts_enriched.sql:18-20). Independent of cleaned.
      DagNode("int_alerts_enriched", Nil) { () =>
        val newAlerts = wm(alertsPath, "alert_ts")
          .map(w => stgA.filter(col("alert_ts") > lit(w))).getOrElse(stgA)
        Materializer.incrementalUpsert(
          Intermediate.intAlertsEnriched(newAlerts, stgD, cfg),
          alertsPath, Seq("alert_id"))
      },
      // Silver 2: device health — incremental on the surrogate key,
      // watermark on _dbt_processed_at (int_device_health.sql:20-22);
      // reads the cleaned table it depends on.
      DagNode("int_device_health", Seq("int_sensor_readings_cleaned")) { () =>
        val cleanedT = spark.read.parquet(cleanedPath)
        val healthInput = wm(healthPath, "_dbt_processed_at")
          .map(w => cleanedT.filter(col("_dbt_processed_at") > lit(w))).getOrElse(cleanedT)
        Materializer.incrementalUpsert(
          Intermediate.intDeviceHealth(healthInput, cfg),
          healthPath, Seq("device_health_key"))
      }), threads)

    val cleaned = spark.read.parquet(cleanedPath)
    val health = spark.read.parquet(healthPath)
    val alertsE = spark.read.parquet(alertsPath)

    // Gate: gold is conditional on bronze+silver tests passing
    // (databricks_control_flow.py:88-110, CONCEPTS.md:104-121).
    val m0 = Medallion(stgR, stgD, stgA, cleaned, health, alertsE,
      Marts.fctHourlyMetrics(health, cfg),
      Marts.fctDeviceSummary(cleaned, alertsE, cfg),
      Marts.fctAnomalyEvents(cleaned, cfg),
      Marts.dimDevices(stgD, cleaned, cfg))
    val silverChecks = Checks.evaluate(Checks.suite(m0)
      .filter(ch => ch.model.startsWith("stg_") || ch.model.startsWith("int_")))

    if (silverChecks.exists(!_.passed)) return Result(silverChecks, goldBuilt = false, Nil)

    // Gold: full-table sinks (S7) — all four are leaves of the DAG, so
    // they build concurrently on the same pool width.
    def gold(name: String) = s"$warehouseDir/gold/$name"
    runDag(Seq(
      DagNode("fct_hourly_metrics", Nil) { () =>
        Materializer.overwriteTable(m0.fctHourlyMetrics, gold("fct_hourly_metrics")) },
      DagNode("fct_device_summary", Nil) { () =>
        Materializer.overwriteTable(m0.fctDeviceSummary, gold("fct_device_summary")) },
      DagNode("fct_anomaly_events", Nil) { () =>
        Materializer.overwriteTable(m0.fctAnomalyEvents, gold("fct_anomaly_events")) },
      DagNode("dim_devices", Nil) { () =>
        Materializer.overwriteTable(m0.dimDevices, gold("dim_devices")) }), threads)

    // Gold tests query the materialized relations, as dbt's `test` step
    // does, instead of rebuilding every mart from silver.
    val written = m0.copy(
      fctHourlyMetrics = spark.read.parquet(gold("fct_hourly_metrics")),
      fctDeviceSummary = spark.read.parquet(gold("fct_device_summary")),
      fctAnomalyEvents = spark.read.parquet(gold("fct_anomaly_events")),
      dimDevices = spark.read.parquet(gold("dim_devices")))
    val goldChecks = Checks.evaluate(Checks.suite(written)
      .filter(ch => ch.model.startsWith("fct_") || ch.model.startsWith("dim_")))
    Result(silverChecks, goldBuilt = true, goldChecks)
  }

  /** IF/ELSE condition task (databricks_control_flow.py:150-215): anomaly
    * count above the threshold triggers a full refresh, else incremental.
    */
  def runWithConditionalRefresh(
      spark: SparkSession,
      warehouseDir: String,
      seedDir: String = Catalog.defaultSeedDir,
      cfg: RunConfig = RunConfig.frozen,
      anomalyThreshold: Long = 50): Result = {
    val anomalyCount = Materializer.readTarget(spark, s"$warehouseDir/silver/int_sensor_readings_cleaned")
      .map(_.filter(col("is_anomaly")).count()).getOrElse(0L)
    run(spark, warehouseDir, seedDir, cfg, fullRefresh = anomalyCount > anomalyThreshold)
  }

  /** ForEach task over `SELECT DISTINCT plant_location` with bounded
    * concurrency 3 (databricks_control_flow.py:254-317).
    */
  def forEachPlant[T](stgDevices: DataFrame, concurrency: Int = 3)(
      body: String => T): Seq[(String, Try[T])] = {
    val locations = stgDevices.select("plant_location").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = locations.map(loc => Future(loc -> Try(body(loc))))
      Await.result(Future.sequence(futures), Duration.Inf).map { case (l, t) => (l, t) }
    } finally pool.shutdown()
  }

  /** Retry with fixed interval (databricks_control_flow.py:365-369:
    * max 3 retries, 30 s interval — interval injectable for tests).
    */
  @annotation.tailrec
  def retry[T](maxRetries: Int = 3, intervalMs: Long = 30000)(f: => T): T =
    Try(f) match {
      case Success(v) => v
      case Failure(e) if maxRetries > 0 =>
        Thread.sleep(intervalMs)
        retry(maxRetries - 1, intervalMs)(f)
      case Failure(e) => throw e
    }

  /** SLA policy for a monitored task (databricks_control_flow.py:366-386:
    * the production workflow alerts when a run exceeds 900 s and hard-kills
    * a task at 1800 s). `clock` is injectable so specs can drive the alert
    * path without sleeping 15 minutes.
    */
  case class Sla(
      alertAfterMs: Long = 900000,
      timeoutMs: Long = 1800000,
      clock: () => Long = () => System.currentTimeMillis(),
      onAlert: SlaReport => Unit = _ => ())

  case class SlaReport(task: String, durationMs: Long, thresholdMs: Long, timedOut: Boolean)

  class SlaTimeoutException(val report: SlaReport) extends RuntimeException(
    s"task '${report.task}' exceeded its ${report.thresholdMs} ms timeout " +
      s"(ran ${report.durationMs} ms before cancellation)")

  /** Run `body` under the SLA: if it outlives `timeoutMs` it is cancelled
    * (thread interrupt + SlaTimeoutException — the Jobs-API task-timeout
    * analog); if it finishes but took longer than `alertAfterMs`, `onAlert`
    * fires with the measured duration (the duration-alert analog) and the
    * result is still returned — an SLA breach is a page, not a failure.
    * Durations are measured with the injected clock so both paths are
    * deterministically testable.
    */
  def withSla[T](task: String, sla: Sla = Sla())(body: => T): T = {
    val t0 = sla.clock()
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, s"sla-$task"); t.setDaemon(true); t
    })
    val fut = exec.submit(new java.util.concurrent.Callable[T] { def call(): T = body })
    try {
      val out =
        try fut.get(sla.timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            fut.cancel(true) // interrupts the body's thread
            val r = SlaReport(task, sla.clock() - t0, sla.timeoutMs, timedOut = true)
            sla.onAlert(r)
            throw new SlaTimeoutException(r)
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause // body failure propagates as itself, not wrapped
        }
      val elapsed = sla.clock() - t0
      if (elapsed > sla.alertAfterMs)
        sla.onAlert(SlaReport(task, elapsed, sla.alertAfterMs, timedOut = false))
      out
    } finally exec.shutdownNow()
  }
}
