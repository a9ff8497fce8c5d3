package graft.exec

import graft.{Catalog, RunConfig}
import graft.models._
import graft.quality.Checks
import graft.quality.Checks.{Check, CheckResult}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.concurrent.TrieMap
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
    * one Spark action by `Checks.evaluate`, which reads each model once;
    * the gold checks read the gold tables just written. Tables this run
    * wrote are re-read with the schema their sink returned, so no re-read
    * launches a footer job.
    *
    * Silver models are materialized incrementally on their unique keys with
    * the reference's exact watermark predicates; each node reads its target
    * once, for the watermark and the merge. `fullRefresh` mirrors `dbt run
    * --full-refresh` (drop + rebuild: each silver table is atomically
    * overwritten with the model over every source row), the branch the
    * production workflow takes when anomalies spike
    * (notebooks/databricks_control_flow.py:150-215).
    */
  def run(
      spark: SparkSession,
      warehouseDir: String,
      seedDir: String,
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

    val schemas = TrieMap.empty[String, StructType]
    def written(path: String): DataFrame = spark.read.schema(schemas(path)).parquet(path)

    // One silver node: the rows of `input` past the target's watermark on
    // `c` go through `model` and are upserted on `keys`. A full refresh
    // ignores the old table, so the sink overwrites it.
    def silver(path: String, keys: Seq[String], input: DataFrame, c: String)(
        model: DataFrame => DataFrame): Unit = {
      val target = if (fullRefresh) None else Materializer.readTarget(spark, path)
      val rows = target.flatMap(Materializer.watermark(_, c))
        .fold(input)(w => input.filter(col(c) > lit(w)))
      schemas(path) = Materializer.upsertInto(target, model(rows), path, keys)
    }

    // Silver, as a DAG on `threads` workers: cleaned ∥ alerts first,
    // health once cleaned lands — the two independent chains overlap
    // exactly as dbt's scheduler would run them.
    runDag(Seq(
      // Silver 1: cleaned readings — incremental on reading_id, watermark
      // on ingested_at (int_sensor_readings_cleaned.sql:24-27).
      DagNode("int_sensor_readings_cleaned", Nil) { () =>
        silver(cleanedPath, Seq("reading_id"), stgR, "ingested_at")(
          Intermediate.intSensorReadingsCleaned(_, stgD, cfg))
      },
      // Silver 3: enriched alerts — incremental on alert_id, watermark on
      // alert_ts (int_alerts_enriched.sql:18-20). Independent of cleaned.
      DagNode("int_alerts_enriched", Nil) { () =>
        silver(alertsPath, Seq("alert_id"), stgA, "alert_ts")(
          Intermediate.intAlertsEnriched(_, stgD, cfg))
      },
      // Silver 2: device health — incremental on the surrogate key,
      // watermark on _dbt_processed_at (int_device_health.sql:20-22);
      // reads the cleaned table it depends on.
      DagNode("int_device_health", Seq("int_sensor_readings_cleaned")) { () =>
        silver(healthPath, Seq("device_health_key"), written(cleanedPath), "_dbt_processed_at")(
          Intermediate.intDeviceHealth(_, cfg))
      }), threads)

    val cleaned = written(cleanedPath)
    val health = written(healthPath)
    val alertsE = written(alertsPath)

    // Gate: gold is conditional on bronze+silver tests passing
    // (databricks_control_flow.py:88-110, CONCEPTS.md:104-121).
    val m0 = Medallion(stgR, stgD, stgA, cleaned, health, alertsE,
      Marts.fctHourlyMetrics(health, cfg),
      Marts.fctDeviceSummary(cleaned, alertsE, cfg),
      Marts.fctAnomalyEvents(cleaned, cfg),
      Marts.dimDevices(stgD, cleaned, cfg))
    val silverChecks = Checks.evaluate(silverGate(m0))

    if (silverChecks.exists(!_.passed)) return Result(silverChecks, goldBuilt = false, Nil)

    // Gold: full-table sinks (S7) — all four are leaves of the DAG, so
    // they build concurrently on the same pool width.
    def gold(name: String) = s"$warehouseDir/gold/$name"
    runDag(Seq(
      "fct_hourly_metrics" -> m0.fctHourlyMetrics,
      "fct_device_summary" -> m0.fctDeviceSummary,
      "fct_anomaly_events" -> m0.fctAnomalyEvents,
      "dim_devices" -> m0.dimDevices).map { case (name, df) =>
        DagNode(name, Nil) { () => schemas(gold(name)) = Materializer.overwriteTable(df, gold(name)) }
      }, threads)

    // Gold tests query the materialized relations, as dbt's `test` step
    // does, instead of rebuilding every mart from silver.
    val goldChecks = Checks.evaluate(goldGate(m0.copy(
      fctHourlyMetrics = written(gold("fct_hourly_metrics")),
      fctDeviceSummary = written(gold("fct_device_summary")),
      fctAnomalyEvents = written(gold("fct_anomaly_events")),
      dimDevices = written(gold("dim_devices")))))
    Result(silverChecks, goldBuilt = true, goldChecks)
  }

  /** The silver gate: the checks on the bronze and silver models. */
  def silverGate(m: Medallion): Seq[Check] =
    Checks.suite(m).filter(ch => ch.model.startsWith("stg_") || ch.model.startsWith("int_"))

  /** The gold gate: the checks on the marts. */
  def goldGate(m: Medallion): Seq[Check] =
    Checks.suite(m).filter(ch => ch.model.startsWith("fct_") || ch.model.startsWith("dim_"))

  /** IF/ELSE condition task (databricks_control_flow.py:150-215): anomaly
    * count above the threshold triggers a full refresh, else incremental.
    */
  def runWithConditionalRefresh(
      spark: SparkSession,
      warehouseDir: String,
      seedDir: String,
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
