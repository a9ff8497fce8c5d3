package graft

import graft.exec.Pipeline
import graft.models.Medallion
import graft.quality.Checks
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** The silver → gold gate of `Pipeline.run` on the in-test fixture. */
class PipelineGateSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def isGold(model: String): Boolean =
    model.startsWith("fct_") || model.startsWith("dim_")

  test("a clean run builds gold with 35 + 19 passing checks, counted as on the lazy marts") {
    val root = tmpDir("graft_gate")
    val seeds = MedallionFixture.clean.writeSeeds(s"$root/seeds")
    val res = Pipeline.run(spark, s"$root/wh", seeds)
    assert(res.goldBuilt)
    assert(res.silverChecks.length === 35)
    assert(res.goldChecks.length === 19)
    assert(res.allPassed, s"failing: ${(res.silverChecks ++ res.goldChecks).filterNot(_.passed)}")
    val lazyGold = Checks.suite(Medallion.fromSeeds(spark, seeds))
      .filter(ch => isGold(ch.model))
      .map(ch => Checks.CheckResult(ch.model, ch.test, ch.violations().count()))
    assert(res.goldChecks === lazyGold)
  }

  test("each gate reads each model once: at most 12 file scans for silver, 5 for gold") {
    val root = tmpDir("graft_gate")
    val seeds = MedallionFixture.clean.writeSeeds(s"$root/seeds")
    assert(Pipeline.run(spark, s"$root/wh", seeds).goldBuilt)
    def table(name: String) = spark.read.parquet(s"$root/wh/$name")
    val silver = Medallion.fromSeeds(spark, seeds).copy(
      intSensorReadingsCleaned = table("silver/int_sensor_readings_cleaned"),
      intDeviceHealth = table("silver/int_device_health"),
      intAlertsEnriched = table("silver/int_alerts_enriched"))
    val gold = silver.copy(
      fctHourlyMetrics = table("gold/fct_hourly_metrics"),
      fctDeviceSummary = table("gold/fct_device_summary"),
      fctAnomalyEvents = table("gold/fct_anomaly_events"),
      dimDevices = table("gold/dim_devices"))
    def scans(checks: Seq[Checks.Check]): Int =
      Checks.gate(checks).queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.size
    assert(scans(Pipeline.silverGate(silver)) <= 12)
    assert(scans(Pipeline.goldGate(gold)) <= 5)
  }

  test("an unknown severity fails the silver gate: no gold is built or written") {
    val root = tmpDir("graft_gate")
    val seeds = MedallionFixture.clean.unknownSeverity.writeSeeds(s"$root/seeds")
    val res = Pipeline.run(spark, s"$root/wh", seeds)
    assert(!res.goldBuilt)
    assert(res.goldChecks.isEmpty)
    assert(res.silverChecks.filterNot(_.passed).map(_.test).toSet ===
      Set("accepted_values severity"))
    assert(!new java.io.File(s"$root/wh/gold").exists())
  }
}
