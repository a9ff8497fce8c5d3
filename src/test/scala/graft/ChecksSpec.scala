package graft

import graft.models.Medallion
import graft.quality.Checks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val m = MedallionFixture.clean.medallion(spark)
  /** The reference seeds; cases over it call `ReferenceSeeds.assumePresent()` first. */
  private lazy val ref = Medallion.fromSeeds(spark, ReferenceSeeds.dir)

  test("the full 54-check suite passes on the seed fixture") {
    ReferenceSeeds.assumePresent()
    val results = Checks.runAll(ref)
    assert(results.length === 54)
    val failing = results.filterNot(_.passed)
    assert(failing.isEmpty, s"failing checks: ${failing.mkString(", ")}")
  }

  test("not_null catches injected nulls") {
    val poisoned = m.stgSensorReadings
      .withColumn("device_id", when(col("reading_id") === "R0001", lit(null)).otherwise(col("device_id")))
    assert(Checks.notNull(poisoned, "device_id").count() === 1)
  }

  test("unique catches injected duplicates, ignores nulls (dbt semantics)") {
    val dup = m.stgAlerts.unionByName(m.stgAlerts.limit(1))
    assert(Checks.unique(dup, "alert_id").count() === 1)
    val withNulls = m.stgAlerts.withColumn("metric_name", lit(null).cast("string"))
    assert(Checks.unique(withNulls, "metric_name").count() === 0)
  }

  test("accepted_values: null passes, out-of-list fails") {
    val poisoned = m.stgAlerts
      .withColumn("severity", when(col("alert_id") === "ALT001", "fatal").otherwise(col("severity")))
    assert(Checks.acceptedValues(poisoned, "severity", Seq("info", "warning", "critical")).count() === 1)
    assert(Checks.acceptedValues(m.stgAlerts, "metric_name",
      Seq("temperature", "vibration", "humidity", "pressure")).count() === 0) // ALT003 null passes
  }

  test("relationships/orphans catch a child key missing from the parent") {
    val orphan = m.stgAlerts
      .withColumn("device_id", when(col("alert_id") === "ALT001", "DEV999").otherwise(col("device_id")))
    assert(Checks.relationships(orphan, "device_id", m.stgDevices, "device_id").count() === 1)
    assert(Checks.orphanAlerts(orphan, m.stgDevices).count() === 1)
  }

  test("value_in_range groups violations with occurrence counts (unused macro, implemented)") {
    ReferenceSeeds.assumePresent()
    val v = Checks.valueInRange(ref.stgSensorReadings, "metric_value", 0.0, 100.0).collect()
    // pressure readings (~950-1050) all exceed 100
    assert(v.nonEmpty)
    assert(v.map(_.getAs[Long]("occurrences")).sum === 52)
  }

  test("value_in_range on MedallionFixture counts its 12 pressure readings, its only values above 100") {
    val v = Checks.valueInRange(m.stgSensorReadings, "metric_value", 0.0, 100.0).collect()
    // 3 devices x 4 pressure readings (1000.0-1003.0); every other metric stays under 100
    assert(v.nonEmpty)
    assert(v.map(_.getAs[Long]("occurrences")).sum === 12)
  }

  test("source freshness: warn after 24h, error after 48h") {
    val now = java.sql.Timestamp.valueOf("2025-01-15 12:00:00")
    assert(Checks.freshness(m.stgSensorReadings, "ingested_at", now) === Checks.Fresh)
    val dayLater = java.sql.Timestamp.valueOf("2025-01-16 20:00:00")
    assert(Checks.freshness(m.stgSensorReadings, "ingested_at", dayLater) === Checks.Warn)
    val threeDays = java.sql.Timestamp.valueOf("2025-01-18 12:00:00")
    assert(Checks.freshness(m.stgSensorReadings, "ingested_at", threeDays) === Checks.Error)
  }
}
