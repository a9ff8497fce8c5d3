package graft

import graft.models.{Eda, Medallion}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Golden-value tests over the reference seed fixtures
  * (FIXTURES.md §6; reference README.md:150-160 known-dirty rows).
  * Each case is canceled where the reference seeds are absent.
  */
class ModelsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val m = Medallion.fromSeeds(spark, ReferenceSeeds.dir)

  override def withFixture(test: NoArgTest): Outcome = {
    ReferenceSeeds.assumePresent()
    super.withFixture(test)
  }

  test("staging row counts match seeds (209 readings / 10 devices / 24 alerts)") {
    assert(m.stgSensorReadings.count() === 209)
    assert(m.stgDevices.count() === 10)
    assert(m.stgAlerts.count() === 24)
  }

  test("dedup keeps all 209 readings — content-dup R189 with fresh id survives") {
    val cleaned = m.intSensorReadingsCleaned.cache()
    assert(cleaned.count() === 209)
    assert(cleaned.filter(col("reading_id") === "R189").count() === 1)
  }

  test("re-ingested duplicate reading_id is deduped to the latest ingest") {
    // Same reading_id delivered again with a later ingested_at and changed
    // value — the window dedup must keep only the later row (idempotence
    // under re-ingestion, SURVEY §2.6).
    val raw = Catalog.rawSensorReadings(spark, ReferenceSeeds.dir)
    val dup = raw.filter(col("reading_id") === "R001")
      .withColumn("ingested_at", col("ingested_at") + expr("INTERVAL 1 HOUR"))
      .withColumn("metric_value", lit(999.0f))
    val m2 = Medallion.build(raw.unionByName(dup), Catalog.rawDevices(spark, ReferenceSeeds.dir),
      Catalog.rawAlerts(spark, ReferenceSeeds.dir))
    val r001 = m2.intSensorReadingsCleaned.filter(col("reading_id") === "R001").collect()
    assert(r001.length === 1)
    assert(r001.head.getAs[Double]("metric_value") === 999.0)
    assert(m2.intSensorReadingsCleaned.count() === 209)
  }

  test("missing values: exactly R169 and R183, flagged but NOT anomalous") {
    val missing = m.intSensorReadingsCleaned.filter(col("is_missing_value"))
      .select("reading_id", "is_anomaly").collect()
    assert(missing.map(_.getString(0)).sorted.toSeq === Seq("R169", "R183"))
    assert(missing.forall(!_.getBoolean(1)))
  }

  test("EDA #2: DEV004 hottest reading 98.2 first, breach above_upper") {
    val top = Eda.temperatureAnomalies(m).head()
    assert(top.getAs[String]("device_name") === "Furnace-A4")
    // seed column is FLOAT (seeds/schema.yml:11); staging casts to double,
    // so the value is the float-widened 98.2f, not the double literal
    assert(top.getAs[Double]("actual_value") === 98.2f.toDouble)
    assert(top.getAs[Double]("upper_threshold") === 85.0)
    assert(top.getAs[String]("breach_direction") === "above_upper")
  }

  test("anomaly events are only temperature/vibration breaches from the hot cluster") {
    val ev = m.fctAnomalyEvents.cache()
    // every anomaly must actually breach its threshold
    val bad = ev.filter(
      (col("breach_direction") === "above_upper" && col("actual_value") <= col("upper_threshold")) ||
        (col("breach_direction") === "below_lower" && col("actual_value") >= col("lower_threshold")))
    assert(bad.count() === 0)
    // DEV004 dominates (reference key findings, iot_eda_analysis.sql:168-172)
    val byDevice = ev.groupBy("device_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDevice.getOrElse("DEV004", 0L) > 0)
    // vibration anomalies have null lower_threshold (no lower var)
    assert(ev.filter(col("metric_name") === "vibration" && col("lower_threshold").isNotNull)
      .count() === 0)
  }

  test("dim_devices: 10 rows, lifetime_readings sums to 209, key is md5") {
    val dim = m.dimDevices.cache()
    assert(dim.count() === 10)
    val total = dim.agg(sum("lifetime_readings")).head().getLong(0)
    assert(total === 209)
    val key = dim.filter(col("device_id") === "DEV001").head().getAs[String]("device_key")
    // dbt_utils.generate_surrogate_key(['device_id']) == md5('DEV001')
    assert(key === java.security.MessageDigest.getInstance("MD5")
      .digest("DEV001".getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("int_device_health: hourly grain spans hours 08/09/10, stddev of 1-row group is null") {
    val health = m.intDeviceHealth.cache()
    val hours = health.select(hour(col("reading_hour"))).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(hours === Seq(8, 9, 10))
    // hour 10 has exactly one reading per device/metric (10:00:00 only)
    val hour10 = health.filter(hour(col("reading_hour")) === 10)
    assert(hour10.filter(col("stddev_value").isNotNull).count() === 0)
    assert(hour10.filter(col("reading_count") =!= 1).count() === 0)
  }

  test("fct_device_summary: one row per device-day, health formula and alert join") {
    val s = m.fctDeviceSummary.cache()
    assert(s.count() === 10) // 10 devices × 1 day
    assert(s.select("reading_date").distinct().count() === 1)
    val r = s.collect()
    r.foreach { row =>
      val crit = row.getAs[Long]("critical_alerts")
      val warn = row.getAs[Long]("warning_alerts")
      val anomalyRate = row.getAs[Double]("anomaly_rate_pct")
      val completeness = row.getAs[Double]("data_completeness_pct")
      val expected = math.round(math.max(0.0,
        100.0 - crit * 20 - warn * 5 - anomalyRate * 0.5 - (100 - completeness) * 0.3)).toDouble
      assert(row.getAs[Double]("health_score") === expected,
        s"health_score mismatch for ${row.getAs[String]("device_id")}")
    }
  }

  test("int_alerts_enriched: ALT024 null-timestamp row flows through with nulls") {
    val a = m.intAlertsEnriched.filter(col("alert_id") === "ALT024").head()
    assert(a.getAs[java.sql.Timestamp]("alert_ts") === null)
    assert(!a.getAs[Boolean]("is_resolved"))
    assert(a.getAs[Double]("minutes_to_resolve") === null)
    // maintenance_due severity is info => score 1
    assert(a.getAs[String]("alert_type") === "maintenance_due")
  }

  test("EDA #6: exactly the two devices with missing readings, 54 total temperature rows intact") {
    val rows = Eda.missingReadings(m).collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[Long]("missing_count") === 1L))
  }

  test("EDA #7: vibration stddev sort puts nulls last") {
    val rows = Eda.vibrationVariance(m).collect()
    val stds = rows.map(r => Option(r.getAs[java.lang.Double]("vibration_stddev")))
    val firstNull = stds.indexWhere(_.isEmpty)
    if (firstNull >= 0) assert(stds.drop(firstNull).forall(_.isEmpty), "nulls must be trailing")
  }
}
