package graft.quality

import graft.models.Medallion
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** dbt-test equivalents (SURVEY §2.10): each check compiles to a
  * violations DataFrame that must be empty, exactly like a dbt test
  * compiles to a SELECT that must return 0 rows. A gate of checks is
  * counted in one Spark action (`evaluate`), not one action per check.
  */
object Checks {

  /** `not_null` — rows where the column is null. */
  def notNull(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNull)

  /** `unique` — dbt semantics: nulls are ignored; group keys seen >1×. */
  def unique(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(col(c)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** `accepted_values` — non-null values outside the list (null passes). */
  def acceptedValues(df: DataFrame, c: String, values: Seq[String]): DataFrame =
    df.filter(col(c).isNotNull && !col(c).isin(values: _*))

  /** `relationships` — non-null child keys missing from the parent
    * (left-anti join, SURVEY J6).
    */
  def relationships(child: DataFrame, childCol: String, parent: DataFrame,
      parentCol: String): DataFrame =
    child.filter(col(childCol).isNotNull)
      .join(parent.select(col(parentCol).as("__parent_key")).distinct(),
        col(childCol) === col("__parent_key"), "left_anti")

  /** Generic `value_in_range` (macros/test_value_in_range.sql:10-23):
    * out-of-range values grouped with occurrence counts.
    */
  def valueInRange(df: DataFrame, c: String, minValue: Double, maxValue: Double): DataFrame =
    df.filter(col(c).isNotNull && (col(c) < minValue || col(c) > maxValue))
      .groupBy(col(c).as("invalid_value"))
      .agg(count(lit(1)).as("occurrences"))

  /** Singular test tests/assert_no_orphan_alerts.sql:7-13. */
  def orphanAlerts(stgAlerts: DataFrame, stgDevices: DataFrame): DataFrame =
    stgAlerts
      .join(stgDevices.select(col("device_id").as("__d_id")),
        col("device_id") === col("__d_id"), "left_anti")
      .select("alert_id", "device_id")

  /** Source freshness (models/staging/sources.yml:7-10,44-47):
    * warn > 24h, error > 48h since max(loadedAtField), measured against
    * an injectable `now` for determinism.
    */
  sealed trait Freshness
  case object Fresh extends Freshness
  case object Warn extends Freshness
  case object Error extends Freshness

  def freshness(df: DataFrame, loadedAtField: String, now: java.sql.Timestamp,
      warnAfterHours: Long = 24, errorAfterHours: Long = 48): Freshness = {
    val maxTs = df.agg(max(col(loadedAtField))).head().getTimestamp(0)
    if (maxTs == null) Error
    else {
      val ageHours = (now.getTime - maxTs.getTime) / 3600000.0
      if (ageHours > errorAfterHours) Error
      else if (ageHours > warnAfterHours) Warn
      else Fresh
    }
  }

  /** Freshness as a one-row DataFrame (the oracle-checkable form of
    * `freshness` above): max(loadedAtField), integer age in hours against
    * the injected `now`, and the warn/error classification — the exact
    * `dbt source freshness` output shape. Age comparisons are in whole
    * seconds (`unix_timestamp` ≡ DuckDB `FLOOR(epoch(..))`) so the
    * classification is engine-exact.
    */
  def freshnessSummary(df: DataFrame, loadedAtField: String, sourceName: String,
      now: java.sql.Timestamp, warnAfterHours: Long = 24,
      errorAfterHours: Long = 48): DataFrame = {
    val ageSeconds = lit(now).cast("long") - unix_timestamp(col("max_loaded_at"))
    df.agg(max(col(loadedAtField)).as("max_loaded_at"))
      .select(
        lit(sourceName).as("source_name"),
        col("max_loaded_at"),
        floor(ageSeconds / 3600.0).cast("long").as("age_hours"),
        when(col("max_loaded_at").isNull || ageSeconds > errorAfterHours * 3600, "error")
          .when(ageSeconds > warnAfterHours * 3600, "warn")
          .otherwise("fresh").as("status"))
  }

  // ── The reference's full 54-test suite ──────────────────────────────────

  case class Check(model: String, test: String, violations: () => DataFrame)

  /** All 54 checks: 53 declarative column tests from the three schema.yml
    * files + the singular orphan test (SURVEY §5 counts).
    */
  def suite(m: Medallion): Seq[Check] = {
    def c(model: String, test: String)(df: => DataFrame) = Check(model, test, () => df)
    val sr = m.stgSensorReadings; val sd = m.stgDevices; val sa = m.stgAlerts
    val cl = m.intSensorReadingsCleaned; val dh = m.intDeviceHealth
    val ae = m.intAlertsEnriched; val hm = m.fctHourlyMetrics
    val ds = m.fctDeviceSummary; val an = m.fctAnomalyEvents; val dd = m.dimDevices

    Seq(
      // staging/schema.yml — 19
      c("stg_sensor_readings", "not_null reading_id")(notNull(sr, "reading_id")),
      c("stg_sensor_readings", "unique reading_id")(unique(sr, "reading_id")),
      c("stg_sensor_readings", "not_null device_id")(notNull(sr, "device_id")),
      c("stg_sensor_readings", "not_null metric_name")(notNull(sr, "metric_name")),
      c("stg_sensor_readings", "accepted_values metric_name")(
        acceptedValues(sr, "metric_name", Seq("temperature", "vibration", "humidity", "pressure"))),
      c("stg_sensor_readings", "not_null reading_ts")(notNull(sr, "reading_ts")),
      c("stg_devices", "not_null device_id")(notNull(sd, "device_id")),
      c("stg_devices", "unique device_id")(unique(sd, "device_id")),
      c("stg_devices", "not_null device_name")(notNull(sd, "device_name")),
      c("stg_devices", "not_null device_type")(notNull(sd, "device_type")),
      c("stg_devices", "not_null plant_location")(notNull(sd, "plant_location")),
      c("stg_devices", "not_null is_active")(notNull(sd, "is_active")),
      c("stg_alerts", "not_null alert_id")(notNull(sa, "alert_id")),
      c("stg_alerts", "unique alert_id")(unique(sa, "alert_id")),
      c("stg_alerts", "not_null device_id")(notNull(sa, "device_id")),
      c("stg_alerts", "not_null alert_type")(notNull(sa, "alert_type")),
      c("stg_alerts", "accepted_values alert_type")(
        acceptedValues(sa, "alert_type", Seq("threshold_breach", "data_quality", "equipment_fault", "maintenance_due"))),
      c("stg_alerts", "not_null severity")(notNull(sa, "severity")),
      c("stg_alerts", "accepted_values severity")(
        acceptedValues(sa, "severity", Seq("info", "warning", "critical"))),
      // intermediate/schema.yml — 15
      c("int_sensor_readings_cleaned", "not_null reading_id")(notNull(cl, "reading_id")),
      c("int_sensor_readings_cleaned", "unique reading_id")(unique(cl, "reading_id")),
      c("int_sensor_readings_cleaned", "not_null device_id")(notNull(cl, "device_id")),
      c("int_sensor_readings_cleaned", "relationships device_id -> stg_devices")(
        relationships(cl, "device_id", sd, "device_id")),
      c("int_sensor_readings_cleaned", "not_null is_anomaly")(notNull(cl, "is_anomaly")),
      c("int_sensor_readings_cleaned", "not_null is_missing_value")(notNull(cl, "is_missing_value")),
      c("int_device_health", "not_null device_health_key")(notNull(dh, "device_health_key")),
      c("int_device_health", "unique device_health_key")(unique(dh, "device_health_key")),
      c("int_device_health", "not_null reading_count")(notNull(dh, "reading_count")),
      c("int_alerts_enriched", "not_null alert_id")(notNull(ae, "alert_id")),
      c("int_alerts_enriched", "unique alert_id")(unique(ae, "alert_id")),
      c("int_alerts_enriched", "not_null device_id")(notNull(ae, "device_id")),
      c("int_alerts_enriched", "relationships device_id -> stg_devices")(
        relationships(ae, "device_id", sd, "device_id")),
      c("int_alerts_enriched", "accepted_values severity")(
        acceptedValues(ae, "severity", Seq("info", "warning", "critical"))),
      c("int_alerts_enriched", "not_null severity_score")(notNull(ae, "severity_score")),
      // marts/schema.yml — 19
      c("fct_hourly_metrics", "not_null device_health_key")(notNull(hm, "device_health_key")),
      c("fct_hourly_metrics", "unique device_health_key")(unique(hm, "device_health_key")),
      c("fct_hourly_metrics", "not_null device_id")(notNull(hm, "device_id")),
      c("fct_hourly_metrics", "not_null metric_name")(notNull(hm, "metric_name")),
      c("fct_hourly_metrics", "accepted_values health_status")(
        acceptedValues(hm, "health_status", Seq("healthy", "warning", "degraded", "critical"))),
      c("fct_device_summary", "not_null device_summary_key")(notNull(ds, "device_summary_key")),
      c("fct_device_summary", "unique device_summary_key")(unique(ds, "device_summary_key")),
      c("fct_device_summary", "not_null health_score")(notNull(ds, "health_score")),
      c("fct_device_summary", "accepted_values health_category")(
        acceptedValues(ds, "health_category", Seq("healthy", "at_risk", "degraded", "critical"))),
      c("fct_anomaly_events", "not_null anomaly_event_key")(notNull(an, "anomaly_event_key")),
      c("fct_anomaly_events", "unique anomaly_event_key")(unique(an, "anomaly_event_key")),
      c("fct_anomaly_events", "not_null device_id")(notNull(an, "device_id")),
      c("fct_anomaly_events", "not_null actual_value")(notNull(an, "actual_value")),
      c("fct_anomaly_events", "accepted_values breach_direction")(
        acceptedValues(an, "breach_direction", Seq("above_upper", "below_lower"))),
      c("dim_devices", "not_null device_key")(notNull(dd, "device_key")),
      c("dim_devices", "unique device_key")(unique(dd, "device_key")),
      c("dim_devices", "not_null device_id")(notNull(dd, "device_id")),
      c("dim_devices", "unique device_id")(unique(dd, "device_id")),
      c("dim_devices", "not_null is_active")(notNull(dd, "is_active")),
      // singular test — 1
      c("stg_alerts", "assert_no_orphan_alerts")(orphanAlerts(sa, sd)))
  }

  case class CheckResult(model: String, test: String, violations: Long) {
    def passed: Boolean = violations == 0
  }

  /** Violation counts of a whole gate in one Spark action: each check's
    * violations frame is tagged with its index, the tagged frames are
    * unioned, and one `groupBy(__check).count()` is collected. An index
    * with no row has 0 violations. The counts equal each frame's own
    * `count()`; only the per-check planning and job overhead goes.
    */
  def evaluate(checks: Seq[Check]): Seq[CheckResult] =
    if (checks.isEmpty) Nil
    else {
      val counts = checks.zipWithIndex
        .map { case (ch, i) => ch.violations().select(lit(i).as("__check")) }
        .reduce(_ union _)
        .groupBy("__check").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      checks.zipWithIndex.map { case (ch, i) =>
        CheckResult(ch.model, ch.test, counts.getOrElse(i, 0L))
      }
    }

  /** Evaluate every check (the `dbt test` step, SURVEY §3.3). */
  def runAll(m: Medallion): Seq[CheckResult] = evaluate(suite(m))
}
