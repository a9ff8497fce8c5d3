package graft.models

import graft.RunConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bronze layer — rename/standardize projections over the raw seeds
  * (SURVEY §2.2 P1, §2.4 F1-F5). Materialized as unpersisted DataFrames
  * (the reference's `materialized='view'`, dbt_project.yml:28-31).
  *
  * Semantics from the reference's models/staging/stg_sensor_readings.sql,
  * stg_devices.sql, stg_alerts.sql.
  */
object Staging {

  /** stg_sensor_readings.sql:14-29 — normalize metric_name, upcast value,
    * add lineage metadata.
    */
  def stgSensorReadings(raw: DataFrame, cfg: RunConfig): DataFrame =
    raw.select(
      col("reading_id"),
      col("device_id"),
      lower(trim(col("metric_name"))).as("metric_name"),
      col("metric_value").cast("double").as("metric_value"),
      col("reading_ts").cast("timestamp").as("reading_ts"),
      col("ingested_at").cast("timestamp").as("ingested_at"),
      cfg.nowCol.as("_dbt_loaded_at"),
      lit(cfg.invocationId).as("_dbt_invocation_id"))

  /** stg_devices.sql:14-29 — rename location/zone, derive days_since_install. */
  def stgDevices(raw: DataFrame, cfg: RunConfig): DataFrame =
    raw.select(
      col("device_id"),
      col("device_name"),
      lower(trim(col("device_type"))).as("device_type"),
      col("location").as("plant_location"),
      col("zone").as("factory_zone"),
      col("install_date").cast("date").as("install_date"),
      col("manufacturer"),
      col("firmware_version"),
      col("is_active").cast("boolean").as("is_active"),
      datediff(cfg.todayCol, col("install_date").cast("date")).as("days_since_install"),
      cfg.nowCol.as("_dbt_loaded_at"))

  /** stg_alerts.sql:14-33 — normalize enums, upcast, derive is_resolved. */
  def stgAlerts(raw: DataFrame, cfg: RunConfig): DataFrame =
    raw.select(
      col("alert_id"),
      col("device_id"),
      lower(trim(col("alert_type"))).as("alert_type"),
      lower(trim(col("severity"))).as("severity"),
      lower(trim(col("metric_name"))).as("metric_name"),
      col("threshold_value").cast("double").as("threshold_value"),
      col("actual_value").cast("double").as("actual_value"),
      col("alert_ts").cast("timestamp").as("alert_ts"),
      col("resolved_at").cast("timestamp").as("resolved_at"),
      col("resolution_notes"),
      col("resolved_at").isNotNull.as("is_resolved"),
      cfg.nowCol.as("_dbt_loaded_at"))
}
