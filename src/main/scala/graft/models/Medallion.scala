package graft.models

import graft.{Catalog, RunConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The full medallion DAG (SURVEY §1.1): plain Scala call graph — each
  * model is a function of its upstream DataFrames, topological order is
  * the call order (the reference's ref()-derived DAG, CONCEPTS.md:12-57).
  */
case class Medallion(
    stgSensorReadings: DataFrame,
    stgDevices: DataFrame,
    stgAlerts: DataFrame,
    intSensorReadingsCleaned: DataFrame,
    intDeviceHealth: DataFrame,
    intAlertsEnriched: DataFrame,
    fctHourlyMetrics: DataFrame,
    fctDeviceSummary: DataFrame,
    fctAnomalyEvents: DataFrame,
    dimDevices: DataFrame) {

  /** All models keyed by reference name, in dependency order. */
  def byName: Seq[(String, DataFrame)] = Seq(
    "stg_sensor_readings" -> stgSensorReadings,
    "stg_devices" -> stgDevices,
    "stg_alerts" -> stgAlerts,
    "int_sensor_readings_cleaned" -> intSensorReadingsCleaned,
    "int_device_health" -> intDeviceHealth,
    "int_alerts_enriched" -> intAlertsEnriched,
    "fct_hourly_metrics" -> fctHourlyMetrics,
    "fct_device_summary" -> fctDeviceSummary,
    "fct_anomaly_events" -> fctAnomalyEvents,
    "dim_devices" -> dimDevices)
}

object Medallion {

  /** Build the whole DAG lazily from the raw seed tables. */
  def build(
      rawReadings: DataFrame,
      rawDevices: DataFrame,
      rawAlerts: DataFrame,
      cfg: RunConfig = RunConfig.frozen): Medallion = {
    val stgR = Staging.stgSensorReadings(rawReadings, cfg)
    val stgD = Staging.stgDevices(rawDevices, cfg)
    val stgA = Staging.stgAlerts(rawAlerts, cfg)
    val cleaned = Intermediate.intSensorReadingsCleaned(stgR, stgD, cfg)
    val health = Intermediate.intDeviceHealth(cleaned, cfg)
    val alertsE = Intermediate.intAlertsEnriched(stgA, stgD, cfg)
    Medallion(
      stgR, stgD, stgA, cleaned, health, alertsE,
      Marts.fctHourlyMetrics(health, cfg),
      Marts.fctDeviceSummary(cleaned, alertsE, cfg),
      Marts.fctAnomalyEvents(cleaned, cfg),
      Marts.dimDevices(stgD, cleaned, cfg))
  }

  /** Build from the seed CSVs under `seedDir` (`Catalog.raw*`). */
  def fromSeeds(
      spark: SparkSession,
      seedDir: String,
      cfg: RunConfig = RunConfig.frozen): Medallion =
    build(
      Catalog.rawSensorReadings(spark, seedDir),
      Catalog.rawDevices(spark, seedDir),
      Catalog.rawAlerts(spark, seedDir),
      cfg)
}
