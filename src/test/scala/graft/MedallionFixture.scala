package graft

import graft.models.Medallion
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A small medallion source, held as seed-CSV rows in the `Catalog` seed
  * schemas, that exists on every host: specs load it in memory or write
  * it as a seed directory for `Pipeline.run`.
  */
case class MedallionFixture(readings: Seq[String], devices: Seq[String], alerts: Seq[String]) {

  /** The lazy medallion DAG over the in-memory seed frames. */
  def medallion(spark: SparkSession, cfg: RunConfig = RunConfig.frozen): Medallion =
    Medallion.build(
      MedallionFixture.frame(spark, readings, Catalog.sensorReadingsSchema),
      MedallionFixture.frame(spark, devices, Catalog.devicesSchema),
      MedallionFixture.frame(spark, alerts, Catalog.alertsSchema),
      cfg)

  /** Writes the three seed CSVs under `dir`, as `Catalog.raw*` reads them. */
  def writeSeeds(dir: String): String = {
    def csv(name: String, schema: StructType, rows: Seq[String]): Unit =
      Files.write(Paths.get(dir, name),
        (schema.fieldNames.mkString(",") +: rows).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
    Files.createDirectories(Paths.get(dir))
    csv("raw_sensor_readings.csv", Catalog.sensorReadingsSchema, readings)
    csv("raw_devices.csv", Catalog.devicesSchema, devices)
    csv("raw_alerts.csv", Catalog.alertsSchema, alerts)
    dir
  }

  /** The same source with every kind of check violated: a null
    * device_name (not_null), reading ids R0001 ×3 and R0002 ×2 (unique: 2
    * duplicated keys), a `fatal` severity (accepted_values), and a reading
    * and an alert on unknown device DEV999 (relationships and the orphan
    * singular test).
    */
  def poisoned: MedallionFixture = copy(
    readings = readings ++ Seq(
      "R0001,DEV001,temperature,60.5,2025-01-15 08:00:00,2025-01-15 10:01:00",
      "R0001,DEV001,temperature,60.5,2025-01-15 08:00:00,2025-01-15 10:02:00",
      "R0002,DEV001,temperature,60.5,2025-01-15 08:30:00,2025-01-15 10:03:00",
      "R9999,DEV999,temperature,61.0,2025-01-15 09:00:00,2025-01-15 10:04:00"),
    devices = devices :+ "DEV004,,pump,Plant-Austin,Zone-C,2022-04-04,ABB,v1.4,true",
    alerts = alerts ++ Seq(
      "ALT004,DEV001,threshold_breach,fatal,temperature,85.0,91.0,2025-01-15 09:40:00,,",
      "ALT005,DEV999,data_quality,warning,humidity,,,2025-01-15 09:45:00,,"))

  /** The clean source plus two readings without a reading_id, a second
    * R0001 and a reading of an unknown metric. On stg_sensor_readings that
    * is not_null reading_id 2, unique reading_id 1 (the null keys are not a
    * duplicated key) and accepted_values metric_name 1.
    */
  def nullAndDuplicateKeys: MedallionFixture = copy(readings = readings ++ Seq(
    ",DEV001,temperature,61.5,2025-01-15 08:00:00,2025-01-15 10:05:00",
    ",DEV002,humidity,52.0,2025-01-15 08:30:00,2025-01-15 10:06:00",
    "R0001,DEV001,temperature,60.5,2025-01-15 08:00:00,2025-01-15 10:01:00",
    "R9001,DEV003,rpm,1500.0,2025-01-15 09:00:00,2025-01-15 10:07:00"))

  /** The clean source plus one alert of an unknown severity. */
  def unknownSeverity: MedallionFixture = copy(alerts = alerts :+
    "ALT006,DEV002,equipment_fault,fatal,vibration,,,2025-01-15 09:50:00,,")
}

object MedallionFixture {

  private val Metrics = Seq("temperature", "vibration", "humidity", "pressure")
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Three devices × four metrics every 30 minutes over two hours; DEV002
    * runs hot (temperature anomalies), DEV003 drops one vibration value,
    * and the maintenance alert has a null `alert_ts`. Every check passes.
    * Facts specs rely on:
    *  - 3 plants (Plant-Austin, Plant-Chicago, Plant-Detroit), one device
    *    each, all readings on 2025-01-15: 3 device-day rows;
    *  - 12 pressure readings (3 devices × 4, 1000.0–1003.0), and no other
    *    value is ≥ 100 (temperature ≤ 93.5, humidity ≤ 53.0, vibration < 5);
    *  - DEV002 temperatures (90.5–93.5) exceed the 85.0 upper threshold;
    *  - the latest `ingested_at` is 2025-01-15 09:35;
    *  - reading ids run R0001–R0048; ALT003 has a null `metric_name`.
    */
  val clean: MedallionFixture = {
    val readings = for {
      (d, di) <- Seq("DEV001", "DEV002", "DEV003").zipWithIndex
      (m, mi) <- Metrics.zipWithIndex
      (minute, q) <- Seq(0, 30, 60, 90).zipWithIndex
    } yield {
      val ts = LocalDateTime.of(2025, 1, 15, 8, 0).plusMinutes(minute.toLong)
      val value = (m, d, q) match {
        case ("vibration", "DEV003", 3) => ""
        case ("temperature", "DEV002", _) => s"${90 + q}.5"
        case ("temperature", _, _) => s"${60 + q}.5"
        case ("vibration", _, _) => s"4.${q}"
        case ("humidity", _, _) => s"5${q}.0"
        case _ => s"100${q}.0"
      }
      val id = f"R${di * 16 + mi * 4 + q + 1}%04d"
      s"$id,$d,$m,$value,${Fmt.format(ts)},${Fmt.format(ts.plusMinutes(5))}"
    }
    MedallionFixture(readings,
      Seq(
        "DEV001,Compressor-A1,compressor,Plant-Detroit,Zone-A,2021-01-01,Siemens,v1.0,true",
        "DEV002,Motor-B2,motor,Plant-Chicago,Zone-B,2022-02-02,Bosch,v2.1,true",
        "DEV003,Pump-C3,pump,Plant-Austin,Zone-C,2023-03-03,Fanuc,v1.2,true"),
      Seq(
        "ALT001,DEV002,threshold_breach,critical,temperature,85.0,90.5,2025-01-15 08:10:00," +
          "2025-01-15 08:25:00,resolved by on-call",
        "ALT002,DEV001,data_quality,warning,vibration,,,2025-01-15 09:05:00,,",
        "ALT003,DEV003,maintenance_due,info,,,,,,"))
  }

  /** Parses seed-CSV rows into a frame of `schema` with the options
    * `Catalog.seed` reads seed files with, without running a job.
    */
  def frame(spark: SparkSession, rows: Seq[String], schema: StructType): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("dateFormat", "yyyy-MM-dd")
      .csv(rows.toDS())
  }
}
