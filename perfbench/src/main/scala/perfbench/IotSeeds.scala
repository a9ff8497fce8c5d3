package perfbench

import java.io.{File, PrintWriter}
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}
import graft.RunConfig

/** Deterministic IoT seed batches for the medallion workload.
  *
  * Batch 0 is the full-refresh load; batches 1..K each land one more slice
  * of time. `batch_k/` holds the three seed CSVs (`Catalog` schemas) as the
  * source stands after batch k lands: a growing snapshot in which each
  * `reading_id` appears once. The dirty-row mix follows FIXTURES.md:
  *  - null `metric_value` readings;
  *  - re-ingested readings: whole (device, metric, hour) groups of the
  *    previous batch re-delivered with a later `ingested_at` and a
  *    corrected value, so the incremental upsert replaces them;
  *  - content duplicates of a reading under a fresh `reading_id`;
  *  - one maintenance alert with a null `alert_ts`, metric and threshold;
  *  - out-of-threshold values, most of them on a few hot devices.
  *
  * Every batch's rows are ingested after every earlier batch's rows, and
  * alerts arrive in time order, so the `ingested_at` and `alert_ts`
  * watermarks admit exactly the new rows. Re-ingestion re-delivers complete
  * hourly groups, so the incremental hourly rollup of a group equals its
  * full-refresh rollup. Under these rules a chain of incremental runs and
  * one full refresh over the same snapshot build the same tables.
  */
object IotSeeds {

  /** `devices` report every metric every 15 minutes; each batch lands one hour. */
  case class Spec(devices: Int, batches: Int)

  val Metrics: Seq[String] = Seq("temperature", "vibration", "humidity", "pressure")
  private val Types = Seq("compressor", "motor", "pump", "furnace", "assembly_robot",
    "conveyor", "welder", "cnc_machine", "boiler", "packaging")
  private val Plants = Seq("Plant-Detroit", "Plant-Chicago", "Plant-Austin")
  private val Makers = Seq("Siemens", "ABB", "Bosch", "Fanuc", "Honeywell")
  private val Start = LocalDateTime.of(2025, 1, 15, 8, 0)
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss", Locale.ROOT)

  /** The frozen clock of batch k: one hour after the batch lands. Every
    * batch gets a later clock, so the `_dbt_processed_at` watermark of
    * `int_device_health` admits the rows each batch cleans.
    */
  def config(k: Int): RunConfig = RunConfig(
    invocationId = s"bench-batch-$k",
    frozenNow = Some(Timestamp.valueOf(landing(k).plusHours(1))),
    frozenToday = Some(Date.valueOf("2025-02-01")))

  private def landing(k: Int): LocalDateTime =
    Start.plusHours(k + 1L).plusMinutes(5)

  private case class Reading(id: String, device: Int, metric: Int, value: Option[Double],
      ts: LocalDateTime, ingested: LocalDateTime, hour: Long)

  /** Writes `dir/batch_0 .. dir/batch_K`; returns the batch directories. */
  def write(dir: File, seed: Long, spec: Spec): Seq[File] = {
    val rnd = new SplittableRandom(seed)
    val hot = (0 until spec.devices).filter(_ => rnd.nextInt(8) == 0).toSet
    var nextReading = 0
    var nextAlert = 0
    def readingId(): String = { nextReading += 1; f"R$nextReading%07d" }
    def gauss(mean: Double, sd: Double): Double = {
      // Box-Muller on the splittable stream keeps the sequence seed-pure.
      val u = 1.0 - rnd.nextDouble(); val v = rnd.nextDouble()
      mean + sd * math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    def value(device: Int, metric: Int): Option[Double] =
      if (rnd.nextInt(100) < 2) None
      else {
        val x = metric match {
          case 0 => gauss(if (hot(device)) 88 else 60, 8)
          case 1 => math.abs(gauss(if (hot(device)) 8.5 else 4, 1.5))
          case 2 => gauss(55, 14)
          case _ => gauss(1000, 20)
        }
        Some(math.round(x * 10) / 10.0)
      }

    val snapshot = scala.collection.mutable.LinkedHashMap[String, Reading]()
    val alerts = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    val dirs = (0 to spec.batches).map { k =>
      val land = landing(k)
      def ingestAt(): LocalDateTime = land.plusSeconds(rnd.nextInt(600).toLong)
      // Re-deliver about 5 % of the previous batch's hourly groups.
      if (k > 0) {
        val h = k - 1L
        val groups = for {
          d <- 0 until spec.devices; m <- Metrics.indices
          if rnd.nextInt(20) == 0
        } yield (d, m)
        groups.foreach { case (d, m) =>
          val at = ingestAt()
          snapshot.valuesIterator.filter(r => r.hour == h && r.device == d && r.metric == m)
            .toSeq.foreach { r =>
              snapshot(r.id) = r.copy(value = r.value.map(v => math.round(v * 10 + 1) / 10.0),
                ingested = at)
            }
        }
      }
      val fresh = for {
        q <- 0 until 4; d <- 0 until spec.devices; m <- Metrics.indices
      } yield Reading(readingId(), d, m, value(d, m),
        Start.plusHours(k.toLong).plusMinutes(15L * q), ingestAt(), k.toLong)
      fresh.foreach(r => snapshot(r.id) = r)
      // Content duplicates: the same reading again under a fresh id.
      fresh.filter(_ => rnd.nextInt(100) == 0).foreach { r =>
        val dup = r.copy(id = readingId(), ingested = r.ingested.plusSeconds(30))
        snapshot(dup.id) = dup
      }
      alerts ++= batchAlerts(k, spec, rnd, () => { nextAlert += 1; f"ALT$nextAlert%05d" })

      val out = new File(dir, s"batch_$k")
      out.mkdirs()
      writeCsv(new File(out, "raw_sensor_readings.csv"),
        "reading_id,device_id,metric_name,metric_value,reading_ts,ingested_at",
        snapshot.valuesIterator.map { r =>
          Seq(r.id, deviceId(r.device), Metrics(r.metric), r.value.fold("")(fmt),
            Fmt.format(r.ts), Fmt.format(r.ingested))
        })
      writeCsv(new File(out, "raw_devices.csv"),
        "device_id,device_name,device_type,location,zone,install_date,manufacturer," +
          "firmware_version,is_active",
        (0 until spec.devices).iterator.map(device))
      writeCsv(new File(out, "raw_alerts.csv"),
        "alert_id,device_id,alert_type,severity,metric_name,threshold_value," +
          "actual_value,alert_ts,resolved_at,resolution_notes",
        alerts.iterator)
      out
    }
    dirs
  }

  private def deviceId(d: Int): String = f"DEV${d + 1}%03d"

  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.1f", Double.box(v))

  private def device(d: Int): Seq[String] = {
    val t = Types(d % Types.size)
    Seq(deviceId(d), s"${t.capitalize}-${('A' + d % 26).toChar}${d % 9 + 1}", t,
      Plants(d % Plants.size), s"Zone-${('A' + d % 3).toChar}",
      f"202${1 + d % 4}-${1 + d % 12}%02d-${1 + d % 28}%02d",
      Makers(d % Makers.size), s"v${1 + d % 3}.${d % 10}", "true")
  }

  private def batchAlerts(k: Int, spec: Spec, rnd: SplittableRandom,
      nextId: () => String): Seq[Seq[String]] = {
    val n = math.max(2, spec.devices / 4)
    val offsets = Seq.fill(n)(rnd.nextInt(3600)).sorted
    val timed = offsets.map { off =>
      val ts = Start.plusHours(k.toLong).plusSeconds(off.toLong)
      val d = rnd.nextInt(spec.devices)
      val m = Metrics(rnd.nextInt(Metrics.size))
      val roll = rnd.nextInt(20)
      val (kind, sev, metric, thr, act) =
        if (roll < 12) ("threshold_breach", if (roll < 5) "critical" else "warning", m,
          "85.0", fmt(86 + rnd.nextInt(140) / 10.0))
        else if (roll < 15) ("data_quality", "warning", m, "", "")
        else if (roll < 18) ("equipment_fault", "critical", m, "", "")
        else ("maintenance_due", "info", "", "", "")
      val resolved =
        if (rnd.nextInt(5) < 3) Fmt.format(ts.plusMinutes(9L + rnd.nextInt(7))) else ""
      Seq(nextId(), deviceId(d), kind, sev, metric, thr, act, Fmt.format(ts), resolved,
        if (resolved.isEmpty) "" else "resolved by on-call")
    }
    // The null-alert_ts edge case lands with the full-refresh load only:
    // the incremental `alert_ts` watermark never admits a null timestamp.
    val undated =
      if (k == 0) Seq(Seq(nextId(), deviceId(0), "maintenance_due", "info", "", "", "", "", "", ""))
      else Nil
    timed ++ undated
  }

  private def writeCsv(f: File, header: String, rows: Iterator[Seq[String]]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.print(header); w.print('\n')
      rows.foreach { r => w.print(r.mkString(",")); w.print('\n') }
    } finally w.close()
  }
}
