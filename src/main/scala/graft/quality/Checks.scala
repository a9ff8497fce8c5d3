package graft.quality

import graft.models.Medallion
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** dbt-test equivalents (SURVEY §2.10): each check compiles to a
  * violations DataFrame that must be empty, exactly like a dbt test
  * compiles to a SELECT that must return 0 rows. A gate of checks is
  * counted in one Spark action (`evaluate`) that reads each model once.
  */
object Checks {

  /** The `not_null` violation predicate: the column is null. */
  private def isNull(c: String): Column = col(c).isNull

  /** The `accepted_values` violation predicate: a non-null value outside
    * the list (null passes).
    */
  private def notAccepted(c: String, values: Seq[String]): Column =
    col(c).isNotNull && !col(c).isin(values: _*)

  /** `not_null` — rows where the column is null. */
  def notNull(df: DataFrame, c: String): DataFrame = df.filter(isNull(c))

  /** `unique` — dbt semantics: nulls are ignored; group keys seen >1×. */
  def unique(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(col(c)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** `accepted_values` — non-null values outside the list (null passes). */
  def acceptedValues(df: DataFrame, c: String, values: Seq[String]): DataFrame =
    df.filter(notAccepted(c, values))

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

  /** What a check counts, declared once: `Check.violations` and the fused
    * gate are both derived from it.
    */
  sealed trait Shape

  /** Rows of `model` where `violates` holds (`not_null`, `accepted_values`). */
  final case class RowPredicate(model: DataFrame, violates: Column) extends Shape

  /** Non-null values of `key` seen more than once in `model` (`unique`). */
  final case class UniqueKey(model: DataFrame, key: String) extends Shape

  /** Any other violations frame (`relationships`, singular tests). */
  final case class Opaque(frame: () => DataFrame) extends Shape

  case class Check(model: String, test: String, shape: Shape) {
    def violations(): DataFrame = shape match {
      case RowPredicate(df, p) => df.filter(p)
      case UniqueKey(df, k) => unique(df, k)
      case Opaque(frame) => frame()
    }
  }

  /** All 54 checks: 53 declarative column tests from the three schema.yml
    * files + the singular orphan test (SURVEY §5 counts).
    */
  def suite(m: Medallion): Seq[Check] = {
    class On(model: String, df: DataFrame) {
      def notNull(c: String) = Check(model, s"not_null $c", RowPredicate(df, isNull(c)))
      def unique(c: String) = Check(model, s"unique $c", UniqueKey(df, c))
      def accepted(c: String, values: String*) =
        Check(model, s"accepted_values $c", RowPredicate(df, notAccepted(c, values)))
      def deviceRelationship = Check(model, "relationships device_id -> stg_devices",
        Opaque(() => relationships(df, "device_id", m.stgDevices, "device_id")))
    }
    val sr = new On("stg_sensor_readings", m.stgSensorReadings)
    val sd = new On("stg_devices", m.stgDevices)
    val sa = new On("stg_alerts", m.stgAlerts)
    val cl = new On("int_sensor_readings_cleaned", m.intSensorReadingsCleaned)
    val dh = new On("int_device_health", m.intDeviceHealth)
    val ae = new On("int_alerts_enriched", m.intAlertsEnriched)
    val hm = new On("fct_hourly_metrics", m.fctHourlyMetrics)
    val ds = new On("fct_device_summary", m.fctDeviceSummary)
    val an = new On("fct_anomaly_events", m.fctAnomalyEvents)
    val dd = new On("dim_devices", m.dimDevices)
    val severities = Seq("info", "warning", "critical")

    Seq(
      // staging/schema.yml — 19
      sr.notNull("reading_id"), sr.unique("reading_id"), sr.notNull("device_id"),
      sr.notNull("metric_name"),
      sr.accepted("metric_name", "temperature", "vibration", "humidity", "pressure"),
      sr.notNull("reading_ts"),
      sd.notNull("device_id"), sd.unique("device_id"), sd.notNull("device_name"),
      sd.notNull("device_type"), sd.notNull("plant_location"), sd.notNull("is_active"),
      sa.notNull("alert_id"), sa.unique("alert_id"), sa.notNull("device_id"),
      sa.notNull("alert_type"),
      sa.accepted("alert_type", "threshold_breach", "data_quality", "equipment_fault",
        "maintenance_due"),
      sa.notNull("severity"), sa.accepted("severity", severities: _*),
      // intermediate/schema.yml — 15
      cl.notNull("reading_id"), cl.unique("reading_id"), cl.notNull("device_id"),
      cl.deviceRelationship, cl.notNull("is_anomaly"), cl.notNull("is_missing_value"),
      dh.notNull("device_health_key"), dh.unique("device_health_key"),
      dh.notNull("reading_count"),
      ae.notNull("alert_id"), ae.unique("alert_id"), ae.notNull("device_id"),
      ae.deviceRelationship, ae.accepted("severity", severities: _*),
      ae.notNull("severity_score"),
      // marts/schema.yml — 19
      hm.notNull("device_health_key"), hm.unique("device_health_key"),
      hm.notNull("device_id"), hm.notNull("metric_name"),
      hm.accepted("health_status", "healthy", "warning", "degraded", "critical"),
      ds.notNull("device_summary_key"), ds.unique("device_summary_key"),
      ds.notNull("health_score"),
      ds.accepted("health_category", "healthy", "at_risk", "degraded", "critical"),
      an.notNull("anomaly_event_key"), an.unique("anomaly_event_key"),
      an.notNull("device_id"), an.notNull("actual_value"),
      an.accepted("breach_direction", "above_upper", "below_lower"),
      dd.notNull("device_key"), dd.unique("device_key"), dd.notNull("device_id"),
      dd.unique("device_id"), dd.notNull("is_active"),
      // singular test — 1
      Check("stg_alerts", "assert_no_orphan_alerts",
        Opaque(() => orphanAlerts(m.stgAlerts, m.stgDevices))))
  }

  case class CheckResult(model: String, test: String, violations: Long) {
    def passed: Boolean = violations == 0
  }

  /** The violation counts of a gate as one frame of (`__check` = index in
    * `checks`, `__n` = violations), without the checks that pass.
    *
    * Row predicates and unique keys are counted per model frame (by
    * reference): one `groupBy` on the model's first unique key carries
    * `count(*)` and a `count(when(p, 1))` per row predicate, so the row
    * counts ride the exchange `unique` pays anyway (a model without a unique
    * key gets a global aggregate). Each group row is unpivoted to one
    * (`__check`, `__n`) row per check, and zero counts are dropped before
    * the final exchange. A null key's group counts toward the row
    * predicates but never toward `unique`. Any other check — an opaque
    * frame or a model's second unique key — contributes one row per
    * violation. One `groupBy(__check)` sums the lot.
    */
  def gate(checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "a gate needs at least one check")
    val indexed = checks.zipWithIndex
    def modelOf(s: Shape): Option[DataFrame] = s match {
      case RowPredicate(df, _) => Some(df)
      case UniqueKey(df, _) => Some(df)
      case Opaque(_) => None
    }
    // `distinct` compares frames by reference: Dataset keeps Object.equals.
    val fused = indexed.flatMap { case (ch, _) => modelOf(ch.shape) }.distinct.map { df =>
      val own = indexed.filter { case (ch, _) => modelOf(ch.shape).exists(_ eq df) }
      val key = own.collectFirst { case (Check(_, _, UniqueKey(_, k)), i) => (k, i) }.toSeq
      val predicates = own.collect { case (Check(_, _, RowPredicate(_, p)), i) => (p, i) }
      val counted = df.groupBy(key.map(k => col(k._1)): _*).agg(
        count(lit(1)).as("__rows"),
        predicates.map { case (p, i) => count(when(p, 1)).as(s"__n$i") }: _*)
      val perCheck =
        key.map { case (k, i) => i -> when(col(k).isNotNull && col("__rows") > 1, 1L).otherwise(0L) } ++
          predicates.map { case (_, i) => i -> col(s"__n$i") }
      val rows = counted.select(inline(array(perCheck.map { case (i, n) =>
        struct(lit(i).as("__check"), n.as("__n")) }: _*))).filter(col("__n") > 0)
      (rows, perCheck.map(_._1))
    }
    val done = fused.flatMap(_._2).toSet
    val rest = indexed.filterNot { case (_, i) => done(i) }.map { case (ch, i) =>
      ch.violations().select(lit(i).as("__check"), lit(1L).as("__n"))
    }
    (fused.map(_._1) ++ rest).reduce(_ union _)
      .groupBy("__check").agg(sum("__n").as("__n"))
  }

  /** Violation counts of a whole gate in one Spark action: collects `gate`.
    * An index with no row has 0 violations; the counts equal each check's
    * own `violations().count()`.
    */
  def evaluate(checks: Seq[Check]): Seq[CheckResult] =
    if (checks.isEmpty) Nil
    else {
      val counts = gate(checks).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      checks.zipWithIndex.map { case (ch, i) =>
        CheckResult(ch.model, ch.test, counts.getOrElse(i, 0L))
      }
    }

  /** Evaluate every check (the `dbt test` step, SURVEY §3.3). */
  def runAll(m: Medallion): Seq[CheckResult] = evaluate(suite(m))
}
