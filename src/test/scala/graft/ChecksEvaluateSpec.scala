package graft

import graft.quality.Checks
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** `Checks.evaluate` counts a whole gate in one action; these cases pin it
  * to the per-check `count()` of every violations frame.
  */
class ChecksEvaluateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def perCheck(checks: Seq[Checks.Check]): Seq[Checks.CheckResult] =
    checks.map(ch => Checks.CheckResult(ch.model, ch.test, ch.violations().count()))

  test("fused evaluation equals per-check counts on the clean fixture") {
    val suite = Checks.suite(MedallionFixture.clean.medallion(spark))
    assert(suite.length === 54)
    val fused = Checks.evaluate(suite)
    assert(fused === perCheck(suite))
    assert(fused.forall(_.passed), s"failing: ${fused.filterNot(_.passed).mkString(", ")}")
  }

  test("fused evaluation equals per-check counts when every check kind is violated") {
    val suite = Checks.suite(MedallionFixture.clean.poisoned.medallion(spark))
    val fused = Checks.evaluate(suite)
    assert(fused === perCheck(suite))
    val v = fused.map(r => (r.model, r.test) -> r.violations).toMap
    assert(v("stg_devices" -> "not_null device_name") === 1)
    assert(v("stg_sensor_readings" -> "unique reading_id") === 2, "unique counts keys, not rows")
    assert(v("stg_alerts" -> "accepted_values severity") === 1)
    assert(v("int_alerts_enriched" -> "accepted_values severity") === 1)
    assert(v("int_sensor_readings_cleaned" -> "relationships device_id -> stg_devices") === 1)
    assert(v("int_alerts_enriched" -> "relationships device_id -> stg_devices") === 1)
    assert(v("stg_alerts" -> "assert_no_orphan_alerts") === 1)
  }

  test("null keys and a duplicated key beside a row violation count as dbt counts them") {
    val suite = Checks.suite(MedallionFixture.clean.nullAndDuplicateKeys.medallion(spark))
    val fused = Checks.evaluate(suite)
    assert(fused === perCheck(suite))
    val v = fused.map(r => (r.model, r.test) -> r.violations).toMap
    assert(v("stg_sensor_readings" -> "not_null reading_id") === 2)
    assert(v("stg_sensor_readings" -> "unique reading_id") === 1, "null keys are not duplicates")
    assert(v("stg_sensor_readings" -> "accepted_values metric_name") === 1)
  }

  test("an empty gate evaluates to no results") {
    assert(Checks.evaluate(Nil) === Nil)
  }

  test("one evaluate call runs exactly one SQL execution") {
    val suite = Checks.suite(MedallionFixture.clean.medallion(spark))
    val executions = new AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      Checks.evaluate(suite)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(executions.get() === 1)
  }
}
