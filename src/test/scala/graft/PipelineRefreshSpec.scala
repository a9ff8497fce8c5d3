package graft

import graft.exec.Pipeline
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.run(fullRefresh = true)` drops and rebuilds the silver tables. */
class PipelineRefreshSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val Silver =
    Seq("int_sensor_readings_cleaned", "int_device_health", "int_alerts_enriched")

  test("a full refresh over an old warehouse drops rows whose source is gone") {
    val root = tmpDir("graft_refresh")
    val clean = MedallionFixture.clean
    // An extra reading in an hour of its own, so it also makes a health row.
    val extra = "R9100,DEV001,temperature,62.5,2025-01-15 12:00:00,2025-01-15 12:05:00"
    val before = clean.copy(readings = clean.readings :+ extra).writeSeeds(s"$root/before")
    val after = clean.writeSeeds(s"$root/after")
    assert(Pipeline.run(spark, s"$root/wh", before).allPassed)
    assert(Pipeline.run(spark, s"$root/wh", after, fullRefresh = true).allPassed)
    assert(Pipeline.run(spark, s"$root/fresh", after, fullRefresh = true).allPassed)

    def table(wh: String, name: String) = spark.read.parquet(s"$root/$wh/silver/$name")
    assert(table("wh", "int_sensor_readings_cleaned").filter(col("reading_id") === "R9100").isEmpty)
    Silver.foreach { name =>
      val got = table("wh", name)
      val want = table("fresh", name)
      assert(got.schema === want.schema, name)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, name)
    }
  }
}
