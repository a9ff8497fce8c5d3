package graft.exec

import graft.{MedallionFixture, SparkTestSession, TempDirs}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class MaterializerSwapSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("a swap from a missing staged dir throws and leaves the target intact") {
    val path = tmpDir("graft_swap") + "/t"
    Materializer.overwriteTable(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    val e = intercept[java.io.IOException] {
      Materializer.swap(spark, path + "__missing", path)
    }
    assert(e.getMessage.contains(path + "__missing") && e.getMessage.contains(path))
    assert(spark.read.parquet(path).count() === 2)
  }

  test("a swap that crashed with the target moved aside is recovered by the next run") {
    val root = tmpDir("graft_swap_crash")
    val clean = MedallionFixture.clean
    val extra = "R9100,DEV001,temperature,62.5,2025-01-15 12:00:00,2025-01-15 12:05:00"
    val before = clean.writeSeeds(s"$root/before")
    val after = clean.copy(readings = clean.readings :+ extra).writeSeeds(s"$root/after")
    Seq("crashed", "clean").foreach(wh =>
      assert(Pipeline.run(spark, s"$root/$wh", before).allPassed))

    // the state a crash between moving the target aside and renaming the
    // staged table onto it leaves: the table at path__old, nothing at path
    val path = s"$root/crashed/silver/int_sensor_readings_cleaned"
    val rows = spark.read.parquet(path).collect().toSet
    Files.move(Paths.get(path), Paths.get(path + "__old"))
    assert(Materializer.readTarget(spark, path).map(_.collect().toSet) === Some(rows))
    assert(!Files.exists(Paths.get(path + "__old")))

    Seq("crashed", "clean").foreach(wh =>
      assert(Pipeline.run(spark, s"$root/$wh", after).allPassed))
    Seq("int_sensor_readings_cleaned", "int_device_health", "int_alerts_enriched").foreach { t =>
      val got = spark.read.parquet(s"$root/crashed/silver/$t")
      val want = spark.read.parquet(s"$root/clean/silver/$t")
      assert(got.schema === want.schema, t)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, t)
    }
  }
}
