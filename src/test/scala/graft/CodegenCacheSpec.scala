package graft

import graft.exec.Pipeline
import org.apache.spark.{ConfDefaults, SparkConf}
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** `GraftExtensions` sizes Spark's codegen cache to the engine's working
  * set, so a repeated op reuses its generated classes instead of
  * compiling them again.
  */
class CodegenCacheSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import ConfDefaults.{CodegenCacheEntries => Entries, CodegenCacheKey => Key}

  test("an engine session carries the engine's codegen cache size") {
    assert(spark.conf.get(Key) === Entries.toString)
  }

  test("a second identical medallion op compiles at most 10 classes") {
    val seeds = MedallionFixture.clean.writeSeeds(tmpDir("graft_codegen_seeds"))
    // Same seeds, same frozen clock: the two ops plan the same code.
    def op(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(Pipeline.run(spark, tmpDir("graft_codegen_wh"), seeds, fullRefresh = true).allPassed)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = op()
    val second = op()
    assert(second <= 10, s"the second op compiled $second classes (the first $first)")
  }

  test("a value set explicitly wins over the default") {
    val set = new SparkConf(false).set(Key, "77")
    assert(ConfDefaults.applyTo(set) === ConfDefaults.Defaults.keySet - Key)
    assert(set.get(Key) === "77")
    val unset = new SparkConf(false)
    assert(ConfDefaults.applyTo(unset) === ConfDefaults.Defaults.keySet)
    assert(unset.get(Key) === Entries.toString)
    assert(unset.get(ConfDefaults.NanosAsLongKey) === "true")
  }
}
