package graft.exec

import graft.{SparkTestSession, TempDirs}
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
}
