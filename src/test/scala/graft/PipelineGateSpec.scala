package graft

import graft.exec.Pipeline
import graft.models.Medallion
import graft.quality.Checks
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The silver → gold gate of `Pipeline.run` on the in-test fixture. */
class PipelineGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def isGold(model: String): Boolean =
    model.startsWith("fct_") || model.startsWith("dim_")

  test("a clean run builds gold with 35 + 19 passing checks, counted as on the lazy marts") {
    val root = Files.createTempDirectory("graft_gate").toString
    val seeds = MedallionFixture.clean.writeSeeds(s"$root/seeds")
    val res = Pipeline.run(spark, s"$root/wh", seeds)
    assert(res.goldBuilt)
    assert(res.silverChecks.length === 35)
    assert(res.goldChecks.length === 19)
    assert(res.allPassed, s"failing: ${(res.silverChecks ++ res.goldChecks).filterNot(_.passed)}")
    val lazyGold = Checks.suite(Medallion.fromSeeds(spark, seeds))
      .filter(ch => isGold(ch.model))
      .map(ch => Checks.CheckResult(ch.model, ch.test, ch.violations().count()))
    assert(res.goldChecks === lazyGold)
  }

  test("an unknown severity fails the silver gate: no gold is built or written") {
    val root = Files.createTempDirectory("graft_gate").toString
    val seeds = MedallionFixture.clean.unknownSeverity.writeSeeds(s"$root/seeds")
    val res = Pipeline.run(spark, s"$root/wh", seeds)
    assert(!res.goldBuilt)
    assert(res.goldChecks.isEmpty)
    assert(res.silverChecks.filterNot(_.passed).map(_.test).toSet ===
      Set("accepted_values severity"))
    assert(!new java.io.File(s"$root/wh/gold").exists())
  }
}
