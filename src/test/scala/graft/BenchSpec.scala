package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.timePasses` never times a query that throws. */
class BenchSpec extends AnyFunSuite {

  test("a query that throws in any timed pass is failed and left out of the times") {
    var calls = 0
    val flaky: () => Unit = () => { calls += 1; if (calls == 2) sys.error("second pass") }
    val t = Bench.timePasses(2, Seq(
      "q1_ok" -> (() => ()),
      "q2_throws" -> (() => throw new IllegalStateException("boom")),
      "q3_flaky" -> flaky))
    assert(t.seconds.map(_._1) === Seq("q1_ok"))
    assert(t.seconds.forall(_._2 >= 0.0))
    assert(t.failed.keys.toSeq === Seq("q2_throws", "q3_flaky"))
    assert(t.failed("q2_throws").getMessage === "boom")
    assert(calls === 2)
  }
}
