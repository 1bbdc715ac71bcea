package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Bench failure rule: a key whose passes ALL throw goes to the
  * failed list and never reaches the per-query map or the total — never
  * timed at its time-to-throw, which used to masquerade as a speedup.
  * One successful pass still wins the min-of-2 over a failed one.
  */
class BenchSentinelSpec extends AnyFunSuite {
  private val Inf = Double.PositiveInfinity

  private def timed(a: Double, b: Double): Seq[(String, Double)] =
    Bench.combinePasses(Seq(("k", a, b))).timed

  test("both passes failed -> listed as failed, not in the map") {
    val s = Bench.combinePasses(Seq(("ok", 1.0, 2.0), ("bad", Inf, Inf)))
    assert(s.timed == Seq("ok" -> 1.0))
    assert(s.failed == Seq("bad"))
  }

  test("one failed pass keeps the successful pass's time") {
    assert(timed(Inf, 1.25) == Seq("k" -> 1.25))
    assert(timed(0.75, Inf) == Seq("k" -> 0.75))
  }

  test("two successful passes keep the min") {
    assert(timed(2.0, 1.5) == Seq("k" -> 1.5))
  }

  test("failed keys are excluded from the total") {
    val s = Bench.combinePasses(
      Seq(("a", 1.0, 1.5), ("bad", Inf, Inf), ("b", 3.0, 2.5)))
    assert(s.total == 3.5)
    assert(Bench.combinePasses(Nil).total == 0.0)
  }
}
