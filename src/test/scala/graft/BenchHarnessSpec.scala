package graft

import org.scalatest.funsuite.AnyFunSuite

/** Failure-propagation gate for the bench/soak harness (VERDICT r6 #2):
  * a query that throws must surface in the artifact's `errors` map and
  * must NOT leave a bogus (implausibly fast) time entry. */
class BenchHarnessSpec extends AnyFunSuite {

  test("a throwing query lands in errors, not in times") {
    val BenchHarness.PassResult(times, errs, _) = BenchHarness.passDetailed(
      Seq("ok", "boom", "ok2"),
      n => if (n == "boom") throw new IllegalStateException("synthetic OOM"),
      "spec")
    assert(times.map(_._1) == Seq("ok", "ok2"))
    assert(errs.keySet == Set("boom"))
    assert(errs("boom").contains("IllegalStateException"))
    assert(errs("boom").contains("synthetic OOM"))
  }

  test("merge keeps the first (cold-pass) message per query") {
    val merged = BenchHarness.mergeErrors(Seq(
      Map("a" -> "cold failure"),
      Map("a" -> "warm follow-on", "b" -> "warm-only failure")))
    assert(merged == Map("a" -> "cold failure", "b" -> "warm-only failure"))
  }

  test("errorsJson escapes quotes, backslashes and newlines") {
    val j = BenchHarness.errorsJson(Map("q" -> "path \"x\\y\"\nline2"))
    assert(j == """{"q":"path \"x\\y\"\nline2"}""")
    // must round-trip through a strict JSON parser shape: no raw control
    // chars, balanced quotes
    assert(!j.exists(_ < ' '))
  }

  test("empty errors render as the literal {} the driver checks for") {
    assert(BenchHarness.errorsJson(Map.empty) == "{}")
  }
}
