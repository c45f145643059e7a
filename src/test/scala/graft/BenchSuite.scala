package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s reporting rules, checked without running the suite. */
class BenchSuite extends AnyFunSuite {

  test("degraded marks only rows that end with fewer samples than passes") {
    val samples = Map(
      "full" -> List(1.0, 1.1, 1.2),
      "noisy_shed" -> List(1.0, 2.0, 3.0), // re-samples shed: still 3
      "noisy_resampled" -> List(1.0, 2.0, 3.0, 2.1, 2.2),
      "shed" -> List(4.0), // passes 2-3 shed by the budget
      "one_failed" -> List(0.5, 0.6)) // one sample threw
    val names = Seq("full", "noisy_shed", "noisy_resampled", "shed",
      "one_failed", "all_failed")
    assert(Bench.degradedRows(names, samples, passes = 3) == Seq("shed", "one_failed"))
  }
}
