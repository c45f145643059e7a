package perfbench

/** The correctness checks, as pure functions of an expected and an actual
  * result: `None` when the result is right, else what is wrong with it.
  * `perfbench/test/CheckSelfTest.scala` feeds each of them corrupted results.
  */
object Checks {
  def agg(want: Agg, got: Agg): Option[String] =
    if (want == got) None else Some(s"expected $want, got $got")

  private def dupes(got: Seq[(Long, Long)]): Option[String] = {
    val d = got.groupBy(identity).collect { case (p, ps) if ps.size > 1 => p }
    if (d.isEmpty) None else Some(s"${d.size} duplicated pairs, e.g. ${d.head}")
  }

  /** The pair set must be exactly `want`, each pair once. */
  def pairs(want: Set[(Long, Long)], got: Seq[(Long, Long)]): Option[String] =
    dupes(got).orElse {
      val g = got.toSet
      val missing = want -- g
      val extra = g -- want
      if (missing.isEmpty && extra.isEmpty) None
      else Some(s"${missing.size} missing (e.g. ${missing.headOption.getOrElse("-")}), " +
        s"${extra.size} unexpected (e.g. ${extra.headOption.getOrElse("-")})")
    }

  /** Same documents in the same order with the same scores. */
  def topK(want: Seq[(Long, Double)], got: Seq[(Long, Double)]): Option[String] =
    if (want == got) None
    else Some(s"expected ${want.take(3).mkString(",")}..., got ${got.take(3).mkString(",")}...")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest of the p50/p75/p90/p95/p99 percentiles with at least ten
    * samples above it, as (percentile, value); (0, 0) for fewer than 20
    * samples.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10) match {
      case Some(p) => (p, s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)))
      case None => (0, 0.0)
    }
  }
}
