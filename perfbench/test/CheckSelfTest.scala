package perfbench

/** Proves the benchmark's checks can fail: each check gets a correct result
  * (which must pass) and corrupted ones (each of which must be reported).
  * Run with `python3 perfbench/run.py --selftest`; exits 1 on any miss.
  */
object CheckSelfTest {
  private var misses = 0
  private var cases = 0

  private def expect(what: String, verdict: Option[String], shouldFail: Boolean): Unit = {
    cases += 1
    val ok = verdict.isDefined == shouldFail
    if (!ok) misses += 1
    println(f"${if (ok) "ok  " else "MISS"} $what%-48s ${verdict.getOrElse("passes")}")
  }

  def main(args: Array[String]): Unit = {
    // join checksums: a dropped pair, a swapped id, an extra row
    val ref = NonequiJoin.Reference
    def agg(ps: Seq[(Long, Long)]) = { val a = new ref.Acc; ps.foreach { case (l, r) => a.add(l, r) }; a.agg }
    val joinPairs = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L))
    val want = agg(joinPairs)
    expect("agg: correct pairs", Checks.agg(want, agg(joinPairs)), shouldFail = false)
    expect("agg: dropped pair", Checks.agg(want, agg(joinPairs.tail)), shouldFail = true)
    expect("agg: swapped id", Checks.agg(want, agg((1L, 12L) +: joinPairs.tail)), shouldFail = true)
    expect("agg: extra row", Checks.agg(want, agg(joinPairs :+ ((4L, 13L)))), shouldFail = true)
    expect("agg: duplicated row", Checks.agg(want, agg(joinPairs :+ joinPairs.head)), shouldFail = true)

    // near-dup pair sets
    val planted = Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L))
    val exact = planted.toSeq
    expect("pairs: exact", Checks.pairs(planted, exact), shouldFail = false)
    expect("pairs: dropped pair", Checks.pairs(planted, exact.tail), shouldFail = true)
    expect("pairs: swapped id", Checks.pairs(planted, (0L, 5L) +: exact.tail), shouldFail = true)
    expect("pairs: extra row", Checks.pairs(planted, exact :+ ((5L, 6L))), shouldFail = true)
    expect("pairs: duplicated row", Checks.pairs(planted, exact :+ exact.head), shouldFail = true)

    // top-k against the live documents
    val live = Seq((7L, 3.5), (2L, 3.25), (9L, 1.0))
    expect("topK: same", Checks.topK(live, live), shouldFail = false)
    expect("topK: stale (a deleted doc still served)",
      Checks.topK(live, (1L, 4.0) +: live.init), shouldFail = true)
    expect("topK: stale scores (stats not updated)",
      Checks.topK(live, live.map { case (d, s) => (d, s + 0.125) }), shouldFail = true)
    expect("topK: swapped order", Checks.topK(live, Seq(live(1), live(0), live(2))), shouldFail = true)
    expect("topK: dropped row", Checks.topK(live, live.init), shouldFail = true)

    // the tail percentile needs ten samples beyond it
    expect("tail: p90 of 100 samples", Option.when(Stats.tail((1 to 100).map(_.toDouble)) != ((90, 90.0)))("wrong"),
      shouldFail = false)

    println(s"$cases cases, $misses missed")
    sys.exit(if (misses == 0) 0 else 1)
  }
}
