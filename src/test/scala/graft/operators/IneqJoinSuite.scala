package graft.operators

import graft.SparkSpec

/** O3 ineq_join (reference pandance/pandance.py:614-846): the four
  * operators, mirrored semantics, range-pruning fast paths, the
  * closed-form cardinality identity the reference tests
  * (test/test_ops.py:386-409), and validation errors.
  */
class IneqJoinSuite extends SparkSpec {
  import spark.implicits._

  private def l3 = Seq((1, 10), (2, 20), (3, 30)).toDF("lid", "a")
  private def r3 = Seq((10, 15), (20, 25), (30, 35)).toDF("rid", "b")

  test("vanilla session (no GraftExtensions) warns once about the nested-loop fallback") {
    IneqJoin.warnedMissingStrategy = false
    // interleaved ranges so the prune fast paths don't short-circuit
    // before the general join is constructed
    val out = IneqJoin(l3, r3, "<=", leftOn = Some("a"), rightOn = Some("b"))
    assert(IneqJoin.warnedMissingStrategy,
      "expected a loud warning when RangeJoinStrategy is absent")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("NestedLoopJoin") || plan.contains("CartesianProduct"),
      s"vanilla session should fall back to the nested loop:\n$plan")
    // the warning is once-per-JVM: a second call must not depend on it
    IneqJoin.warnedMissingStrategy = false
    // a session WITH the strategy installed must not warn
    val orig = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val l = Seq((1, 10), (2, 20)).toDF("lid", "a")
      val r = Seq((10, 15), (25, 30)).toDF("rid", "b")
      IneqJoin(l, r, "<=", leftOn = Some("a"), rightOn = Some("b")).count()
      assert(!IneqJoin.warnedMissingStrategy,
        "must not warn when the range-join strategy is installed")
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
    }
  }

  test("all four operators, hand-computed") {
    def pairs(how: String): Set[Seq[String]] =
      rowSet(IneqJoin(l3, r3, how, leftOn = Some("a"), rightOn = Some("b"))
        .select("lid", "rid"))
    assert(pairs("<") == Set(
      Seq("1", "10"), Seq("1", "20"), Seq("1", "30"),
      Seq("2", "20"), Seq("2", "30"), Seq("3", "30")))
    assert(pairs("<=") == pairs("<")) // no equal values in this data
    assert(pairs(">") == Set(
      Seq("2", "10"), Seq("3", "10"), Seq("3", "20")))
    assert(pairs(">=") == pairs(">"))
  }

  test("<= includes equal values, < does not") {
    val l = Seq((1, 10)).toDF("lid", "a")
    val r = Seq((10, 10)).toDF("rid", "b")
    assert(IneqJoin(l, r, "<=", leftOn = Some("a"), rightOn = Some("b")).count() == 1)
    assert(IneqJoin(l, r, "<", leftOn = Some("a"), rightOn = Some("b")).count() == 0)
  }

  test("invalid operator raises (= and != are not part of the operator)") {
    // reference validates how the same way (pandance/pandance.py:756-762)
    for (bad <- Seq("=", "!=", "<>", "")) {
      intercept[IllegalArgumentException] {
        IneqJoin(l3, r3, bad, leftOn = Some("a"), rightOn = Some("b"))
      }
    }
  }

  test("range pruning: disjoint ranges -> empty without running the join") {
    // reference M4 (pandance/pandance.py:792-807, test/test_ops.py:345-383)
    val l = Seq((1, 100), (2, 200)).toDF("lid", "a")
    val r = Seq((10, 1), (20, 2)).toDF("rid", "b")
    val out = IneqJoin(l, r, "<", leftOn = Some("a"), rightOn = Some("b"))
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("lid", "a", "rid", "b"))
  }

  test("range pruning: total overlap -> full Cartesian result") {
    val l = Seq((1, 1), (2, 2)).toDF("lid", "a")
    val r = Seq((10, 100), (20, 200)).toDF("rid", "b")
    val out = IneqJoin(l, r, "<", leftOn = Some("a"), rightOn = Some("b"))
    assert(out.count() == 4)
  }

  test("pruned and unpruned plans agree") {
    for (how <- Seq("<", "<=", ">=", ">")) {
      val p = IneqJoin(l3, r3, how, leftOn = Some("a"), rightOn = Some("b"))
      val u = IneqJoin(l3, r3, how, leftOn = Some("a"), rightOn = Some("b"), prune = false)
      assertSameRows(p.select("lid", "rid"), u.select("lid", "rid"))
    }
  }

  test("closed-form cardinality: |A|*|B| + C(L,2) - L^2 for '<' on int ranges") {
    // identity from reference test_ineq_join_range_overlap
    // (test/test_ops.py:386-409): A = [0, a), B = [b0, b0 + b), overlap L
    val a = 30
    val b = 30
    val b0 = 15 // L = 15
    val lval = (0 until a)
    val rval = (b0 until b0 + b)
    val L = lval.toSet.intersect(rval.toSet).size
    val l = lval.zipWithIndex.map { case (v, i) => (i, v) }.toDF("lid", "x")
    val r = rval.zipWithIndex.map { case (v, i) => (i, v) }.toDF("rid", "y")
    val expected = a.toLong * b + L.toLong * (L - 1) / 2 - L.toLong * L
    val got = IneqJoin(l, r, "<", leftOn = Some("x"), rightOn = Some("y")).count()
    assert(got == expected, s"cardinality $got != closed-form $expected")
  }

  test("string inequality join") {
    // reference supports any comparable type (pandance/pandance.py:731-754)
    val l = Seq((1, "apple"), (2, "pear")).toDF("lid", "s")
    val r = Seq((10, "banana")).toDF("rid", "t")
    val out = IneqJoin(l, r, "<", leftOn = Some("s"), rightOn = Some("t"))
    assert(rowSet(out.select("lid", "rid")) == Set(Seq("1", "10")))
  }

  test("null join values are dropped") {
    val l = Seq((1, Some(10)), (2, None)).toDF("lid", "a")
    val r = Seq((10, Some(15)), (20, None)).toDF("rid", "b")
    val out = IneqJoin(l, r, "<", leftOn = Some("a"), rightOn = Some("b"))
    assert(rowSet(out.select("lid", "rid")) == Set(Seq("1", "10")))
  }

  test("suffixes apply to overlapping columns") {
    val l = Seq((1, 10)).toDF("id", "v")
    val r = Seq((2, 15)).toDF("id", "v")
    val out = IneqJoin(l, r, "<", on = Some("v"))
    assert(out.columns.toSeq == Seq("id_x", "v_x", "id_y", "v_y"))
    assert(out.count() == 1)
  }

  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.graft.TestHooks.waitListenerBus(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private def writeScan(rows: Seq[(Long, Long)], cols: (String, String)): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ineq_ftr_").toString
    rows.toDF(cols._1, cols._2).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("parquet footer stats replace the prune pre-scans (zero jobs at plan time)") {
    // round-16 verdict #7: on unfiltered parquet scans the two extreme
    // aggregates (two extra full passes at 100 TB) are answered from
    // footer metadata. apply() with inconclusive bounds must launch
    // ZERO Spark jobs — footers are driver-side IO — and produce the
    // identical join.
    val l = writeScan((1L to 40L).map(i => (i, i)), ("lid", "a"))
    val r = writeScan((1L to 40L).map(i => (i, 80L - i)), ("rid", "b"))
    // bounds come straight from the footers
    assert(ParquetFooterBounds.bounds(l, "a").contains((1L: Number, 40L: Number)))
    assert(ParquetFooterBounds.bounds(r, "b").contains((40L: Number, 79L: Number)))
    var planned: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      planned = IneqJoin(l, r, "<", leftOn = Some("a"), rightOn = Some("b"))
    }
    assert(jobs == 0, s"expected footer-only planning, saw $jobs jobs")
    assertSameRows(
      planned.select("lid", "rid"),
      IneqJoin(l, r, "<", leftOn = Some("a"), rightOn = Some("b"),
        prune = false).select("lid", "rid"))
  }

  test("footer stats drive both fast paths (all-match cross join, none-match empty)") {
    val lo = writeScan((1L to 6L).map(i => (i, i)), ("lid", "a"))          // 1..6
    val hi = writeScan((1L to 5L).map(i => (i, 100L + i)), ("rid", "b"))   // 101..105
    var all: org.apache.spark.sql.DataFrame = null
    var none: org.apache.spark.sql.DataFrame = null
    val jobsNone = jobsDuring {
      none = IneqJoin(lo, hi, ">", leftOn = Some("a"), rightOn = Some("b"))
    }
    assert(jobsNone == 0, s"none-match must be footer-only, saw $jobsNone jobs")
    // the all-match branch keeps the reference's M6 size-estimate
    // pre-flight (a deliberate pair of count jobs before materializing
    // a Cartesian result) — those, and ONLY those, may run
    val estJobs = jobsDuring {
      MemEstimate.warnIfLarge(lo.filter($"a".isNotNull), "a",
        hi.filter($"b".isNotNull), "b")
    }
    val jobsAll = jobsDuring {
      all = IneqJoin(lo, hi, "<", leftOn = Some("a"), rightOn = Some("b"))
    }
    assert(jobsAll == estJobs,
      s"all-match may only run the M6 estimate ($estJobs jobs), saw $jobsAll")
    assert(all.count() == 30)  // 6 x 5 cross join
    assert(none.count() == 0)
    assert(none.columns.length == 4) // full merged header on the empty path
  }

  test("footer path bails to aggregates on filters, non-scan plans, and strings") {
    val l = writeScan((1L to 10L).map(i => (i, i)), ("lid", "a"))
    // a filter narrows true extremes below the file bounds — must bail
    assert(ParquetFooterBounds.bounds(l.filter($"a" > 5), "a").isEmpty)
    // a non-scan plan (in-memory) has no footers
    assert(ParquetFooterBounds.bounds(
      Seq((1L, 2L)).toDF("x", "y"), "x").isEmpty)
    // string columns: writer-dependent truncation rules — must bail
    val dir = java.nio.file.Files.createTempDirectory("graft_ineq_str_").toString
    Seq((1L, "alpha")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    assert(ParquetFooterBounds.bounds(spark.read.parquet(dir), "s").isEmpty)
    // and the aggregate fallback still prunes correctly through a filter
    val r = writeScan((1L to 10L).map(i => (i, 100L + i)), ("rid", "b"))
    val out = IneqJoin(l.filter($"a" <= 3), r, "<",
      leftOn = Some("a"), rightOn = Some("b"))
    assert(out.count() == 30) // 3 x 10 all-match via the aggregate path
  }

  test("footer path refuses float/double columns (NaN-omitting writer stats)") {
    // common writers (pyarrow) EXCLUDE NaN from footer min/max while
    // Spark orders NaN above +Inf: a NaN row invisible to the stats
    // would let noneMatch drop matches and allMatch emit violating
    // pairs — float/double bounds must come from the NaN-correct
    // aggregate path, never footers
    val dir = java.nio.file.Files.createTempDirectory("graft_ineq_flt_").toString
    Seq((1L, 1.5d), (2L, 7.25d)).toDF("id", "d")
      .write.mode("overwrite").parquet(dir)
    assert(ParquetFooterBounds.bounds(spark.read.parquet(dir), "d").isEmpty)
    val fdir = java.nio.file.Files.createTempDirectory("graft_ineq_flt4_").toString
    Seq((1L, 1.5f), (2L, 7.25f)).toDF("id", "f")
      .write.mode("overwrite").parquet(fdir)
    assert(ParquetFooterBounds.bounds(spark.read.parquet(fdir), "f").isEmpty)
    // the aggregate fallback keeps float ineq joins NaN-correct: a NaN
    // right row matches every left row under <= (Spark's total order)
    val lf = spark.read.parquet(dir)
    val rdir = java.nio.file.Files.createTempDirectory("graft_ineq_nan_").toString
    Seq((10L, Double.NaN), (11L, 0.5d)).toDF("rid", "e")
      .write.mode("overwrite").parquet(rdir)
    val rf = spark.read.parquet(rdir)
    val out = IneqJoin(lf, rf, "<=", leftOn = Some("d"), rightOn = Some("e"))
    assert(out.count() == 2) // both left rows <= NaN; neither <= 0.5
  }

  test("footer path trusts MICROS timestamps, bails on MILLIS annotation") {
    val ts = (h: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    def write(outType: String): org.apache.spark.sql.DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ineq_ts_").toString
      val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", outType)
      try Seq((1L, ts(1)), (2L, ts(9))).toDF("id", "t")
        .write.mode("overwrite").parquet(dir)
      finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
      spark.read.parquet(dir)
    }
    // MICROS raw int64 == the epoch-micros the fast paths compare
    val micros = ParquetFooterBounds.bounds(write("TIMESTAMP_MICROS"), "t")
    assert(micros.exists { case (lo, hi) =>
      lo.longValue() == ts(1).getTime * 1000L &&
        hi.longValue() == ts(9).getTime * 1000L })
    // MILLIS raw int64 is the wrong unit — annotation check must bail
    assert(ParquetFooterBounds.bounds(write("TIMESTAMP_MILLIS"), "t").isEmpty)
    // INT96 has no INT32/INT64 raw type — bails on the raw-type gate
    assert(ParquetFooterBounds.bounds(write("INT96"), "t").isEmpty)
  }

  test("under GraftExtensions the extremes probe is skipped: no job, same rows") {
    val orig = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val low = Seq((1, 1.0), (2, 3.0), (3, 5.0)).toDF("lid", "a")
      val high = Seq((10, 5.0), (11, 8.0), (12, 9.0)).toDF("rid", "b")
      val mixed = Seq((20, 2.0), (21, 4.0), (22, 6.0)).toDF("rid", "b")
      // low vs high: every pair matches under <= (5.0 = 5.0) and no
      // pair matches under >; high vs low mirrors it; mixed interleaves
      val cases = Seq(
        (low, high),
        (high.withColumnRenamed("rid", "lid").withColumnRenamed("b", "a"),
          low.withColumnRenamed("lid", "rid").withColumnRenamed("a", "b")),
        (low, mixed))
      for ((l, r) <- cases; how <- IneqJoin.Ops.toSeq.sorted) {
        var built: org.apache.spark.sql.DataFrame = null
        val jobs = jobsDuring {
          built = IneqJoin(l, r, how, leftOn = Some("a"), rightOn = Some("b"))
        }
        assert(jobs == 0, s"$how: $jobs jobs while building the join")
        assertSameRows(built,
          IneqJoin(l, r, how, leftOn = Some("a"), rightOn = Some("b"), prune = false))
      }
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
    }
  }
}
