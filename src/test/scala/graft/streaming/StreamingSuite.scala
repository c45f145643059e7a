package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Packing

/** Structured-Streaming surface: the batch/stream-unified transforms,
  * driven BOTH ways — batch frames for oracle parity, MemoryStream for
  * real incremental execution with state.
  */
class StreamingSuite extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def batchEvents = Seq(
    (ts("2024-01-01 00:05:00"), "click"),
    (ts("2024-01-01 00:55:00"), "click"),
    (ts("2024-01-01 00:10:00"), "view"),
    (ts("2024-01-01 01:05:00"), "click")).toDF("ts", "event_type")

  test("windowedEventCounts on a batch frame: epoch-aligned tumbling windows") {
    val out = Streaming.windowedEventCounts(batchEvents, "ts", "event_type", "1 hour")
    val h0 = ts("2024-01-01 00:00:00").getTime * 1000L
    val h1 = ts("2024-01-01 01:00:00").getTime * 1000L
    assert(rowSet(out) == Set(
      Seq(h0.toString, "click", "2"),
      Seq(h0.toString, "view", "1"),
      Seq(h1.toString, "click", "1")))
  }

  test("windowedEventCounts over a MemoryStream: same counts, incremental arrival") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = Streaming.windowedEventCounts(
      input.toDF().toDF("ts", "event_type"), "ts", "event_type", "1 hour")
    val q = counts.writeStream
      .format("memory").queryName("wc_test").outputMode("complete").start()
    try {
      input.addData((ts("2024-01-01 00:05:00"), "click"), (ts("2024-01-01 00:10:00"), "view"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:55:00"), "click"), (ts("2024-01-01 01:05:00"), "click"))
      q.processAllAvailable()
      val got = rowSet(spark.table("wc_test"))
      val h0 = ts("2024-01-01 00:00:00").getTime * 1000L
      val h1 = ts("2024-01-01 01:00:00").getTime * 1000L
      assert(got == Set(
        Seq(h0.toString, "click", "2"),
        Seq(h0.toString, "view", "1"),
        Seq(h1.toString, "click", "1")))
    } finally q.stop()
  }

  test("windowedDistinct: HLL per window, exact on small cardinalities, streams") {
    // batch: distinct users per hour — at these cardinalities the HLL
    // estimate is exact, so the check is equality, not an envelope
    val ev = Seq(
      (ts("2024-01-01 00:05:00"), 1L), (ts("2024-01-01 00:10:00"), 1L),
      (ts("2024-01-01 00:20:00"), 2L), (ts("2024-01-01 00:50:00"), 3L),
      (ts("2024-01-01 01:05:00"), 1L), (ts("2024-01-01 01:06:00"), 4L))
      .toDF("ts", "user_id")
    val h0 = ts("2024-01-01 00:00:00").getTime * 1000L
    val h1 = ts("2024-01-01 01:00:00").getTime * 1000L
    val batch = Streaming.windowedDistinct(ev, "ts", "user_id", "1 hour")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == Map(h0 -> 3L, h1 -> 2L))
    // same call over a MemoryStream with incremental arrival
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val q = Streaming.windowedDistinct(
        input.toDF().toDF("ts", "user_id"), "ts", "user_id", "1 hour")
      .writeStream.format("memory").queryName("wd_test")
      .outputMode("complete").start()
    try {
      input.addData((ts("2024-01-01 00:05:00"), 1L), (ts("2024-01-01 00:20:00"), 2L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:10:00"), 1L), (ts("2024-01-01 00:50:00"), 3L),
        (ts("2024-01-01 01:05:00"), 1L), (ts("2024-01-01 01:06:00"), 4L))
      q.processAllAvailable()
      val got = spark.table("wd_test").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("windowedEmbeddingDrift: per-window cosine vs reference, streams == batch") {
    val ref = Seq(
      Tuple1(Seq(1.0, 0.0, 0.5)), Tuple1(Seq(0.8, 0.2, 0.4)))
      .toDF("embedding")
    val ev = Seq(
      (ts("2024-01-01 00:05:00"), Seq(1.0, 0.1, 0.5)),
      (ts("2024-01-01 00:20:00"), Seq(0.9, 0.0, 0.45)),
      (ts("2024-01-01 01:10:00"), Seq(-0.5, 1.0, 0.0)), // drifted hour
      (ts("2024-01-01 01:20:00"), Seq(-0.4, 0.9, 0.1)))
      .toDF("ts", "embedding")
    val h0 = ts("2024-01-01 00:00:00").getTime * 1000L
    val h1 = ts("2024-01-01 01:00:00").getTime * 1000L
    val batch = Streaming.windowedEmbeddingDrift(
        ev, "ts", "embedding", ref, "embedding", "1 hour")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(batch.keySet == Set(h0, h1))
    assert(batch(h0)._1 == 2L && batch(h1)._1 == 2L)
    // hour 0 tracks the reference; hour 1 points elsewhere
    assert(batch(h0)._2 > 0.99, s"stable window read ${batch(h0)._2}")
    assert(batch(h1)._2 < 0.2, s"drifted window read ${batch(h1)._2}")
    // the same call serves a MemoryStream with incremental arrival
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Seq[Double])]
    val q = Streaming.windowedEmbeddingDrift(
        input.toDF().toDF("ts", "embedding"), "ts", "embedding",
        ref, "embedding", "1 hour")
      .writeStream.format("memory").queryName("drift_test")
      .outputMode("complete").start()
    try {
      input.addData((ts("2024-01-01 00:05:00"), Seq(1.0, 0.1, 0.5)),
        (ts("2024-01-01 01:10:00"), Seq(-0.5, 1.0, 0.0)))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:20:00"), Seq(0.9, 0.0, 0.45)),
        (ts("2024-01-01 01:20:00"), Seq(-0.4, 0.9, 0.1)))
      q.processAllAvailable()
      val got = spark.table("drift_test").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("windowedEmbeddingDrift fails loudly on malformed vectors") {
    val ref = Seq(Tuple1(Seq(1.0, 0.0))).toDF("embedding")
    val bad = Seq((ts("2024-01-01 00:05:00"), Seq(Double.NaN, 1.0)))
      .toDF("ts", "embedding")
    val e = intercept[Exception] {
      Streaming.windowedEmbeddingDrift(
        bad, "ts", "embedding", ref, "embedding", "1 hour").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("non-finite")), e.toString)
  }

  test("sliding windows: each event lands in windowDur/slide overlapping windows") {
    val one = Seq(Tuple2(ts("2024-01-01 00:40:00"), "click")).toDF("ts", "event_type")
    val out = Streaming.slidingEventCounts(one, "ts", "event_type", "1 hour", "15 minutes")
    val starts = out.collect().map(_.getLong(0)).sorted.toSeq
    def us(s: String) = ts(s).getTime * 1000L
    // 00:40 falls in windows starting 23:45, 00:00, 00:15, 00:30
    assert(starts == Seq(
      us("2023-12-31 23:45:00"), us("2024-01-01 00:00:00"),
      us("2024-01-01 00:15:00"), us("2024-01-01 00:30:00")))
  }

  test("append mode drops events later than the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = Streaming.windowedEventCounts(
      input.toDF().toDF("ts", "event_type"), "ts", "event_type",
      windowDur = "1 hour", watermarkDelay = "10 minutes")
    val q = counts.writeStream
      .format("memory").queryName("late_test").outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:05:00"), "click"))
      q.processAllAvailable()
      // advance the watermark far past the [10:00, 11:00) window
      input.addData((ts("2024-01-01 12:00:00"), "click"))
      q.processAllAvailable()
      // too late: watermark is 11:50, the 10:xx window is closed
      input.addData((ts("2024-01-01 10:10:00"), "click"))
      q.processAllAvailable()
      // push the watermark past [12:00, 13:00) so it finalizes too
      input.addData((ts("2024-01-01 14:00:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table("late_test").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      val h10 = ts("2024-01-01 10:00:00").getTime * 1000L
      val h12 = ts("2024-01-01 12:00:00").getTime * 1000L
      assert(rows(h10) == 1L, s"late event must not count: $rows") // not 2
      assert(rows(h12) == 1L)
    } finally q.stop()
  }

  test("sessionize on batch: gap splits, trailing session emitted") {
    val ev = Seq(
      Streaming.UserEvent(1, ts("2024-01-01 00:00:00")),
      Streaming.UserEvent(1, ts("2024-01-01 00:10:00")),
      Streaming.UserEvent(1, ts("2024-01-01 02:00:00")), // > 30 min gap
      Streaming.UserEvent(2, ts("2024-01-01 00:00:00"))).toDS()
    val out = Streaming.sessionize(ev, gapUs = 30L * 60 * 1000000).collect().toSet
    def us(s: String) = ts(s).getTime * 1000L
    assert(out == Set(
      Streaming.Session(1, us("2024-01-01 00:00:00"), us("2024-01-01 00:10:00"), 2),
      Streaming.Session(1, us("2024-01-01 02:00:00"), us("2024-01-01 02:00:00"), 1),
      Streaming.Session(2, us("2024-01-01 00:00:00"), us("2024-01-01 00:00:00"), 1)))
  }

  test("batch sessionize runs as a window plan and survives one huge user") {
    // 50k events for ONE user: the old batch path buffered the whole
    // group in an array per user; the window plan external-sorts
    val gapUs = 30L * 60 * 1000000L
    val rnd = new scala.util.Random(7)
    var t = 1700000000000L // epoch ms
    val times = (0 until 50000).map { _ =>
      t += (if (rnd.nextInt(200) == 0) 3600L * 1000 else rnd.nextInt(1000).toLong + 1)
      t
    }
    val ev = times.map(ms => Streaming.UserEvent(1L, new Timestamp(ms))).toDS()
    val out = Streaming.sessionize(ev, gapUs)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected a window plan:\n$plan")
    assert(!plan.contains("FlatMapGroupsWithState"),
      "batch mode must not route through the state-store operator")
    // reference sessions by a driver-side fold over the sorted times
    val expected = times.sorted.foldLeft(List.empty[(Long, Long, Long)]) {
      case (Nil, ms) => List((ms, ms, 1L))
      case ((s0, e0, n0) :: rest, ms) =>
        if ((ms - e0) * 1000L <= gapUs) (s0, ms, n0 + 1) :: rest
        else (ms, ms, 1L) :: (s0, e0, n0) :: rest
    }.map { case (s, e, n) => Streaming.Session(1L, s * 1000L, e * 1000L, n) }.toSet
    assert(out.collect().toSet == expected)
  }

  test("sessionize over a MemoryStream: closed sessions emitted incrementally, state carries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.UserEvent]
    val sessions = Streaming.sessionize(input.toDS(), gapUs = 30L * 60 * 1000000)
    val q = sessions.writeStream
      .format("memory").queryName("sess_test").outputMode("append").start()
    try {
      // batch 1: one session opens
      input.addData(
        Streaming.UserEvent(1, ts("2024-01-01 00:00:00")),
        Streaming.UserEvent(1, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      assert(spark.table("sess_test").count() == 0) // still open, nothing emitted
      // batch 2: an event past the gap closes it (state survived batches)
      input.addData(Streaming.UserEvent(1, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      val got = spark.table("sess_test").as[Streaming.Session].collect().toSet
      def us(s: String) = ts(s).getTime * 1000L
      assert(got == Set(
        Streaming.Session(1, us("2024-01-01 00:00:00"), us("2024-01-01 00:10:00"), 2)))
    } finally q.stop()
  }

  test("streamBandJoin on batch frames equals the plain band join") {
    val clicks = Seq((1, ts("2024-01-01 00:10:00")), (2, ts("2024-01-01 03:00:00")))
      .toDF("cid", "cts")
    val views = Seq((10, ts("2024-01-01 00:11:00")), (20, ts("2024-01-01 07:00:00")))
      .toDF("vid", "vts")
    val out = Streaming.streamBandJoin(clicks, views, "cts", "vts",
      java.time.Duration.ofMinutes(2))
    assert(rowSet(out.select("cid", "vid")) == Set(Seq("1", "10")))
  }

  test("streamBandJoin joins two MemoryStreams incrementally (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Int, Timestamp)]
    val views = MemoryStream[(Int, Timestamp)]
    val joined = Streaming.streamBandJoin(
      clicks.toDF().toDF("cid", "cts"), views.toDF().toDF("vid", "vts"),
      "cts", "vts", java.time.Duration.ofMinutes(2), watermarkDelay = "1 minute")
    val q = joined.selectExpr("cid", "vid").writeStream
      .format("memory").queryName("sbj_test").outputMode("append").start()
    try {
      clicks.addData((1, ts("2024-01-01 00:10:00")))
      views.addData((10, ts("2024-01-01 00:11:00")))
      q.processAllAvailable()
      // second batch: a view matching the buffered click arrives later
      views.addData((11, ts("2024-01-01 00:09:30")))
      clicks.addData((2, ts("2024-01-01 05:00:00")))
      q.processAllAvailable()
      val got = spark.table("sbj_test").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(got == Set((1, 10), (1, 11)))
    } finally q.stop()
  }

  test("streamBandJoin as a REAL stream equals the batch plan, with bounded state") {
    // the round-2 verdict's ask: run the band join as an actual
    // incremental stream over a realistic event set, hash-compare the
    // collected sink against the batch execution of the SAME function,
    // and assert the state store never buffers more than the
    // watermark+tolerance horizon
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val span = 2 * 3600 * 1000L // 2 hours
    val clicksData = (0 until 150)
      .map(i => (i, new Timestamp(base + (rnd.nextDouble() * span).toLong)))
      .sortBy(_._2.getTime)
    val viewsData = (0 until 150)
      .map(i => (1000 + i, new Timestamp(base + (rnd.nextDouble() * span).toLong)))
      .sortBy(_._2.getTime)

    val batchExpected = rowSet(Streaming.streamBandJoin(
        clicksData.toDF("cid", "cts"), viewsData.toDF("vid", "vts"),
        "cts", "vts", java.time.Duration.ofSeconds(90))
      .select("cid", "vid"))

    val clicks = MemoryStream[(Int, Timestamp)]
    val views = MemoryStream[(Int, Timestamp)]
    val joined = Streaming.streamBandJoin(
      clicks.toDF().toDF("cid", "cts"), views.toDF().toDF("vid", "vts"),
      "cts", "vts", java.time.Duration.ofSeconds(90), watermarkDelay = "1 minute")
    val q = joined.selectExpr("cid", "vid").writeStream
      .format("memory").queryName("sbj_live").outputMode("append").start()
    try {
      // 10 time-ordered chunks: a live feed where event time advances,
      // so the watermark can expire join state as it goes
      val chunks = 10
      for (i <- 0 until chunks) {
        clicks.addData(clicksData.slice(i * 15, (i + 1) * 15))
        views.addData(viewsData.slice(i * 15, (i + 1) * 15))
        q.processAllAvailable()
      }
      val got = spark.table("sbj_live").collect()
        .map(r => Seq(r.getInt(0).toString, r.getInt(1).toString)).toSet
      assert(got == batchExpected)
      // bounded state: with a 90s band + 1min watermark over a 2h feed,
      // the store holds a few minutes of rows, never the whole streams
      val maxState = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).max
      assert(maxState < 150,
        s"state grew to $maxState rows — join state is not being expired")
    } finally q.stop()
  }

  test("exactDedup on a stream drops cross-batch duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val deduped = Streaming.exactDedup(
      in.toDF().toDF("user_id", "payload", "ts"),
      Seq("user_id", "payload"), "ts", watermarkDelay = "10 minutes")
    val q = deduped.selectExpr("user_id", "payload").writeStream
      .format("memory").queryName("sdd_test").outputMode("append").start()
    try {
      in.addData((1L, "a", ts("2024-01-01 00:00:00")), (2L, "b", ts("2024-01-01 00:00:10")))
      q.processAllAvailable()
      // same keys again in a LATER micro-batch, within the watermark
      in.addData((1L, "a", ts("2024-01-01 00:01:00")), (3L, "c", ts("2024-01-01 00:01:30")))
      q.processAllAvailable()
      val got = spark.table("sdd_test").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("sessionize: late event far before the open session becomes its own session") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.UserEvent]
    val q = Streaming.sessionize(in.toDS(), gapUs = 60L * 1000000,
        watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("sz_late").outputMode("append").start()
    try {
      in.addData(Streaming.UserEvent(1L, ts("2024-01-01 10:05:00")),
        Streaming.UserEvent(1L, ts("2024-01-01 10:05:30")))
      q.processAllAvailable()
      // late (within watermark) but > gap BEFORE the open session start:
      // must close as a separate singleton, not stretch the open session
      in.addData(Streaming.UserEvent(1L, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      val got = spark.table("sz_late").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val t0 = ts("2024-01-01 10:01:00").getTime * 1000
      assert(got.contains((t0, t0, 1L)), s"got $got")
    } finally q.stop()
  }

  test("exactDedup null key columns stay distinguishable (no concat_ws collision)") {
    val df = Seq(
      (Some(1L), Some("x"), Timestamp.valueOf("2024-01-01 00:00:00")),
      (Some(1L), None, Timestamp.valueOf("2024-01-01 00:01:00")),
      (None, Some("1x"), Timestamp.valueOf("2024-01-01 00:02:00")))
      .toDF("user_id", "payload", "ts")
    val out = Streaming.exactDedup(df, Seq("user_id", "payload"), "ts")
    assert(out.count() == 3)
  }

  test("exactDedup fingerprint is injective against adversarial key tuples") {
    // every failure mode of a naive concat fingerprint, in one frame:
    // boundary shift, the string "NULL" vs SQL NULL, case folding,
    // whitespace folding, and values containing the marker chars
    // themselves (separator \u0001, escape \u0002, the null token)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows: Seq[(Option[String], Option[String])] = Seq(
      (Some("ab"), Some("c")),
      (Some("a"), Some("bc")),             // boundary shift
      (Some("NULL"), Some("x")),
      (None, Some("x")),                   // literal "NULL" vs null
      (Some("A"), Some("y")),
      (Some("a"), Some("y")),              // case must NOT fold
      (Some("a b"), Some("z")),
      (Some("a  b"), Some("z")),           // whitespace must NOT fold
      (Some("a\u0001"), Some("b")),     // separator inside a value
      (Some("a"), Some("\u0001b")),
      (Some("a\u0002"), Some("b")),     // escape char inside a value
      (Some("a"), Some("\u0002b")),
      (Some("\u0002n"), Some("w")),     // value equal to the null token
      (None, Some("w")))
    val df = rows.map { case (a, b) => (a.orNull, b.orNull, t0) }
      .toDF("k1", "k2", "ts")
    val out = Streaming.exactDedup(df, Seq("k1", "k2"), "ts")
    // all 14 tuples are distinct -> all 14 fingerprints must survive
    assert(out.count() == rows.size)
    assert(out.select("fingerprint").distinct().count() == rows.size)
    // and a true duplicate still collapses
    val dup = (rows ++ rows.take(1)).map { case (a, b) => (a.orNull, b.orNull, t0) }
      .toDF("k1", "k2", "ts")
    assert(Streaming.exactDedup(dup, Seq("k1", "k2"), "ts").count() == rows.size)
  }

  test("exactDedup batch form equals a plain distinct on the key projection") {
    val df = Seq(
      (1L, "x", Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, "x", Timestamp.valueOf("2024-01-01 01:00:00")), // dup, later ts
      (2L, "x", Timestamp.valueOf("2024-01-01 02:00:00")))
      .toDF("user_id", "payload", "ts")
    val out = Streaming.exactDedup(df, Seq("user_id", "payload"), "ts")
      .select("user_id", "payload")
    assert(rowSet(out) == Set(Seq("1", "x"), Seq("2", "x")))
  }

  test("asOfJoin batch: latest ref at-or-before each probe, tol + tie rules") {
    import Streaming.AsOfEvent
    val probe = Seq(
      AsOfEvent(1, ts("2024-01-01 00:10:00"), 101),
      AsOfEvent(1, ts("2024-01-01 00:30:00"), 102),  // nothing within 5 min
      AsOfEvent(2, ts("2024-01-01 00:10:00"), 103)). // key isolation
      toDS()
    val ref = Seq(
      AsOfEvent(1, ts("2024-01-01 00:09:00"), 201),
      AsOfEvent(1, ts("2024-01-01 00:09:30"), 202),  // latest -> wins for 101
      AsOfEvent(1, ts("2024-01-01 00:09:30"), 203),  // same ts: max id wins
      AsOfEvent(1, ts("2024-01-01 00:11:00"), 204),  // after probe: excluded
      AsOfEvent(2, ts("2024-01-01 00:06:00"), 205)).
      toDS()
    val out = Streaming.asOfJoin(probe, ref, java.time.Duration.ofMinutes(5))
      .collect().map(m => (m.key, m.probe_id, m.ref_id)).toSet
    assert(out == Set((1L, 101L, 203L), (2L, 103L, 205L)))
  }

  test("asOfJoin stream: out-of-order ref in a later batch still wins; live == batch") {
    import Streaming.{AsOfEvent, AsOfMatch}
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[AsOfEvent]
    val rIn = MemoryStream[AsOfEvent]
    val out = Streaming.asOfJoin(
      pIn.toDS(), rIn.toDS(),
      java.time.Duration.ofMinutes(5), watermarkDelay = "2 minutes")
    val q = out.writeStream
      .format("memory").queryName("asof_test").outputMode("append").start()
    try {
      // batch 1: the probe and a FARTHER ref arrive; watermark (00:08)
      // has not passed the probe (00:10), so nothing may be emitted yet
      pIn.addData(AsOfEvent(1, ts("2024-01-01 00:10:00"), 101))
      rIn.addData(AsOfEvent(1, ts("2024-01-01 00:09:00"), 201))
      q.processAllAvailable()
      assert(spark.table("asof_test").isEmpty,
        "premature emission: a closer ref could still arrive")
      // batch 2: the CLOSER ref arrives out of order (00:09:30 > wm
      // 00:08, so it is admitted), plus a watermark-advancing ref
      rIn.addData(
        AsOfEvent(1, ts("2024-01-01 00:09:30"), 202),
        AsOfEvent(2, ts("2024-01-01 00:20:00"), 999))
      q.processAllAvailable()
      // batch 3: any traffic triggers the event-time timeout flush for
      // key 1 (wm is now 00:18, past the probe)
      rIn.addData(AsOfEvent(2, ts("2024-01-01 00:21:00"), 998))
      q.processAllAvailable()
      val live = spark.table("asof_test").as[AsOfMatch]
        .collect().map(m => (m.key, m.probe_id, m.ref_id)).toSet
      // emit-on-arrival would have paired 101 with 201; waiting for the
      // watermark pairs it with the out-of-order but closer 202
      assert(live == Set((1L, 101L, 202L)))
      // batch parity on the same event set
      val batch = Streaming.asOfJoin(
        Seq(AsOfEvent(1, ts("2024-01-01 00:10:00"), 101)).toDS(),
        Seq(AsOfEvent(1, ts("2024-01-01 00:09:00"), 201),
          AsOfEvent(1, ts("2024-01-01 00:09:30"), 202),
          AsOfEvent(2, ts("2024-01-01 00:20:00"), 999),
          AsOfEvent(2, ts("2024-01-01 00:21:00"), 998)).toDS(),
        java.time.Duration.ofMinutes(5))
        .collect().map(m => (m.key, m.probe_id, m.ref_id)).toSet
      assert(live == batch)
    } finally q.stop()
  }

  test("parquetStream reads a drop directory with the batch schema") {
    val dir = new java.io.File("target/test-tmp/stream-drop")
    dir.mkdirs()
    val batch = batchEvents
    batch.write.mode("overwrite").parquet(dir.getPath)
    val stream = Streaming.parquetStream(spark, dir.getPath, batch)
    assert(stream.isStreaming)
    val q = Streaming.windowedEventCounts(stream, "ts", "event_type", "1 hour")
      .writeStream.format("memory").queryName("ps_test").outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ps_test").agg(sum("n")).collect()(0).getLong(0) == 4L)
    } finally q.stop()
  }

  test("jsonlStream -> gate: the file-drop ingest path end to end") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_drop_").toFile
    Seq(
      (1L, "completely unrelated words in this training document here"),
      (2L, "someone wrote the quick brown fox jumps right into the corpus"))
      .toDF("doc_id", "text").write.mode("overwrite").json(dir.getPath)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val stream = Streaming.jsonlStream(spark, dir.getPath, schema)
    assert(stream.isStreaming)
    val gated = Streaming.decontaminateGate(
      spark, stream, "doc_id", "text", evalSet, "text", n = 3)
    val q = gated.selectExpr("doc_id").writeStream
      .format("memory").queryName("jsonl_gate_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jsonl_gate_test").as[Long].collect().toSet == Set(1L))
    } finally q.stop()
  }

  test("cappedPerWindow batch: n earliest per (key, window), (ts, id) tie-break") {
    val evs = Seq(
      Streaming.CapEvent(1, ts("2024-01-01 00:05:00"), 13),
      Streaming.CapEvent(1, ts("2024-01-01 00:01:00"), 12),
      Streaming.CapEvent(1, ts("2024-01-01 00:01:00"), 11), // ts tie -> smaller id wins
      Streaming.CapEvent(1, ts("2024-01-01 00:40:00"), 14), // over cap, dropped
      Streaming.CapEvent(1, ts("2024-01-01 01:10:00"), 15), // next window, kept
      Streaming.CapEvent(2, ts("2024-01-01 00:30:00"), 21)  // other key, kept
    ).toDS()
    val out = Streaming.cappedPerWindow(evs, n = 3,
      windowDur = java.time.Duration.ofHours(1))
    assert(out.collect().map(_.id).toSet == Set(11, 12, 13, 15, 21))
  }

  test("cappedPerWindow over a MemoryStream: watermark-final, late displacement, == batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.CapEvent]
    val capped = Streaming.cappedPerWindow(input.toDS(), n = 2,
      windowDur = java.time.Duration.ofHours(1), watermarkDelay = "30 minutes")
    val q = capped.writeStream
      .format("memory").queryName("cap_test").outputMode("append").start()
    try {
      // batch 1: three events in window 0 — cap is 2, but nothing may
      // emit yet (a late event could still displace a kept row)
      input.addData(
        Streaming.CapEvent(1, ts("2024-01-01 00:30:00"), 3),
        Streaming.CapEvent(1, ts("2024-01-01 00:40:00"), 4),
        Streaming.CapEvent(1, ts("2024-01-01 00:50:00"), 5))
      q.processAllAvailable()
      assert(spark.table("cap_test").count() == 0)
      // batch 2: a LATE but in-watermark earlier event (00:35 >= the
      // 00:20 watermark) displaces id 4 from the kept pair
      input.addData(Streaming.CapEvent(1, ts("2024-01-01 00:35:00"), 9))
      q.processAllAvailable()
      assert(spark.table("cap_test").count() == 0)
      // batch 3: watermark passes the window end -> final rows emit
      input.addData(Streaming.CapEvent(1, ts("2024-01-01 02:00:00"), 99))
      q.processAllAvailable()
      val got = spark.table("cap_test").as[Streaming.CappedRow]
        .collect().map(_.id).toSet
      assert(got == Set(3, 9))
      // live result == the batch definition on the same data
      val allEvents = Seq(
        Streaming.CapEvent(1, ts("2024-01-01 00:30:00"), 3),
        Streaming.CapEvent(1, ts("2024-01-01 00:40:00"), 4),
        Streaming.CapEvent(1, ts("2024-01-01 00:50:00"), 5),
        Streaming.CapEvent(1, ts("2024-01-01 00:35:00"), 9)).toDS()
      val batchIds = Streaming.cappedPerWindow(allEvents, n = 2,
        windowDur = java.time.Duration.ofHours(1)).collect().map(_.id).toSet
      assert(batchIds == got)
    } finally q.stop()
  }

  test("streaming index dedup: stateless gate equals the batch index join") {
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhidx_stream").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", dir, n = 3)

    // batch frame through the STREAMING transform == batch operator
    val delta = Seq(
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "one two three four five six seven eight nine ELEVEN"),
      (6L, "fresh unrelated text words entirely different here now")
    ).toDF("doc_id", "text")
    val viaStreamFn = Streaming.dedupAgainstMinhashIndex(
      spark, delta, "doc_id", "text", dir, threshold = 0.6)
    val viaBatch = Dedup.dedupAgainstMinhashIndex(
      spark, delta, "doc_id", "text", dir, threshold = 0.6)
    assertSameRows(viaStreamFn.orderBy("id_left"), viaBatch.orderBy("id_left"))

    // live MemoryStream: stateless append, matches arrive per batch
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val gated = Streaming.dedupAgainstMinhashIndex(
      spark, input.toDF().toDF("doc_id", "text"), "doc_id", "text", dir, threshold = 0.6)
    assert(gated.isStreaming)
    val q = gated.writeStream
      .format("memory").queryName("idx_dedup_test").outputMode("append").start()
    try {
      input.addData((2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      q.processAllAvailable()
      val after1 = spark.table("idx_dedup_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after1 == Set((2L, 1L)))
      input.addData(
        (4L, "one two three four five six seven eight nine ELEVEN"),
        (6L, "fresh unrelated text words entirely different here now"))
      q.processAllAvailable()
      val after2 = spark.table("idx_dedup_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after2 == Set((2L, 1L), (4L, 3L)))
      // exactly-once per pair (first-shared-band anchor, no duplicates)
      assert(spark.table("idx_dedup_test").count() == 2)
    } finally q.stop()
  }

  test("maintainBm25Index: stream-maintained index == one-shot; replay-safe; markers survive compact") {
    import graft.operators.Search
    val docs = Seq(
      (1L, "spark scan spark join"),
      (2L, "join join join filter filter"),
      (3L, "spark"),
      (4L, "scan filter scan filter scan filter scan filter"),
      (5L, "unrelated words only here"))
    val dir = java.nio.file.Files.createTempDirectory("bm25_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bm25_maint_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Streaming.maintain(IndexFamily.bm25("doc_id", "text", dir),
      input.toDF().toDF("doc_id", "text"), ckpt)
    try {
      input.addData(docs(0), docs(1)) // bootstraps
      q.processAllAvailable()
      input.addData(docs(2))          // append segment
      q.processAllAvailable()
      input.addData(docs(3), docs(4)) // append segment
      q.processAllAvailable()
    } finally q.stop()
    val full = docs.toDF("doc_id", "text")
    assertSameRows(
      Search.bm25TopK(full, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    val markers0 = graft.sources.IndexIO.segmentMarkers(spark, dir)
    assert(markers0.size == 3 &&
      Seq("b0-", "b1-", "b2-").forall(p => markers0.exists(_.startsWith(p))),
      s"unexpected markers $markers0")
    // a REPLAYED batch (at-least-once foreachBatch) is skipped: its
    // marker is live, the version pointer does not move
    val v0 = graft.sources.IndexIO.resolve(spark, dir)
    val b2 = markers0.find(_.startsWith("b2-")).get
    val applied = Streaming.applyIndexBatch(spark, dir, b2) {
      fail("bootstrap must not run on an existing index")
    } {
      Search.appendToBm25Index(docs.takeRight(2).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }
    assert(!applied)
    assert(graft.sources.IndexIO.resolve(spark, dir) == v0)
    // compaction (a FULL publish) carries the applied-batch markers, so
    // a post-compaction replay is still recognized
    Search.compactBm25Index(spark, dir)
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1)
    assert(graft.sources.IndexIO.segmentMarkers(spark, dir) == markers0)
    assertSameRows(
      Search.bm25TopK(full, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    // a FRESH stream generation (new checkpoint — batch ids restart at
    // 0) gets its own marker namespace: new data lands instead of
    // colliding with the old generation's b0
    val ckpt2 = java.nio.file.Files.createTempDirectory("bm25_maint_ck2").toString
    val input2 = MemoryStream[(Long, String)]
    input2.addData((6L, "spark filter spark"))
    val q2 = Streaming.maintain(IndexFamily.bm25("doc_id", "text", dir),
      input2.toDF().toDF("doc_id", "text"), ckpt2)
    try q2.processAllAvailable() finally q2.stop()
    val withSix = (docs :+ (6L, "spark filter spark")).toDF("doc_id", "text")
    assertSameRows(
      Search.bm25TopK(withSix, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    assert(graft.sources.IndexIO.segmentMarkers(spark, dir).size == 4)
  }

  test("maintainLexicalIndex: one stream feeds BM25 + phrase + fused retrieval") {
    import graft.operators.Search
    val docs = Seq(
      (1L, "spark scan spark join"),
      (2L, "join join join filter filter"),
      (3L, "scan filter scan filter"),
      (4L, "spark"))
    val dir = java.nio.file.Files.createTempDirectory("lex_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lex_maint_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Streaming.maintain(IndexFamily.lexical("doc_id", "text", dir),
      input.toDF().toDF("doc_id", "text"), ckpt)
    try {
      input.addData(docs(0), docs(1)); q.processAllAvailable()
      input.addData(docs(2), docs(3)); q.processAllAvailable()
    } finally q.stop()
    val full = docs.toDF("doc_id", "text")
    assertSameRows(
      Search.bm25TopK(full, "doc_id", "text", Seq("spark", "filter"), k = 10),
      Search.bm25SearchIndex(spark, dir, Seq("spark", "filter"), k = 10))
    assertSameRows(
      Search.phraseTopK(full, "doc_id", "text", Seq("scan", "filter"), k = 10),
      Search.phraseSearchIndex(spark, dir, Seq("scan", "filter"), k = 10))
    assert(Search.hybridLexicalPhraseTopK(spark, dir,
      Seq("spark", "filter"), Seq("scan", "filter"), k = 5).count() > 0)
  }

  test("maintainMinhashIndex: stream-maintained near-dup index probes correctly") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("mh_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mh_maint_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Streaming.maintain(IndexFamily.minhash("doc_id", "text", dir, n = 3),
      input.toDF().toDF("doc_id", "text"), ckpt)
    try {
      input.addData((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      q.processAllAvailable()
      input.addData((3L, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
    } finally q.stop()
    // a near-copy of doc 1 (indexed in batch 0) and of doc 3 (batch 1)
    // both match through the unioned chain
    val probes = Seq(
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "one two three four five six seven eight nine ELEVEN"),
      (6L, "fresh unrelated text words entirely different here now")
    ).toDF("doc_id", "text")
    val hits = Dedup.dedupAgainstMinhashIndex(
        spark, probes, "doc_id", "text", dir, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((2L, 1L), (4L, 3L)))
    val markers = graft.sources.IndexIO.segmentMarkers(spark, dir)
    assert(markers.size == 2 &&
      Seq("b0-", "b1-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
  }

  test("maintainIvfIndex: stream-built chain == exact via exhaustive probes; compactEvery collapses in-stream; markers survive") {
    import graft.operators.SimilaritySearch
    // 9 deterministic 4-dim vectors in three loose directions
    def vec(i: Int): Array[Float] = {
      val base = i % 3 match {
        case 0 => Array(1f, 0.1f, 0f, 0f)
        case 1 => Array(0f, 1f, 0.1f, 0f)
        case _ => Array(0f, 0f, 1f, 0.1f)
      }
      base.map(v => v + 0.01f * i)
    }
    val all = (1 to 9).map(i => (i.toLong, vec(i)))
    val dir = java.nio.file.Files.createTempDirectory("ivf_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_maint_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    // compactEvery = 2: every append that grows the chain to 2 segments
    // immediately collapses it — the stream crosses TWO compact
    // boundaries and serving must not notice either
    val q = Streaming.maintain(IndexFamily.ivf("vec_id", "embedding", dir, nCentroids = 2),
      input.toDF().toDF("vec_id", "embedding"), ckpt, compactEvery = 2)
    try {
      input.addData(all.take(3)); q.processAllAvailable()   // bootstrap (trains)
      input.addData(all.slice(3, 6)); q.processAllAvailable() // append -> compact
      input.addData(all.drop(6)); q.processAllAvailable()     // append -> compact
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1,
      "compactEvery must have collapsed the chain")
    // compaction is a full publish: all three applied-batch markers carried
    val markers = graft.sources.IndexIO.segmentMarkers(spark, dir)
    assert(markers.size == 3 &&
      Seq("b0-", "b1-", "b2-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
    // exhaustive probes == exact brute force (identical rank expression)
    val full = all.toDF("vec_id", "embedding")
    val queries = all.take(2).toDF("vec_id", "embedding")
    assertSameRows(
      SimilaritySearch.bruteForceTopK(queries, full, "vec_id", "embedding", k = 3),
      SimilaritySearch.searchIvf(spark, dir, queries, "vec_id", "embedding",
        k = 3, nProbe = 2))
    // a replayed batch is recognized THROUGH the compacts and skipped
    val v0 = graft.sources.IndexIO.resolve(spark, dir)
    val b1 = markers.find(_.startsWith("b1-")).get
    val applied = Streaming.applyIndexBatch(spark, dir, b1) {
      fail("bootstrap must not run on an existing index")
    } {
      SimilaritySearch.appendToIvfIndex(spark, dir,
        all.slice(3, 6).toDF("vec_id", "embedding"), "vec_id", "embedding")
    }
    assert(!applied)
    assert(graft.sources.IndexIO.resolve(spark, dir) == v0)
  }

  test("vacuumEvery: retired versions drop in-stream; a reader on the previous version survives") {
    import graft.operators.Search
    val idx = java.nio.file.Files.createTempDirectory("graft_vac_idx_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vac_ck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // compactEvery = 2: every append immediately compacts to a FULL
    // publish, orphaning the previous chain — exactly the publish
    // pattern that accumulates retired version dirs without vacuum
    val q = Streaming.maintain(IndexFamily.bm25("doc_id", "text", idx),
      input.toDF().toDF("doc_id", "text"), ckpt, compactEvery = 2, vacuumEvery = 1,
      vacuumRetain = 2)
    def versionDirs(): Set[String] = {
      val d = new java.io.File(idx)
      d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("v-"))
        .map(_.getName).toSet
    }
    try {
      input.addData((1L, "alpha beta")); q.processAllAvailable()
      input.addData((2L, "gamma delta")); q.processAllAvailable()
      // a concurrent reader resolves the CURRENT (compacted, full)
      // version now...
      val oldVdir = graft.sources.IndexIO.resolve(spark, idx)
      val oldReader = spark.read.parquet(s"$oldVdir/lengths")
      // ...the next batch publishes append + compact + vacuum: the old
      // version is retired but still REFERENCED by the retained append
      // chain — its files must survive and stay readable
      input.addData((3L, "epsilon zeta")); q.processAllAvailable()
      assert(oldReader.count() == 2L,
        "the previous version must survive one vacuumed publish")
      // keep streaming: an unattended stream stays bounded instead of
      // accumulating two version dirs per batch, and the old version
      // eventually drops once nothing retained references it
      (4L to 8L).foreach { i =>
        input.addData((i, s"word$i other$i")); q.processAllAvailable()
      }
      val dirs = versionDirs()
      assert(dirs.size <= 4,
        s"vacuum cadence must bound retired versions, got ${dirs.size}: $dirs")
      assert(!dirs.contains(new java.io.File(oldVdir).getName),
        "the batch-2 version must eventually drop")
    } finally q.stop()
    // the index itself serves the full stream content throughout
    assert(Search.bm25SearchIndex(spark, idx, Seq("alpha"), k = 5)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(Search.bm25SearchIndex(spark, idx, Seq("word7"), k = 5)
      .select("doc_id").as[Long].collect().toSet == Set(7L))
  }

  test("maintainBm25IndexCdc: change feed lands the snapshot state; delete-only batch marks") {
    import graft.operators.Search
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_bm25_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.maintainBm25IndexCdc(
      input.toDF().toDF("doc_id", "status", "text"),
      "doc_id", "status", "text", idx, ckpt)
    try {
      // bootstrap: three docs
      input.addData(
        (1L, "added", "alpha beta gamma"),
        (2L, "added", "delta epsilon"),
        (3L, "added", "zeta eta theta"))
      q.processAllAvailable()
      // change feed: doc 2 re-written, doc 3 removed, doc 4 new
      input.addData(
        (2L, "changed", "delta REWRITTEN text"),
        (3L, "removed", null.asInstanceOf[String]),
        (4L, "added", "iota kappa"))
      q.processAllAvailable()
      // delete-only batch: doc 1 taken down (marker rides the tombstone)
      input.addData((1L, "removed", null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    // every batch recorded its marker — including the delete-only one
    val markers = graft.sources.IndexIO.segmentMarkers(spark, idx)
    assert(markers.size == 3 &&
      Seq("b0-", "b1-", "b2-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
    // serving == a one-shot build on the final snapshot
    val fresh = java.nio.file.Files.createTempDirectory("graft_cdc_fresh_").toString
    Search.buildBm25Index(Seq(
        (2L, "delta REWRITTEN text"), (4L, "iota kappa")).toDF("doc_id", "text"),
      "doc_id", "text", fresh)
    for (terms <- Seq(Seq("delta"), Seq("rewritten"), Seq("iota"),
        Seq("alpha"), Seq("zeta")))
      assertSameRows(
        Search.bm25SearchIndex(spark, idx, terms, k = 10),
        Search.bm25SearchIndex(spark, fresh, terms, k = 10))
  }

  test("maintainLexicalIndexCdc: BM25 and phrase serving track the change feed") {
    import graft.operators.Search
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_lex_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_lexck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.maintainCdc(IndexFamily.lexical("doc_id", "text", idx),
      input.toDF().toDF("doc_id", "status", "text"), "status", ckpt)
    try {
      input.addData(
        (1L, "added", "the quick brown fox"),
        (2L, "added", "pack my box with jugs"))
      q.processAllAvailable()
      input.addData(
        (1L, "changed", "the slow brown fox jumps"),
        (2L, "removed", null.asInstanceOf[String]),
        (3L, "added", "quick silver lining"))
      q.processAllAvailable()
    } finally q.stop()
    val fresh = java.nio.file.Files.createTempDirectory("graft_cdc_lexf_").toString
    Search.buildLexicalIndex(Seq(
        (1L, "the slow brown fox jumps"), (3L, "quick silver lining"))
      .toDF("doc_id", "text"), "doc_id", "text", fresh)
    assertSameRows(
      Search.bm25SearchIndex(spark, idx, Seq("quick", "fox"), k = 10),
      Search.bm25SearchIndex(spark, fresh, Seq("quick", "fox"), k = 10))
    // the changed doc's NEW positions serve; the old phrase is gone
    assertSameRows(
      Search.phraseSearchIndex(spark, idx, Seq("brown", "fox", "jumps"), k = 10),
      Search.phraseSearchIndex(spark, fresh, Seq("brown", "fox", "jumps"), k = 10))
    assert(Search.phraseSearchIndex(spark, idx, Seq("quick", "brown"), k = 10).isEmpty)
  }

  test("maintainIvfIndexCdc: re-embedded vectors serve, removed ones die, exhaustive == exact") {
    import graft.operators.SimilaritySearch
    def vec(i: Int): Array[Float] =
      Array.tabulate(4)(d => (math.sin(i * 1.7 + d) + 0.05 * i).toFloat)
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_ivf_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ivfck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Array[Float])]
    val q = Streaming.maintainCdc(IndexFamily.ivf("vec_id", "embedding", idx, nCentroids = 2),
      input.toDF().toDF("vec_id", "status", "embedding"), "status", ckpt)
    try {
      input.addData((1 to 8).map(i =>
        (i.toLong, "added", if (i == 3) vec(3).map(-_) else vec(i))): _*)
      q.processAllAvailable()
      // re-embed vec 3 (tombstone + re-append), remove vec 7
      input.addData(
        (3L, "changed", vec(3)),
        (7L, "removed", Array.empty[Float]))
      q.processAllAvailable()
    } finally q.stop()
    val live = ((1 to 8).toSet - 7).toSeq.sorted
      .map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = Seq((1L, vec(1)), (3L, vec(3))).toDF("vec_id", "embedding")
    assertSameRows(
      SimilaritySearch.searchIvf(spark, idx, queries, "vec_id", "embedding",
        k = 4, nProbe = 2),
      SimilaritySearch.bruteForceTopK(queries, live, "vec_id", "embedding", k = 4))
  }

  test("maintainPqIndex: stream ≡ batch lifecycle over the same batches; compact preserves it") {
    import graft.operators.SimilaritySearch
    def vec(i: Int): Array[Float] =
      Array.tabulate(4)(d => (math.cos(i * 1.9 + d * 0.7) + 0.05 * i).toFloat)
    val all = (1 to 9).map(i => (i.toLong, vec(i)))
    val dir = java.nio.file.Files.createTempDirectory("pq_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pq_maint_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    // compactEvery = 2: the code chain collapses twice mid-stream
    val q = Streaming.maintain(IndexFamily.pq("vec_id", "embedding", dir, m = 2, kCodes = 2),
      input.toDF().toDF("vec_id", "embedding"), ckpt, compactEvery = 2)
    try {
      input.addData(all.take(3)); q.processAllAvailable()      // bootstrap (trains)
      input.addData(all.slice(3, 6)); q.processAllAvailable()  // append -> compact
      input.addData(all.drop(6)); q.processAllAvailable()      // append -> compact
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1,
      "compactEvery must have collapsed the code chain")
    val markers = graft.sources.IndexIO.segmentMarkers(spark, dir)
    assert(markers.size == 3 &&
      Seq("b0-", "b1-", "b2-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
    // batch sibling: the SAME batches through build + append + append —
    // frozen codebooks + union-unchanged compaction make serving equal
    val bdir = java.nio.file.Files.createTempDirectory("pq_batch").toString
    SimilaritySearch.buildPqIndex(all.take(3).toDF("vec_id", "embedding"),
      "vec_id", "embedding", bdir, m = 2, kCodes = 2)
    SimilaritySearch.appendToPqIndex(all.slice(3, 6).toDF("vec_id", "embedding"),
      "vec_id", "embedding", bdir)
    SimilaritySearch.appendToPqIndex(all.drop(6).toDF("vec_id", "embedding"),
      "vec_id", "embedding", bdir)
    val queries = all.take(2).toDF("vec_id", "embedding")
    assertSameRows(
      SimilaritySearch.searchPqIndex(spark, dir, queries, "vec_id", "embedding", k = 3),
      SimilaritySearch.searchPqIndex(spark, bdir, queries, "vec_id", "embedding", k = 3))
  }

  test("maintainIvfSq8Index: exhaustive probes == one-shot quantized scan; markers survive compact") {
    import graft.operators.SimilaritySearch
    def vec(i: Int): Array[Float] = {
      val base = i % 3 match {
        case 0 => Array(1f, 0.1f, 0f, 0f)
        case 1 => Array(0f, 1f, 0.1f, 0f)
        case _ => Array(0f, 0f, 1f, 0.1f)
      }
      base.map(v => v + 0.01f * i)
    }
    val all = (1 to 9).map(i => (i.toLong, vec(i)))
    val dir = java.nio.file.Files.createTempDirectory("sq8_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sq8_maint_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val q = Streaming.maintain(IndexFamily.ivfSq8("vec_id", "embedding", dir, nCentroids = 2),
      input.toDF().toDF("vec_id", "embedding"), ckpt, compactEvery = 2)
    try {
      input.addData(all.take(3)); q.processAllAvailable()
      input.addData(all.slice(3, 6)); q.processAllAvailable()
      input.addData(all.drop(6)); q.processAllAvailable()
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1)
    val markers = graft.sources.IndexIO.segmentMarkers(spark, dir)
    assert(markers.size == 3 &&
      Seq("b0-", "b1-", "b2-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
    // per-vector SQ8 quantization is centroid-independent: at
    // exhaustive probes the maintained chain == the one-shot scan
    val full = all.toDF("vec_id", "embedding")
    val queries = all.take(2).toDF("vec_id", "embedding")
    assertSameRows(
      SimilaritySearch.sq8TopK(queries, full, "vec_id", "embedding", k = 3),
      SimilaritySearch.searchIvfSq8(spark, dir, queries, "vec_id", "embedding",
        k = 3, nProbe = 2))
  }

  test("maintainEvalIndex: arriving benchmark suites gate immediately; compact collapses") {
    import graft.operators.Decontaminate
    val evalA = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val evalB = Seq((101L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "completely unrelated words in this training document here"),
      (2L, "someone wrote the quick brown fox jumps right into the corpus"),
      (4L, "pack my box with five dozen liquor jugs and more text"),
      (5L, "another clean document with its own distinct vocabulary")
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_evalm_idx_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_evalm_ck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Streaming.maintain(IndexFamily.eval("text", idx, n = 3),
      input.toDF().toDF("doc_id", "text"), ckpt, compactEvery = 2)
    try {
      // suite A lands: gate must screen for it from this moment
      input.addData((100L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      val before = Streaming.decontaminateGateFromIndex(
        spark, corpus, "doc_id", "text", idx)
        .select("doc_id").as[Long].collect().toSet
      assert(before == Set(1L, 4L, 5L))
      // suite B lands -> append + in-stream compact back to one segment
      input.addData((101L, "pack my box with five dozen liquor jugs"))
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, idx).length == 1,
      "compactEvery must have collapsed the hash chain")
    assert(graft.sources.IndexIO.segmentMarkers(spark, idx).size == 2)
    val after = Streaming.decontaminateGateFromIndex(
      spark, corpus, "doc_id", "text", idx)
      .select("doc_id").as[Long].collect().toSet
    val direct = Streaming.decontaminateGate(spark, corpus, "doc_id", "text",
      evalA.union(evalB), "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(after == direct && after == Set(1L, 5L))
  }

  test("maintainIvfPqIndex: stream-built chain serves exact top-k through rerank") {
    import graft.operators.SimilaritySearch
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(d => (math.sin(i * 2.7 + d * 1.3) + 0.1 * i).toFloat)
    val all = (1 to 8).map(i => (i.toLong, vec(i)))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivfpq_maint_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val q = Streaming.maintain(IndexFamily.ivfPq("vec_id", "embedding", dir, nCentroids = 2, m = 4,
      kCodes = 2), input.toDF().toDF("vec_id", "embedding"), ckpt)
    try {
      input.addData(all.take(4)); q.processAllAvailable()  // trains model
      input.addData(all.drop(4)); q.processAllAvailable()  // encodes + appends
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, dir).length == 2)
    val markers = graft.sources.IndexIO.segmentMarkers(spark, dir)
    assert(markers.size == 2 &&
      Seq("b0-", "b1-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
    // exhaustive probes + corpus-covering shortlist + exact rescore from
    // the chained vectors side-file == brute force over the union
    val full = all.toDF("vec_id", "embedding")
    val queries = all.take(2).toDF("vec_id", "embedding")
    assertSameRows(
      SimilaritySearch.bruteForceTopK(queries, full, "vec_id", "embedding", k = 3),
      SimilaritySearch.searchIvfPqRerank(spark, dir, queries,
        "vec_id", "embedding", k = 3, kShortlist = all.size, nProbe = 2))
  }

  test("maintainSemDedupIndex: stream-resolved dedup state == incremental batch flow") {
    import graft.operators.SimilaritySearch
    def v(deg: Double): Array[Double] = {
      val r = math.toRadians(deg)
      Array(math.cos(r), math.sin(r), 0.0, 0.0)
    }
    val baseA = Seq(1L -> v(0), 2L -> v(10), 4L -> v(30), 5L -> v(36),
      10L -> v(90), 11L -> v(96), 13L -> v(99))
    val batchB = Seq(3L -> v(20), 50L -> v(60), 12L -> v(110))
    val dir = java.nio.file.Files.createTempDirectory("semdd_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("semdd_maint_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Double])]
    val q = Streaming.maintain(IndexFamily.semDedup("id", "emb", dir, k = 2, threshold = 0.95),
      input.toDF().toDF("id", "emb"), ckpt)
    try {
      input.addData(baseA); q.processAllAvailable()   // bootstrap (trains)
      input.addData(batchB); q.processAllAvailable()  // incremental resolve
    } finally q.stop()
    val markers = graft.sources.IndexIO.segmentMarkers(spark, dir)
    assert(markers.size == 2 &&
      Seq("b0-", "b1-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
    // the stream-built chain equals the batch incremental flow exactly
    val dir2 = java.nio.file.Files.createTempDirectory("semdd_maint_ref").toString
    SimilaritySearch.buildSemDedupIndex(baseA.toDF("id", "emb"), "id", "emb",
      dir2, k = 2, threshold = 0.95)
    SimilaritySearch.semDeDupIncremental(spark, dir2,
      batchB.toDF("id", "emb"), "id", "emb")
    assertSameRows(
      SimilaritySearch.semDedupIndexStatus(spark, dir2).orderBy("id"),
      SimilaritySearch.semDedupIndexStatus(spark, dir).orderBy("id"))
    // keeper transfer is visible through the stream-built artifact too
    val s = SimilaritySearch.semDedupIndexStatus(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(s(12L) && !s(10L))
  }

  test("maintainAHashIndex: stream-built perceptual index probes; compactEvery + markers") {
    import graft.multimodal.Multimodal
    def png(k: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) {
        val bright = k match {
          case 0 => x < 32
          case 1 => y < 32
          case _ => ((x / 8) + (y / 8)) % 2 == 0
        }
        val v = if (bright) 215 else 40
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    // ids 1..6 carry class id % 3 — two exemplars per class
    val all = (1 to 6).map(i => (i.toLong, png(i % 3)))
    val dir = java.nio.file.Files.createTempDirectory("ahash_maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ahash_maint_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Byte])]
    val q = Streaming.maintain(IndexFamily.aHash("doc_id", "payload", dir),
      input.toDF().toDF("doc_id", "payload"), ckpt, compactEvery = 2)
    try {
      input.addData(all.take(2)); q.processAllAvailable()
      input.addData(all.slice(2, 4)); q.processAllAvailable() // -> compact
      input.addData(all.drop(4)); q.processAllAvailable()     // -> compact
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, dir).length == 1)
    val markers = graft.sources.IndexIO.segmentMarkers(spark, dir)
    assert(markers.size == 3, s"unexpected markers $markers")
    // probes of fresh renders match exactly the same-class indexed ids
    val probes = Seq((10L, png(1)), (11L, png(2))).toDF("doc_id", "payload")
    val hits = Multimodal.dedupAgainstAHashIndex(
        spark, probes, "doc_id", "payload", dir, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((10L, 1L), (10L, 4L), (11L, 2L), (11L, 5L)))
    // delete-then-probe: tombstoned ids stop matching, compact drops them
    IndexFamily.Stored.aHash("doc_id", dir).delete(Seq(4L).toDF("doc_id"))
    IndexFamily.Stored.aHash("doc_id", dir).compact(spark)
    assert(graft.sources.IndexIO.segmentMarkers(spark, dir) == markers,
      "manual compact must carry the applied-batch markers too")
    val hits2 = Multimodal.dedupAgainstAHashIndex(
        spark, probes, "doc_id", "payload", dir, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits2 == Set((10L, 1L), (11L, 2L), (11L, 5L)))
  }

  test("hybridDecontaminateFlags: lex containment + dense cosine, stateless, batch == stream") {
    import graft.operators.{Search, SimilaritySearch}
    val evalDocs = Seq(
      (100L, "alpha beta gamma"),
      (101L, "one two three four")).toDF("doc_id", "text")
    val evalEmb = Seq(
      (100L, Seq(1.0, 0.0)),
      (101L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val lexIdx = java.nio.file.Files.createTempDirectory("hyb_lex").toString
    val annIdx = java.nio.file.Files.createTempDirectory("hyb_ann").toString
    Search.buildBm25Index(evalDocs, "doc_id", "text", lexIdx)
    SimilaritySearch.buildIvfIndex(evalEmb, "vec_id", "embedding", annIdx,
      nCentroids = 2)
    val rows = Seq(
      // covers ALL of eval 100's vocabulary (3/3 = 1.0 >= 0.9) AND its
      // embedding (cos = 0.9/sqrt(0.82) ~ 0.9939 >= 0.45): both legs
      (1L, "alpha beta gamma extra", Seq(0.9, 0.1)),
      // shares 2/4 of eval 101's terms (0.5 < 0.9) and no cosine hit
      (2L, "one two five six seven", Seq(0.05, -0.9)),
      // no shared terms, anti-aligned embedding: clean
      (3L, "unrelated words entirely", Seq(-1.0, 0.0)))
    val batch = rows.toDF("doc_id", "text", "embedding")
    val got = Streaming.hybridDecontaminateFlags(
        spark, batch, "doc_id", "text", "embedding", lexIdx, annIdx,
        minContainment = 0.9, minCosine = 0.45, nProbe = 2)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val vecScore = math.floor(0.9 / math.sqrt(0.82) * 1e4) / 1e4
    assert(got == Set(
      (1L, 100L, "lex", 1.0),
      (1L, 100L, "vec", vecScore)))
    // a tombstoned eval item stops matching (chain applies to the gate)
    Search.deleteFromBm25Index(spark, lexIdx, Seq(100L).toDF("doc_id"), "doc_id")
    val afterDel = Streaming.hybridDecontaminateFlags(
        spark, batch, "doc_id", "text", "embedding", lexIdx, annIdx,
        minContainment = 0.9, minCosine = 0.45, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(afterDel == Set((1L, "vec")))

    // live MemoryStream: stateless append, identical flags
    val lexIdx2 = java.nio.file.Files.createTempDirectory("hyb_lex2").toString
    Search.buildBm25Index(evalDocs, "doc_id", "text", lexIdx2)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Seq[Double])]
    val gated = Streaming.hybridDecontaminateFlags(
      spark, input.toDF().toDF("doc_id", "text", "embedding"),
      "doc_id", "text", "embedding", lexIdx2, annIdx,
      minContainment = 0.9, minCosine = 0.45, nProbe = 2)
    assert(gated.isStreaming)
    val q = gated.writeStream
      .format("memory").queryName("hyb_dc_test").outputMode("append").start()
    try {
      input.addData(rows.head)
      q.processAllAvailable()
      assert(spark.table("hyb_dc_test").count() == 2)
      input.addData(rows(1), rows(2))
      q.processAllAvailable()
      val streamed = spark.table("hyb_dc_test").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(streamed == got)
      // the whole gate is stateless: no state store operators at all
      assert(q.lastProgress.stateOperators.isEmpty,
        "hybridDecontaminateFlags must keep no streaming state")
    } finally q.stop()
  }

  test("decontaminateGate: batch form equals the exact batch complement") {
    import graft.operators.Decontaminate
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "completely unrelated words in this training document here"),
      // contains an eval 3-gram ("quick brown fox")
      (2L, "someone wrote the quick brown fox jumps right into the corpus"),
      (3L, "short doc"), // < 3 tokens of shingle: unflaggable => clean
      (4L, "pack my box with five dozen liquor jugs and more text"),
      (5L, "another clean document with its own distinct vocabulary")
    ).toDF("doc_id", "text")

    val kept = Streaming.decontaminateGate(
      spark, corpus, "doc_id", "text", evalSet, "text", n = 3)
    assert(kept.columns.toSeq ==
      Seq("doc_id", "text", "n_shingles", "n_shared", "contamination"))
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    // flagged by the batch operator == dropped by the gate
    val flagged = Decontaminate.ngramOverlap(corpus, evalSet, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged == Set(2L, 4L))
    assert(keptIds == Set(1L, 3L, 5L))
    // audit columns: clean docs report 0 shared; zero-shingle doc is (0,0,0.0)
    val r3 = kept.filter($"doc_id" === 3L)
      .select("n_shingles", "n_shared", "contamination").head()
    assert(r3.getLong(0) == 0 && r3.getLong(1) == 0 && r3.getDouble(2) == 0.0)
  }

  test("decontaminateGate: a cap past the largest collectable array fails up front") {
    val evalSet = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val corpus = Seq((1L, "alpha beta gamma one")).toDF("doc_id", "text")
    // a larger cap would let the capped collect truncate an oversized
    // eval set and still pass the size guard
    val e = intercept[IllegalArgumentException] {
      Streaming.decontaminateGate(spark, corpus, "doc_id", "text", evalSet,
        "text", n = 3, maxExactHashes = Int.MaxValue.toLong)
    }
    assert(e.getMessage.contains("maxExactHashes"), e.getMessage)
  }

  test("decontaminateGate: nonzero threshold keeps lightly-contaminated docs") {
    val evalSet = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    // doc 1: 1 shared shingle of 8 => exact ratio 0.125
    val corpus = Seq(
      (1L, "alpha beta gamma one two three four five six seven"),
      (2L, "alpha beta gamma alpha beta gamma seven")).toDF("doc_id", "text")
    val at01 = Streaming.decontaminateGate(
      spark, corpus, "doc_id", "text", evalSet, "text", n = 3,
      maxContamination = 0.1).select("doc_id").as[Long].collect().toSet
    val at02 = Streaming.decontaminateGate(
      spark, corpus, "doc_id", "text", evalSet, "text", n = 3,
      maxContamination = 0.13).select("doc_id").as[Long].collect().toSet
    assert(at01 == Set.empty[Long]) // 0.125 > 0.1: dropped
    assert(at02 == Set(1L))         // 0.125 <= 0.13: kept; doc 2 still out
  }

  test("lmGate streams: in-row scoring, fail-closed on unscorable docs") {
    import graft.operators.LangModel
    implicit val sqlCtx = spark.sqlContext
    // train on clean prose; the junk doc's bigrams are all unseen and
    // its unigrams unknown, so it scores far below the norm
    val train = (0L until 20L).map(i =>
      (i, "the cat sat on the mat and the dog ran in the park")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_lm_gate_").toString
    LangModel.buildLmIndex(train, "text", idx,
      minBigramCount = 1, minUnigramCount = 1)
    val input = MemoryStream[(Long, String)]
    val gated = Streaming.lmGate(spark,
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
      minAvgLogp = -2.0)
    assert(gated.isStreaming)
    val q = gated.selectExpr("doc_id").writeStream
      .format("memory").queryName("lm_gate_test").outputMode("append").start()
    try {
      input.addData(
        (1L, "the cat sat on the mat"),          // in-model: high score
        (2L, "zxq qzx xqz zqx qxz zzz"),          // junk: all unseen
        (3L, "single"))                           // < 2 tokens: fail closed
      q.processAllAvailable()
      val kept = spark.table("lm_gate_test").as[Long].collect().toSet
      assert(kept == Set(1L))
    } finally q.stop()
    // batch-unified: same keeps on the batch frame
    val batchKept = Streaming.lmGate(spark, Seq(
        (1L, "the cat sat on the mat"),
        (2L, "zxq qzx xqz zqx qxz zzz"),
        (3L, "single")).toDF("doc_id", "text"),
      "doc_id", "text", idx, minAvgLogp = -2.0)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept == Set(1L))
  }

  test("dsirGate streams: in-row ratio lookup, fail-closed, batch-unified") {
    import graft.operators.Dsir
    implicit val sqlCtx = spark.sqlContext
    val B = 256
    // raw = target-like prose + junk; target = the prose alone, so
    // prose grams carry positive log-ratios and junk grams negative
    val targetDocs = (0L until 10L).map(i =>
      (i, "the cat sat on the mat and the dog ran")).toDF("doc_id", "text")
    val rawDocs = targetDocs.unionByName((10L until 20L).map(i =>
      (i, "zxq qzx xqz zqx qxz zzz qqq")).toDF("doc_id", "text"))
    val ratio = Dsir.ratioArray(
      Dsir.ngramProfile(targetDocs, "text", B),
      Dsir.ngramProfile(rawDocs, "text", B), B)
    val input = MemoryStream[(Long, String)]
    val gated = Streaming.dsirGate(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", ratio, B,
      minAvgLogw = 0.0)
    assert(gated.isStreaming)
    val q = gated.selectExpr("doc_id").writeStream
      .format("memory").queryName("dsir_gate_test").outputMode("append").start()
    try {
      input.addData(
        (1L, "the cat sat on the mat"), // target-like: positive ratios
        (2L, "zxq qzx xqz zzz qqq"),    // junk: target-unseen grams
        (3L, "   "))                    // no grams: fail closed
      q.processAllAvailable()
      val kept = spark.table("dsir_gate_test").as[Long].collect().toSet
      assert(kept == Set(1L))
    } finally q.stop()
    // batch-unified: same keeps + scores on the batch frame
    val batch = Streaming.dsirGate(Seq(
        (1L, "the cat sat on the mat"),
        (2L, "zxq qzx xqz zzz qqq"),
        (3L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text", ratio, B, minAvgLogw = 0.0)
    assert(batch.select("doc_id").as[Long].collect().toSet == Set(1L))
    // and the gate's (n_ngrams, logw) match the batch scorer's
    val scored = Dsir.importanceScore(
      Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text"),
      "doc_id", "text",
      Dsir.ngramProfile(targetDocs, "text", B),
      Dsir.ngramProfile(rawDocs, "text", B), B)
    assertSameRows(batch.select("doc_id", "n_ngrams", "logw"), scored)
  }

  test("maintainer marker namespace survives checkpoint DELETION: new batches apply") {
    import graft.operators.Search
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_gen_idx_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gen_ck_").toString
    val in1 = MemoryStream[(Long, String)]
    val q1 = Streaming.maintain(IndexFamily.bm25("doc_id", "text", idx),
      in1.toDF().toDF("doc_id", "text"), ckpt)
    try { in1.addData((1L, "alpha beta")); q1.processAllAvailable() }
    finally q1.stop()
    // wipe the checkpoint (the standard remedy after corruption) and
    // restart at the SAME path: batch ids restart at 0, and a marker
    // namespace derived from the path alone would recognize b0 as
    // already applied — silently dropping the new generation's data.
    // The generation file dies with the checkpoint, so b0 of the new
    // generation gets a fresh namespace and APPLIES.
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val in2 = MemoryStream[(Long, String)]
    val q2 = Streaming.maintain(IndexFamily.bm25("doc_id", "text", idx),
      in2.toDF().toDF("doc_id", "text"), ckpt)
    try { in2.addData((2L, "gamma delta")); q2.processAllAvailable() }
    finally q2.stop()
    val served = Search.bm25SearchIndex(spark, idx, Seq("gamma"), k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(served == Set(2L))
    // and both generations' docs are live in one chain
    assert(Search.bm25SearchIndex(spark, idx, Seq("alpha"), k = 5)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("incomplete generation file (crashed writer debris) is reclaimed, not fatal") {
    import graft.operators.Search
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_genshort_idx_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_genshort_ck_").toString
    // simulate the legacy (pre-atomic-rename) failure: a writer that
    // crashed between create and write left a permanently EMPTY
    // generation file — every query start used to spin out and throw
    val p = new org.apache.hadoop.fs.Path(ckpt, "_graft_marker_generation")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
    val in = MemoryStream[(Long, String)]
    val q = Streaming.maintain(IndexFamily.bm25("doc_id", "text", idx),
      in.toDF().toDF("doc_id", "text"), ckpt)
    try { in.addData((1L, "alpha beta")); q.processAllAvailable() }
    finally q.stop()
    // the debris was reclaimed and replaced by a COMPLETE 16-char id
    val sin = fs.open(p)
    val gen = try scala.io.Source.fromInputStream(sin, "UTF-8").mkString.trim
      finally sin.close()
    assert(gen.length == 16, s"generation file still incomplete: '$gen'")
    assert(Search.bm25SearchIndex(spark, idx, Seq("alpha"), k = 5)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("maintainDsirIndex: stream-built chain == one-shot profile, one marker per batch") {
    import graft.operators.Dsir
    implicit val sqlCtx = spark.sqlContext
    val B = 128
    val docs = (0L until 24L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} tok${i % 3} common word")).toDF("doc_id", "text")
    val target = docs.filter($"doc_id" % 4 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_dsir_maint_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dsir_ck_").toString
    val input = MemoryStream[(Long, String)]
    val q = Streaming.maintain(IndexFamily.dsir("text", idx,
      Some(IndexFamily.DsirTarget(target, "text", B))), input.toDF().toDF("doc_id", "text"), ckpt)
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      rows.grouped(8).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    // exactly one marker per non-empty micro-batch
    assert(graft.sources.IndexIO.segmentMarkers(spark, idx).size == 3)
    // the path-loading gate overload serves straight from the chain
    // and keeps exactly the docs the array form keeps
    val viaPath = Streaming.dsirGate(spark, docs, "doc_id", "text", idx,
      minAvgLogw = -10.0).count()
    assert(viaPath == 24)
    // chain-served scores == the one-shot profile's
    val (tp, rp) = Dsir.dsirIndexProfiles(spark, idx)
    assertSameRows(
      Dsir.importanceScore(docs, "doc_id", "text", tp, rp, B).orderBy("doc_id"),
      Dsir.importanceScoreAgainst(docs, "doc_id", "text", target, "text", B)
        .orderBy("doc_id"))
  }

  test("maintainDsirIndex: compactEvery collapses in-stream; markers + retraction survive") {
    import graft.operators.Dsir
    implicit val sqlCtx = spark.sqlContext
    val B = 128
    val docs = (0L until 24L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} tok${i % 3} common word")).toDF("doc_id", "text")
    val target = docs.filter($"doc_id" % 4 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_dsir_cmp_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dsir_cmpck_").toString
    val input = MemoryStream[(Long, String)]
    // compactEvery = 2: each append that grows the chain to 2 segments
    // collapses it — the stream crosses two compact boundaries
    val q = Streaming.maintain(IndexFamily.dsir("text", idx,
      Some(IndexFamily.DsirTarget(target, "text", B))), input.toDF().toDF("doc_id", "text"), ckpt,
      compactEvery = 2)
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      rows.grouped(8).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, idx).length == 1,
      "compactEvery must have collapsed the chain")
    // compaction is a full publish: all three applied-batch markers carried
    val markers = graft.sources.IndexIO.segmentMarkers(spark, idx)
    assert(markers.size == 3 &&
      Seq("b0-", "b1-", "b2-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
    // serving across the compacts == the one-shot profile
    val (tp, rp) = Dsir.dsirIndexProfiles(spark, idx)
    assertSameRows(
      Dsir.importanceScore(docs, "doc_id", "text", tp, rp, B).orderBy("doc_id"),
      Dsir.importanceScoreAgainst(docs, "doc_id", "text", target, "text", B)
        .orderBy("doc_id"))
    // a replayed batch is recognized THROUGH the compacts and skipped
    val v0 = graft.sources.IndexIO.resolve(spark, idx)
    val b1 = markers.find(_.startsWith("b1-")).get
    val applied = Streaming.applyIndexBatch(spark, idx, b1) {
      fail("bootstrap must not run on an existing index")
    } {
      Dsir.appendToDsirIndex(docs.limit(8), "text", idx)
    }
    assert(!applied)
    assert(graft.sources.IndexIO.resolve(spark, idx) == v0)
    // a takedown interleaves with the maintained chain: retract the last
    // batch, serve the remainder's profile, compact again — unchanged
    Dsir.deleteFromDsirIndex(docs.filter($"doc_id" >= 16L), "text", idx)
    val remaining = docs.filter($"doc_id" < 16L)
    val (_, rpDel) = Dsir.dsirIndexProfiles(spark, idx)
    assertSameRows(rpDel.orderBy("bucket"),
      Dsir.ngramProfile(remaining, "text", B).orderBy("bucket"))
    Dsir.compactDsirIndex(spark, idx)
    val (_, rpCmp) = Dsir.dsirIndexProfiles(spark, idx)
    assertSameRows(rpCmp.orderBy("bucket"),
      Dsir.ngramProfile(remaining, "text", B).orderBy("bucket"))
    assert(graft.sources.IndexIO.segmentMarkers(spark, idx) == markers,
      "the standalone compact must carry the markers too")
  }

  test("maintainDsirIndexCdc: retraction change feed lands the live snapshot's profile") {
    import graft.operators.Dsir
    implicit val sqlCtx = spark.sqlContext
    val B = 128
    def text(i: Long, stale: Boolean) =
      s"tok${i % 7} tok${i % 5} tok${i % 3} common word" +
        (if (stale) " stale revision" else "")
    val live = (0L until 24L).map(i => (i, text(i, stale = false)))
    val docs = live.toDF("doc_id", "text")
    val target = docs.filter($"doc_id" % 4 === 0)
    // old snapshot: %5 docs missing, %7 stale, two retired extras
    val old = live.filter(_._1 % 5 != 0)
      .map { case (i, _) => (i, text(i, stale = i % 7 == 0)) } ++
      Seq((100L, "retired doc one entirely"), (101L, "retired doc two entirely"))
    val oldMap = old.toMap
    val idx = java.nio.file.Files.createTempDirectory("graft_dsir_cdc_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dsir_cdcck_").toString
    val input = MemoryStream[(Long, String, String, String)]
    val q = Streaming.maintainCdc(IndexFamily.dsir("text", idx,
      Some(IndexFamily.DsirTarget(target, "text", B))),
      input.toDF().toDF("doc_id", "status", "text", "old_text"), "status", ckpt, compactEvery = 3)
    try {
      // a delete-only FIRST batch drops (rows never profiled)
      input.addData((999L, "removed", null: String, "never indexed text"))
      q.processAllAvailable()
      assert(!graft.sources.IndexIO.exists(spark, idx))
      // bootstrap from the old snapshot
      input.addData(old.map { case (i, t) => (i, "added", t, null: String) }: _*)
      q.processAllAvailable()
      // the diff: stale %7 docs changed, %5 docs added, retired removed
      val liveMap = live.toMap
      val feed =
        live.filter(_._1 % 5 == 0).map { case (i, t) => (i, "added", t, null: String) } ++
        live.filter(i => i._1 % 7 == 0 && i._1 % 5 != 0)
          .map { case (i, t) => (i, "changed", t, oldMap(i)) } ++
        Seq(100L, 101L).map(i => (i, "removed", null: String, oldMap(i)))
      input.addData(feed: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the summed chain == the live corpus's one-shot raw profile,
    // bit-for-bit (negative retraction segments subtract exactly)
    val (_, rp) = Dsir.dsirIndexProfiles(spark, idx)
    assertSameRows(rp.orderBy("bucket"),
      Dsir.ngramProfile(docs, "text", B).orderBy("bucket"))
    // and scoring serves the one-shot claim
    assertSameRows(
      Dsir.importanceScore(docs, "doc_id", "text",
        Dsir.dsirIndexProfiles(spark, idx)._1, rp, B).orderBy("doc_id"),
      Dsir.importanceScoreAgainst(docs, "doc_id", "text", target, "text", B)
        .orderBy("doc_id"))
  }

  test("maintainDsirIndexByGroup: grouped chain == one-shot; compactEvery; markers") {
    import graft.operators.Dsir
    implicit val sqlCtx = spark.sqlContext
    val B = 128
    val docs = (0L until 24L).map(i =>
      (i, if (i % 2 == 0) "en" else "es",
        s"tok${i % 7} tok${i % 5} tok${i % 3} common word"))
      .toDF("doc_id", "lang", "text")
    val target = docs.filter($"doc_id" % 4 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_dsir_gm_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dsir_gmck_").toString
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.maintain(IndexFamily.dsirByGroup("text", "lang", idx,
      Some(IndexFamily.DsirTarget(target, "text", B)), "lang"),
      input.toDF().toDF("doc_id", "lang", "text"), ckpt, compactEvery = 2)
    try {
      val rows = docs.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
      rows.grouped(8).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.sources.IndexIO.segments(spark, idx).length == 1,
      "compactEvery must have collapsed the grouped chain")
    val markers = graft.sources.IndexIO.segmentMarkers(spark, idx)
    assert(markers.size == 3 &&
      Seq("b0-", "b1-", "b2-").forall(p => markers.exists(_.startsWith(p))),
      s"unexpected markers $markers")
    // stream-built grouped chain serves the one-shot per-group scores
    val (tp, rp) = Dsir.dsirIndexProfilesByGroup(spark, idx)
    assertSameRows(
      Dsir.importanceScoreByGroup(docs, "doc_id", "text", "lang", tp, rp, B)
        .orderBy("doc_id"),
      Dsir.importanceScoreByGroup(docs, "doc_id", "text", "lang",
        Dsir.ngramProfileByGroup(target, "text", "lang", B),
        Dsir.ngramProfileByGroup(docs, "text", "lang", B), B)
        .orderBy("doc_id"))
    // a replayed batch is recognized through the compacts and skipped
    val v0 = graft.sources.IndexIO.resolve(spark, idx)
    val b1 = markers.find(_.startsWith("b1-")).get
    val applied = Streaming.applyIndexBatch(spark, idx, b1) {
      fail("bootstrap must not run on an existing index")
    } {
      Dsir.appendToDsirIndexByGroup(docs.limit(8), "text", "lang", idx)
    }
    assert(!applied)
    assert(graft.sources.IndexIO.resolve(spark, idx) == v0)
  }

  test("dsirGateByGroup: stateless per-group gate runs on a real stream") {
    import graft.operators.Dsir
    implicit val sqlCtx = spark.sqlContext
    val B = 128
    val docs = Seq(
      (1L, "en", "alpha beta gamma alpha"),
      (2L, "en", "alpha beta delta"),
      (3L, "es", "uno dos tres uno"),
      (4L, "es", "uno dos cuatro"),
      (5L, "fr", "je ne sais pas")).toDF("doc_id", "lang", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_dsir_ggate_").toString
    Dsir.buildDsirIndexByGroup(docs.filter($"doc_id" % 2 === 1 && $"lang" =!= "fr"),
      "text", "lang", docs.filter($"lang" =!= "fr"), "text", "lang", B, idx)
    val input = MemoryStream[(Long, String, String)]
    val gated = Streaming.dsirGateByGroup(spark,
      input.toDF().toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", idx, minAvgLogw = -10.0)
    assert(gated.isStreaming)
    val q = gated.select("doc_id").writeStream
      .format("memory").queryName("dsir_ggate_test").outputMode("append").start()
    try {
      input.addData(docs.collect().toSeq.map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))))
      q.processAllAvailable()
      val kept = spark.table("dsir_ggate_test").collect().map(_.getLong(0)).toSet
      // en/es rows pass the permissive cut; the fr row's group is
      // unknown to the model and FAILS CLOSED
      assert(kept == Set(1L, 2L, 3L, 4L), s"kept $kept")
    } finally q.stop()
  }

  test("dedupAgainstIvfIndex streams: in-row cell choice, stateless append") {
    import graft.operators.SimilaritySearch
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array(10.0, 0, 0, 0), Array(0, 10.0, 0, 0), Array(0, 0, 10.0, 0))
    val corpus = (0 until 60).map { i =>
      (i.toLong, centers(i % 3).map(_ + rnd.nextGaussian() * 0.3).toSeq)
    }.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_gate_").toString
    SimilaritySearch.buildIvfIndex(corpus, "vec_id", "embedding", idx,
      nCentroids = 3, iters = 4)
    val input = MemoryStream[(Long, Seq[Double])]
    val gated = SimilaritySearch.dedupAgainstIvfIndex(spark, idx,
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      threshold = 0.9, nProbe = 1)
    assert(gated.isStreaming)
    val q = gated.selectExpr("id_left", "id_right").writeStream
      .format("memory").queryName("ivf_gate_test").outputMode("append").start()
    try {
      input.addData(
        (100L, centers(0).toSeq),                       // near-dup of cluster 0
        (101L, Seq(5.0, -5.0, 5.0, -5.0)))              // far from everything
      q.processAllAvailable()
      val got = spark.table("ivf_gate_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.nonEmpty && got.forall(_._1 == 100L))
      // every emitted pair is a true near-dup: exact batch join agrees
      val batchPairs = SimilaritySearch.dedupAgainstIvfIndex(spark, idx,
          Seq((100L, centers(0).toSeq)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, nProbe = 3)
        .select("id_left", "id_right").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.subsetOf(batchPairs))
    } finally q.stop()
  }

  test("self-maintaining index: stream appends its survivors per batch == batch build") {
    // the full live-crawl write path: gate the stream, then each
    // micro-batch APPENDS its surviving docs to the minhash index via
    // foreachBatch + appendToMinhashIndex — the index that future
    // batches (and the batch engine) dedup against maintains itself
    // from the stream, and ends EQUAL to building it from the union in
    // one batch job.
    import graft.operators.{Decontaminate, Dedup}
    implicit val sqlCtx = spark.sqlContext
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val seed = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val idxStream = java.nio.file.Files.createTempDirectory("graft_selfmaint_s_").toString
    val idxBatch = java.nio.file.Files.createTempDirectory("graft_selfmaint_b_").toString
    Dedup.buildMinhashIndex(seed, "doc_id", "text", idxStream, n = 3)
    val input = MemoryStream[(Long, String)]
    val gated = Streaming.decontaminateGate(spark,
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", evalSet, "text", n = 3)
    val q = gated.select("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Dedup.appendToMinhashIndex(batch, "doc_id", "text", idxStream)
      }
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "one two three four five six seven eight nine ten"),
        (2L, "carries the quick brown fox jumps along so it must be dropped"))
      q.processAllAvailable()
      input.addData(
        (3L, "fresh unrelated text words entirely different here now"))
      q.processAllAvailable()
    } finally q.stop()
    // batch-built reference over seed + the CLEAN stream docs
    val cleanUnion = seed.union(Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (3L, "fresh unrelated text words entirely different here now")
    ).toDF("doc_id", "text"))
    Dedup.buildMinhashIndex(cleanUnion, "doc_id", "text", idxBatch, n = 3)
    // identical dedup behavior from both indexes on fresh probes: near-
    // dups of every clean doc hit, the contaminated doc was never indexed
    val probes = Seq(
      (21L, "one two three four five six seven eight nine ELEVEN"),
      (22L, "fresh unrelated text words entirely different here NOW TOO"),
      (23L, "carries the quick brown fox jumps along so it must be dropped"),
      (24L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    def hits(idx: String) = Dedup.dedupAgainstMinhashIndex(
        spark, probes, "doc_id", "text", idx, threshold = 0.5)
      .select("id_left", "id_right").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromStream = hits(idxStream)
    assert(fromStream == hits(idxBatch))
    assert(fromStream.contains((21L, 1L)) && fromStream.contains((24L, 10L)))
    assert(!fromStream.exists(_._2 == 2L)) // gated doc never entered the index
  }

  test("decontaminateGateFromIndex: build/append chain == frame-form gate") {
    import graft.operators.Decontaminate
    val evalA = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val evalB = Seq((101L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "completely unrelated words in this training document here"),
      (2L, "someone wrote the quick brown fox jumps right into the corpus"),
      (4L, "pack my box with five dozen liquor jugs and more text"),
      (5L, "another clean document with its own distinct vocabulary")
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_eval_idx_").toString
    Decontaminate.buildEvalIndex(evalA, "text", idx, n = 3)
    // before the append, only evalA's shingles gate: doc 4 passes
    val before = Streaming.decontaminateGateFromIndex(
      spark, corpus, "doc_id", "text", idx)
      .select("doc_id").as[Long].collect().toSet
    assert(before == Set(1L, 4L, 5L))
    Decontaminate.appendToEvalIndex(evalB, "text", idx)
    val after = Streaming.decontaminateGateFromIndex(
      spark, corpus, "doc_id", "text", idx)
      .select("doc_id").as[Long].collect().toSet
    // chain == the frame form over the union
    val direct = Streaming.decontaminateGate(spark, corpus, "doc_id", "text",
      evalA.union(evalB), "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(after == direct && after == Set(1L, 5L))
  }

  test("deleteFromEvalIndex: withdrawn benchmark stops gating, shared shingles survive") {
    import graft.operators.Decontaminate
    // evalA and evalB SHARE the 3-gram "the quick brown ..." span;
    // evalB additionally carries "pack my box ..." — withdrawing evalB
    // must stop gating docs that only hit evalB-unique shingles while
    // the shared ones keep protecting evalA (the count semantics; a
    // distinct-set delete would un-protect evalA too)
    val evalA = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val evalB = Seq(
      (101L, "pack my box with five dozen liquor jugs"),
      (102L, "the quick brown fox appears here too"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "completely unrelated words in this training document here"),
      (2L, "someone wrote the quick brown fox jumps right into the corpus"),
      (4L, "pack my box with five dozen liquor jugs and more text"),
      (5L, "another clean document with its own distinct vocabulary")
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_eval_del_").toString
    Decontaminate.buildEvalIndex(evalA, "text", idx, n = 3)
    Decontaminate.appendToEvalIndex(evalB, "text", idx)
    def keeps() = Streaming.decontaminateGateFromIndex(
      spark, corpus, "doc_id", "text", idx)
      .select("doc_id").as[Long].collect().toSet
    assert(keeps() == Set(1L, 5L)) // both benchmarks gate
    Decontaminate.deleteFromEvalIndex(evalB, "text", idx)
    // doc 4 (evalB-only hits) is clean again; doc 2 still gated by evalA
    assert(keeps() == Set(1L, 4L, 5L))
    // == the frame-form gate over the surviving suite
    val direct = Streaming.decontaminateGate(spark, corpus, "doc_id", "text",
      evalA, "text", n = 3).select("doc_id").as[Long].collect().toSet
    assert(keeps() == direct)
    // compaction preserves the post-takedown state and validates counts
    Decontaminate.compactEvalIndex(spark, idx)
    assert(graft.sources.IndexIO.segments(spark, idx).length == 1)
    assert(keeps() == direct)
    // withdrawing text the index never saw is caught loudly at compact
    Decontaminate.deleteFromEvalIndex(
      Seq((999L, "never indexed sentence with unique words entirely"))
        .toDF("doc_id", "text"), "text", idx)
    val err = intercept[Exception] {
      Decontaminate.compactEvalIndex(spark, idx)
    }
    assert(err.getMessage != null)
  }

  test("maintainEvalIndexCdc + syncEvalIndex: suite change feeds retract exactly") {
    import graft.operators.{Decontaminate, IndexSync}
    // suite v1: itemA stale revision + itemB (to be withdrawn);
    // suite v2: itemA's true text only. Both the batch sync and the
    // CDC stream must land a gate identical to a one-shot build on v2.
    val itemAOld = "the quick brown fox jumps over the lazy dog entirely"
    val itemANew = "the quick brown fox jumps over the lazy dog"
    val itemB = "pack my box with five dozen liquor jugs"
    val oldSuite = Seq((100L, itemAOld), (101L, itemB)).toDF("doc_id", "text")
    val newSuite = Seq((100L, itemANew)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "completely unrelated words in this training document here"),
      (2L, "someone wrote the quick brown fox jumps right into the corpus"),
      (4L, "pack my box with five dozen liquor jugs and more text")
    ).toDF("doc_id", "text")
    def keeps(p: String) = Streaming.decontaminateGateFromIndex(
      spark, corpus, "doc_id", "text", p)
      .select("doc_id").as[Long].collect().toSet
    val fresh = java.nio.file.Files.createTempDirectory("graft_evsync_f_").toString
    Decontaminate.buildEvalIndex(newSuite, "text", fresh, n = 3)
    val want = keeps(fresh)
    assert(want == Set(1L, 4L)) // itemB no longer gates doc 4

    // batch sync
    val synced = java.nio.file.Files.createTempDirectory("graft_evsync_").toString
    Decontaminate.buildEvalIndex(oldSuite, "text", synced, n = 3)
    assert(keeps(synced) == Set(1L))
    IndexSync.sync(IndexFamily.eval("text", synced), oldSuite, newSuite)
    assert(keeps(synced) == want)
    // no-change sync publishes nothing
    val before = graft.sources.IndexIO.segments(spark, synced).toSeq
    IndexSync.sync(IndexFamily.eval("text", synced), newSuite, newSuite)
    assert(graft.sources.IndexIO.segments(spark, synced).toSeq == before)

    // CDC stream: delete-only first batch no-ops, then bootstrap + diff
    val idx = java.nio.file.Files.createTempDirectory("graft_evcdc_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_evcdc_ck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String)]
    val q = Streaming.maintainCdc(IndexFamily.eval("text", idx, n = 3),
      input.toDF().toDF("doc_id", "status", "text", "old_text"), "status", ckpt, compactEvery = 2)
    try {
      input.addData((999L, "removed", null: String, "never indexed text"))
      q.processAllAvailable()
      assert(!graft.sources.IndexIO.exists(spark, idx))
      input.addData(
        (100L, "added", itemAOld, null: String),
        (101L, "added", itemB, null: String))
      q.processAllAvailable()
      input.addData(
        (100L, "changed", itemANew, itemAOld),
        (101L, "removed", null: String, itemB))
      q.processAllAvailable()
    } finally q.stop()
    assert(keeps(idx) == want)
    // the in-stream compact validated counts and collapsed the chain
    assert(graft.sources.IndexIO.segments(spark, idx).length == 1)
  }

  test("gate -> chunk composition streams statelessly (the ingest pipeline)") {
    import graft.operators.Chunking
    implicit val sqlCtx = spark.sqlContext
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val piped = Chunking.chunkByTokens(
      Streaming.decontaminateGate(spark, input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", evalSet, "text", n = 3).select("doc_id", "text"),
      "doc_id", "text", maxTokens = 4, overlap = 1)
    assert(piped.isStreaming)
    val q = piped.selectExpr("doc_id", "chunk_id", "n_tokens").writeStream
      .format("memory").queryName("ingest_pipe_test").outputMode("append").start()
    try {
      input.addData(
        (1L, "one two three four five six seven"),              // clean: 3 chunks
        (2L, "carries the quick brown fox jumps along with it")) // contaminated
      q.processAllAvailable()
      val got = spark.table("ingest_pipe_test").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // stride = 3: chunks cover tokens 1-4 and 4-7 (coverage complete)
      assert(got == Set((1L, 0, 4L), (1L, 1, 4L)))
    } finally q.stop()
  }

  test("decontaminateGate over a MemoryStream: stateless append, same keeps") {
    implicit val sqlCtx = spark.sqlContext
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val gated = Streaming.decontaminateGate(
      spark, input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      evalSet, "text", n = 3)
    assert(gated.isStreaming)
    val q = gated.selectExpr("doc_id").writeStream
      .format("memory").queryName("decon_gate_test").outputMode("append").start()
    try {
      input.addData(
        (1L, "completely unrelated words in this training document here"),
        (2L, "someone wrote the quick brown fox jumps right into the corpus"))
      q.processAllAvailable()
      assert(spark.table("decon_gate_test").as[Long].collect().toSet == Set(1L))
      input.addData((3L, "the lazy dog sat around all afternoon"))
      q.processAllAvailable()
      // "the lazy dog" is an eval shingle -> doc 3 dropped at ingest
      assert(spark.table("decon_gate_test").as[Long].collect().toSet == Set(1L))
    } finally q.stop()
  }

  test("packStream over a MemoryStream: carry-over bins == one-shot batch packing") {
    implicit val sqlCtx = spark.sqlContext
    // 30 docs, chunk width 10, maxLen 64: several chunks straddle the
    // micro-batch boundaries below, so open bins MUST carry over
    val rnd = new scala.util.Random(5)
    val docs = (0L until 30L).map(i => (i, 5L + rnd.nextInt(40)))
    val input = MemoryStream[(Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = Streaming.packStream(
        input.toDF().toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", maxLen = 64, chunk = expr("doc_id div 10")) { packed =>
        collected ++= packed.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        ()
      }
      .start()
    try {
      // id-ordered arrival in ragged batches (7/12/11 — none aligned
      // to the 10-doc chunk width)
      input.addData(docs.slice(0, 7))
      q.processAllAvailable()
      input.addData(docs.slice(7, 19))
      q.processAllAvailable()
      input.addData(docs.slice(19, 30))
      q.processAllAvailable()
      val batch = Packing.packGreedy(
          docs.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens",
          maxLen = 64, chunk = expr("doc_id div 10"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(collected.toSet == batch)
      // sanity: at least one bin actually straddled a batch boundary
      // (same (chunk, bin) written from two different micro-batches
      // would double-count if carry state were wrong — set equality
      // above catches it; this asserts the scenario occurred at all)
      val perChunkBins = collected.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
      assert(perChunkBins.values.exists(_ >= 1), "test data never filled a bin")
    } finally q.stop()
  }

  test("packSequencesState: state-store carry == one-shot batch packing") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val docs = (0L until 30L).map(i =>
      Streaming.PackDoc(chunk = i / 10, id = i, toks = 5L + rnd.nextInt(40)))
    val input = MemoryStream[Streaming.PackDoc]
    val q = Streaming.packSequencesState(input.toDS(), maxLen = 64)
      .writeStream.format("memory").queryName("pack_state_test")
      .outputMode("append").start()
    try {
      // id-ordered arrival in ragged batches (7/12/11 — none aligned
      // to the 10-doc chunk width), same scenario as the packStream
      // test but with the carry in the STATE STORE, not a driver map
      input.addData(docs.slice(0, 7)); q.processAllAvailable()
      input.addData(docs.slice(7, 19)); q.processAllAvailable()
      input.addData(docs.slice(19, 30)); q.processAllAvailable()
      val got = spark.table("pack_state_test").as[Streaming.PackedSeq]
        .collect().toSet
      val batch = Streaming.packSequencesState(docs.toDS(), maxLen = 64)
        .collect().toSet
      assert(got == batch)
      assert(got.exists(_.bin >= 1), "test data never filled a bin")
      // a bin genuinely straddled a micro-batch boundary: some (chunk,
      // bin) pair contains ids from both sides of an addData split
      val straddled = got.groupBy(p => (p.chunk, p.bin)).values.exists(g =>
        g.exists(_.id < 7) && g.exists(_.id >= 7) ||
          g.exists(_.id < 19) && g.exists(_.id >= 19))
      assert(straddled, "no bin straddled a batch boundary")
    } finally q.stop()
  }

  test("packSequencesState restart: open-bin state survives through the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    val docs = (0L until 24L).map(i =>
      Streaming.PackDoc(chunk = i / 12, id = i, toks = 5L + rnd.nextInt(40)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pack_ckpt_").toString
    val out = java.nio.file.Files.createTempDirectory("graft_pack_out_").toString
    // parquet sink: the memory sink refuses checkpoint recovery, and a
    // restartable file sink is the production shape anyway
    def start(input: MemoryStream[Streaming.PackDoc]) =
      Streaming.packSequencesState(input.toDS(), maxLen = 64)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    def written() = spark.read.parquet(out).as[Streaming.PackedSeq].collect().toSet
    val in1 = MemoryStream[Streaming.PackDoc]
    val q1 = start(in1)
    try {
      in1.addData(docs.slice(0, 13)); q1.processAllAvailable()
    } finally q1.stop()
    assert(written().nonEmpty)
    // a NEW query run over the same source + checkpoint: the open-bin
    // state must resume from the store, not restart at bin 0
    val q2 = start(in1)
    try {
      in1.addData(docs.slice(13, 24)); q2.processAllAvailable()
      val batch = Streaming.packSequencesState(docs.toDS(), maxLen = 64)
        .collect().toSet
      assert(written() == batch,
        "restarted query lost or reset the open-bin state")
    } finally q2.stop()
  }

  test("packSequencesState batch path == packGreedy; within-batch arrival order irrelevant") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val docs = (0L until 25L).map(i =>
      Streaming.PackDoc(chunk = i / 8, id = i, toks = 10L + rnd.nextInt(30)))
    val viaGreedy = Packing.packGreedy(
        docs.map(d => (d.id, d.toks, d.chunk)).toDF("id", "toks", "chunk"),
        "id", "toks", maxLen = 50, chunk = col("chunk"))
      .select("id", "chunk", "bin", "bin_fill")
      .as[Streaming.PackedSeq].collect().toSet
    assert(Streaming.packSequencesState(docs.toDS(), maxLen = 50)
      .collect().toSet == viaGreedy)
    // shuffled within ONE micro-batch: the group sorts by id before
    // packing, so the output is the same as sorted arrival
    val input = MemoryStream[Streaming.PackDoc]
    val q = Streaming.packSequencesState(input.toDS(), maxLen = 50)
      .writeStream.format("memory").queryName("pack_state_shuf")
      .outputMode("append").start()
    try {
      input.addData(rnd.shuffle(docs)); q.processAllAvailable()
      assert(spark.table("pack_state_shuf").as[Streaming.PackedSeq]
        .collect().toSet == viaGreedy)
    } finally q.stop()
  }

  test("CDC maintainer: a delete-only FIRST batch is a no-op, the next batch bootstraps") {
    import graft.operators.{Search, SimilaritySearch}
    // bm25 (untrained family) AND ivf (trained — k-means on zero rows
    // would throw): deletes before the index exists refer to rows
    // never indexed and must drop without bricking the stream
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_df_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_dfck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.maintainBm25IndexCdc(
      input.toDF().toDF("doc_id", "status", "text"),
      "doc_id", "status", "text", idx, ckpt)
    try {
      input.addData((9L, "removed", null.asInstanceOf[String]))
      q.processAllAvailable()
      assert(!graft.sources.IndexIO.exists(spark, idx),
        "a delete-only first batch must publish nothing")
      input.addData((1L, "added", "alpha beta"), (2L, "added", "gamma delta"))
      q.processAllAvailable()
    } finally q.stop()
    assert(Search.bm25SearchIndex(spark, idx, Seq("alpha"), k = 5)
      .select("doc_id").as[Long].collect().toSet == Set(1L))

    def vec(i: Int): Array[Float] = Array.tabulate(4)(d => (i * 0.3f + d))
    val idx2 = java.nio.file.Files.createTempDirectory("graft_cdc_df2_").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_cdc_df2ck_").toString
    val in2 = MemoryStream[(Long, String, Array[Float])]
    val q2 = Streaming.maintainCdc(IndexFamily.ivf("vec_id", "embedding", idx2, nCentroids = 2),
      in2.toDF().toDF("vec_id", "status", "embedding"), "status", ckpt2)
    try {
      in2.addData((9L, "removed", Array.empty[Float]))
      q2.processAllAvailable() // must not throw (no k-means on 0 rows)
      assert(!graft.sources.IndexIO.exists(spark, idx2))
      in2.addData((1 to 4).map(i => (i.toLong, "added", vec(i))): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val qs = Seq((1L, vec(1))).toDF("vec_id", "embedding")
    assert(SimilaritySearch.searchIvf(spark, idx2, qs, "vec_id", "embedding",
      k = 2, nProbe = 2).count() == 2)

    // round-16 ADVICE (medium): with compactEvery > 0 the no-op first
    // batch used to wedge the stream PERMANENTLY — nothing published,
    // then maybeCompact's segment listing threw on the missing index
    // before the micro-batch committed, so every restart replayed the
    // same batch into the same throw. The exists() guard must let the
    // batch commit; compaction then engages once the index is real.
    val idx3 = java.nio.file.Files.createTempDirectory("graft_cdc_df3_").toString
    val ckpt3 = java.nio.file.Files.createTempDirectory("graft_cdc_df3ck_").toString
    val in3 = MemoryStream[(Long, String, String)]
    val q3 = Streaming.maintainBm25IndexCdc(
      in3.toDF().toDF("doc_id", "status", "text"),
      "doc_id", "status", "text", idx3, ckpt3, compactEvery = 2)
    try {
      in3.addData((9L, "removed", null.asInstanceOf[String]))
      q3.processAllAvailable() // must not throw (was: IllegalStateException)
      assert(!graft.sources.IndexIO.exists(spark, idx3))
      in3.addData((1L, "added", "alpha beta"))
      q3.processAllAvailable()
      in3.addData((2L, "added", "beta gamma"))
      q3.processAllAvailable() // chain hits 2 segments -> compaction runs
    } finally q3.stop()
    assert(graft.sources.IndexIO.segments(spark, idx3).length == 1,
      "compaction cadence must still engage after the no-op first batch")
    assert(Search.bm25SearchIndex(spark, idx3, Seq("beta"), k = 5)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("maintainMinhashIndexCdc: changed docs re-sketch, removed leave the postings") {
    import graft.operators.Dedup
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_mh_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_mhck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.maintainCdc(IndexFamily.minhash("doc_id", "text", idx),
      input.toDF().toDF("doc_id", "status", "text"), "status", ckpt)
    try {
      input.addData(
        (1L, "added", "alpha beta gamma delta epsilon zeta"),
        (2L, "added", "one two three four five six seven"),
        (3L, "added", "stale old revision words that will change"))
      q.processAllAvailable()
      // doc 3 re-crawled as a near-dup of doc 1; doc 2 taken down
      input.addData(
        (3L, "changed", "alpha beta gamma delta epsilon eta"),
        (2L, "removed", null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    val markers = graft.sources.IndexIO.segmentMarkers(spark, idx)
    assert(markers.size == 2, s"unexpected markers $markers")
    // probes equal a fresh build on the live snapshot: doc 3's NEW
    // sketch matches the near-dup probe, its old text does not, and
    // the removed doc 2 never matches
    val live = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    val fresh = java.nio.file.Files.createTempDirectory("graft_cdc_mhf_").toString
    Dedup.buildMinhashIndex(live, "doc_id", "text", fresh)
    val probes = Seq(
      (101L, "alpha beta gamma delta epsilon eta"),
      (102L, "one two three four five six seven"),
      (103L, "stale old revision words that will change")).toDF("doc_id", "text")
    assertSameRows(
      Dedup.dedupAgainstMinhashIndex(spark, probes, "doc_id", "text", idx,
        threshold = 0.5),
      Dedup.dedupAgainstMinhashIndex(spark, probes, "doc_id", "text", fresh,
        threshold = 0.5))
    val hits = Dedup.dedupAgainstMinhashIndex(spark, probes, "doc_id", "text",
      idx, threshold = 0.5).select("id_left", "id_right")
      .as[(Long, Long)].collect().toSet
    assert(hits.contains((101L, 3L)) && hits.contains((101L, 1L)))
    assert(!hits.exists(_._2 == 2L), s"removed doc still matching: $hits")
    assert(!hits.exists(_._1 == 103L), s"stale sketch still live: $hits")
  }

  test("maintainSemDedupIndexCdc: re-embedded members re-resolve, takedowns drop") {
    import graft.operators.SimilaritySearch
    def vec(i: Int): Array[Float] =
      Array.tabulate(4)(d => (math.sin(i * 2.3 + d * 0.9) + 0.04 * i).toFloat)
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_sd_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_sdck_").toString
    implicit val sqlCtx = spark.sqlContext
    val boot = (1 to 10).map(i => (i.toLong, "added", vec(i)))
    val feed = Seq(
      (3L, "changed", vec(8).map(x => (x * 1.0001f))), // re-embedded near 8
      (5L, "removed", Array.empty[Float]),
      (11L, "added", vec(1).map(x => (x * 1.0001f)))) // near-dup of 1
    val input = MemoryStream[(Long, String, Array[Float])]
    val q = Streaming.maintainCdc(IndexFamily.semDedup("id", "embedding", idx, k = 2,
      threshold = 0.995), input.toDF().toDF("id", "status", "embedding"), "status", ckpt)
    try {
      input.addData(boot: _*); q.processAllAvailable()
      input.addData(feed: _*); q.processAllAvailable()
    } finally q.stop()
    // batch sibling: the SAME sequence through the batch lifecycle —
    // deterministic bootstrap trainer => identical frozen model =>
    // identical resolution
    val bidx = java.nio.file.Files.createTempDirectory("graft_cdc_sdb_").toString
    SimilaritySearch.buildSemDedupIndex(
      boot.map(t => (t._1, t._3)).toDF("id", "embedding"),
      "id", "embedding", bidx, k = 2, threshold = 0.995)
    IndexFamily.Stored.semDedup("id", bidx)
      .delete(Seq(3L, 5L).toDF("id"))
    SimilaritySearch.applySemDedupBatch(spark, bidx,
      feed.filter(t => t._2 != "removed").map(t => (t._1, t._3))
        .toDF("id", "embedding"), "id", "embedding")
    assertSameRows(
      SimilaritySearch.semDedupIndexStatus(spark, idx),
      SimilaritySearch.semDedupIndexStatus(spark, bidx))
  }

  test("maintainAHashIndexCdc: a re-encoded image tombstones its old hash") {
    import graft.multimodal.Multimodal
    def png(shade: Int, w: Int = 8): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, w, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until w) {
        val v = if ((x + y) % 2 == 0) shade else 255 - shade
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val dark = png(10); val mid = png(100); val light = png(240)
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_ah_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ahck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Array[Byte])]
    val q = Streaming.maintainCdc(IndexFamily.aHash("id", "img", idx),
      input.toDF().toDF("id", "status", "img"), "status", ckpt)
    try {
      input.addData((1L, "added", dark), (2L, "added", mid)); q.processAllAvailable()
      // image 1 re-encoded to a different render; image 2 taken down
      input.addData((1L, "changed", light), (2L, "removed", Array.empty[Byte]))
      q.processAllAvailable()
    } finally q.stop()
    val fresh = java.nio.file.Files.createTempDirectory("graft_cdc_ahf_").toString
    Multimodal.buildAHashIndex(Seq((1L, light)).toDF("id", "img"), "id", "img", fresh)
    val probes = Seq((10L, dark), (11L, mid), (12L, light)).toDF("id", "img")
    assertSameRows(
      Multimodal.dedupAgainstAHashIndex(spark, probes, "id", "img", idx,
        maxHamming = 4),
      Multimodal.dedupAgainstAHashIndex(spark, probes, "id", "img", fresh,
        maxHamming = 4))
  }

  test("maintainPqIndexCdc + maintainIvfSq8IndexCdc: change feeds land the snapshot") {
    import graft.operators.SimilaritySearch
    def vec(i: Int): Array[Float] =
      Array.tabulate(4)(d => (math.cos(i * 1.3 + d * 1.1) + 0.03 * i).toFloat)
    val boot = (1 to 8).map(i => (i.toLong, "added", vec(i)))
    val feed = Seq(
      (3L, "changed", vec(3).map(-_)),
      (6L, "removed", Array.empty[Float]))
    val liveRows = ((1 to 8).toSet - 6).toSeq.sorted
      .map(i => (i.toLong, if (i == 3) vec(3).map(-_) else vec(i)))
    val queries = Seq((1L, vec(1)), (3L, vec(3).map(-_))).toDF("vec_id", "embedding")
    implicit val sqlCtx = spark.sqlContext

    // PQ: frozen bootstrap codebooks encode the changed vector; the
    // batch sibling (build on boot adds, delete, append) must serve
    // identically — same codebooks, same codes, same ADC ranking
    val pqIdx = java.nio.file.Files.createTempDirectory("graft_cdc_pq_").toString
    val pqCk = java.nio.file.Files.createTempDirectory("graft_cdc_pqck_").toString
    val in1 = MemoryStream[(Long, String, Array[Float])]
    val q1 = Streaming.maintainCdc(IndexFamily.pq("vec_id", "embedding", pqIdx, m = 2, kCodes = 2),
      in1.toDF().toDF("vec_id", "status", "embedding"), "status", pqCk)
    try {
      in1.addData(boot: _*); q1.processAllAvailable()
      in1.addData(feed: _*); q1.processAllAvailable()
    } finally q1.stop()
    val pqB = java.nio.file.Files.createTempDirectory("graft_cdc_pqb_").toString
    SimilaritySearch.buildPqIndex(boot.map(t => (t._1, t._3))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", pqB, m = 2, kCodes = 2)
    IndexFamily.Stored.pq("vec_id", pqB)
      .delete(Seq(3L, 6L).toDF("vec_id"))
    SimilaritySearch.appendToPqIndex(Seq((3L, vec(3).map(-_)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", pqB)
    assertSameRows(
      SimilaritySearch.searchPqIndex(spark, pqIdx, queries, "vec_id", "embedding", k = 3),
      SimilaritySearch.searchPqIndex(spark, pqB, queries, "vec_id", "embedding", k = 3))

    // IVF-SQ8: exhaustive probes == exact brute force on the live
    // snapshot (per-vector quantization is centroid-independent)
    val sqIdx = java.nio.file.Files.createTempDirectory("graft_cdc_sq_").toString
    val sqCk = java.nio.file.Files.createTempDirectory("graft_cdc_sqck_").toString
    val in2 = MemoryStream[(Long, String, Array[Float])]
    val q2 = Streaming.maintainCdc(IndexFamily.ivfSq8("vec_id", "embedding", sqIdx, nCentroids = 2),
      in2.toDF().toDF("vec_id", "status", "embedding"), "status", sqCk)
    try {
      in2.addData(boot: _*); q2.processAllAvailable()
      in2.addData(feed: _*); q2.processAllAvailable()
    } finally q2.stop()
    val sqB = java.nio.file.Files.createTempDirectory("graft_cdc_sqb_").toString
    SimilaritySearch.buildIvfSq8Index(boot.map(t => (t._1, t._3))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", sqB, 2, 5)
    IndexFamily.Stored.ivfSq8("vec_id", sqB)
      .delete(Seq(3L, 6L).toDF("vec_id"))
    SimilaritySearch.appendToIvfSq8Index(spark, sqB,
      Seq((3L, vec(3).map(-_))).toDF("vec_id", "embedding"), "vec_id", "embedding")
    assertSameRows(
      SimilaritySearch.searchIvfSq8(spark, sqIdx, queries, "vec_id", "embedding",
        k = 4, nProbe = 2),
      SimilaritySearch.searchIvfSq8(spark, sqB, queries, "vec_id", "embedding",
        k = 4, nProbe = 2))
  }

  test("maintainBm25IndexCdc: a change batch stays within its Spark job budget, stats exact") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.operators.Search
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_jobs_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_jobsck_").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.maintainBm25IndexCdc(
      input.toDF().toDF("doc_id", "status", "text"),
      "doc_id", "status", "text", idx, ckpt)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val live = scala.collection.mutable.LinkedHashMap(
      1L -> "alpha beta gamma", 2L -> "delta epsilon", 3L -> "zeta eta theta",
      4L -> "iota kappa lambda mu", 5L -> "nu xi", 6L -> "omicron pi rho")
    try {
      input.addData(live.toSeq.map { case (i, t) => (i, "added", t) }: _*)
      q.processAllAvailable()
      org.apache.spark.graft.runtime.ListenerDrain.drain(sc)
      // one non-compacting batch: two adds, a delete and a changed doc
      val batch = Seq((7L, "added", "sigma tau"), (8L, "added", "upsilon phi chi psi"),
        (1L, "removed", null.asInstanceOf[String]), (2L, "changed", "delta omega"))
      sc.addSparkListener(counter)
      try {
        input.addData(batch: _*)
        q.processAllAvailable()
        org.apache.spark.graft.runtime.ListenerDrain.drain(sc)
      } finally sc.removeSparkListener(counter)
      live.remove(1L)
      live(2L) = "delta omega"
      live(7L) = "sigma tau"
      live(8L) = "upsilon phi chi psi"
    } finally q.stop()
    // classification is one checkpoint pass; the stats move on the driver
    assert(jobs.get <= 12, s"${jobs.get} Spark jobs for one change batch")
    val segs = graft.sources.IndexIO.segments(spark, idx)
    assert(segs.size == 3, s"tombstone + append segments expected: $segs")
    val stats = graft.sources.IndexIO.readRows(spark, s"${segs.last}/stats").head
    assert((stats.getLong(0), stats.getLong(1)) ==
      ((live.size.toLong, live.values.map(_.split(" ").length.toLong).sum)))
    val fresh = java.nio.file.Files.createTempDirectory("graft_cdc_jobsfresh_").toString
    Search.buildBm25Index(live.toSeq.toDF("doc_id", "text"), "doc_id", "text", fresh)
    for (terms <- Seq(Seq("delta"), Seq("alpha"), Seq("sigma", "omega")))
      assertSameRows(Search.bm25SearchIndex(spark, idx, terms, k = 10),
        Search.bm25SearchIndex(spark, fresh, terms, k = 10))
  }

  /** A BM25/lexical chain's live state: its live postings and lengths
    * rows (columns in name order), its stats, and its applied-batch
    * markers without the stream generation (`b<id>`).
    */
  private def cdcChainState(path: String)
      : (Set[Seq[String]], Set[Seq[String]], (Long, Long), Set[String]) = {
    import graft.sources.IndexIO
    val tombs = IndexIO.chainTable(spark, path, "tombstones")
    def live(t: String) = {
      val d = IndexIO.withoutTombstoned(IndexIO.chainTable(spark, path, t).get, tombs, "doc_id")
      rowSet(d.select(d.columns.sorted.map(col).toSeq: _*))
    }
    val stats = IndexIO.segments(spark, path).reverseIterator
      .flatMap(s => IndexIO.readRowsIfExists(spark, s"$s/stats")).next().head
    (live("postings"), live("lengths"), (stats.getLong(0), stats.getLong(1)),
      IndexIO.segmentMarkers(spark, path).map(_.takeWhile(_ != '-')))
  }

  /** `n_docs`/`total_dl` over the live texts (token-less docs excluded). */
  private def liveStats(live: Iterable[String]): (Long, Long) = {
    val dls = live.map(_.trim.split("\\s+").count(_.nonEmpty).toLong).filter(_ > 0)
    (dls.size.toLong, dls.sum)
  }

  private val none = null.asInstanceOf[String]

  /** CDC batches for `compactEvery = 3`, with whether each folds: a
    * batch folds when the chain length plus its segments (one for
    * deletes, one for adds) reaches 3.
    */
  private val foldBatches: Seq[(Seq[(Long, String, String)], Boolean)] = Seq(
    (1L to 6L).map(i => (i, "added", s"common words w$i and more w$i")) -> false,
    // a changed id, a removed id and a new one
    Seq((2L, "changed", "common words rewritten two"), (1L, "removed", none),
      (7L, "added", "seven common words")) -> true,
    Seq((4L, "removed", none)) -> false,
    // add-only compacting batch
    Seq((8L, "added", "eight words common words")) -> true,
    // an id removed and re-added in one batch
    Seq((3L, "removed", none), (3L, "added", "three common words again"),
      (9L, "added", "nine")) -> true,
    Seq((10L, "added", "ten common words")) -> false,
    // delete-only compacting batch
    Seq((5L, "removed", none)) -> true,
    // a token-less add: delete-then-append publishes no append segment
    // (the marker gets a segment of its own); the fold counts it and
    // compacts
    Seq((6L, "removed", none), (11L, "added", "   ")) -> true)

  /** Feed [[foldBatches]] to `maintain` with `compactEvery = 3` and, in
    * lockstep, to a maintainer that never compacts on its own, compacted
    * after each batch on the same cadence — the delete, append, then
    * compact sequence. Both land the same live rows, stats and markers
    * after every batch, and serve the same results.
    */
  private def foldMatchesDeleteAppendCompact(
      maintain: (org.apache.spark.sql.DataFrame, String, String, Int) =>
        org.apache.spark.sql.streaming.StreamingQuery,
      serve: Seq[String => org.apache.spark.sql.DataFrame]): Unit = {
    import graft.operators.Search
    import graft.sources.IndexIO
    implicit val sqlCtx = spark.sqlContext
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (idx, ref) = (tmp("graft_fold_"), tmp("graft_fold_ref_"))
    val in1 = MemoryStream[(Long, String, String)]
    val in2 = MemoryStream[(Long, String, String)]
    val q1 = maintain(in1.toDF().toDF("doc_id", "status", "text"), idx, tmp("graft_fold_ck_"), 3)
    val q2 = maintain(in2.toDF().toDF("doc_id", "status", "text"), ref, tmp("graft_fold_rck_"), 0)
    val live = scala.collection.mutable.Map.empty[Long, String]
    try for (((batch, folds), i) <- foldBatches.zipWithIndex) {
      val before = IndexIO.versions(spark, idx).toSet
      in1.addData(batch: _*)
      q1.processAllAvailable()
      in2.addData(batch: _*)
      q2.processAllAvailable()
      if (IndexIO.segments(spark, ref).length >= 3) Search.compactBm25Index(spark, ref)
      batch.foreach { case (id, st, _) => if (st != "added") live.remove(id) }
      batch.foreach { case (id, st, t) => if (st != "removed") live(id) = t }
      if (folds) {
        assert((IndexIO.versions(spark, idx).toSet -- before).size == 1,
          s"batch $i: a folded batch publishes one version")
        assert(IndexIO.segments(spark, idx).length == 1, s"batch $i")
      }
      val (got, want) = (cdcChainState(idx), cdcChainState(ref))
      assert(got._1 == want._1, s"batch $i: live postings")
      assert(got._2 == want._2, s"batch $i: live lengths")
      assert(got._3 == want._3 && got._3 == liveStats(live.values), s"batch $i: stats")
      assert(got._4 == (0 to i).map(j => s"b$j").toSet, s"batch $i: markers ${got._4}")
      assert(want._4 == got._4, s"batch $i: markers ${want._4}")
    } finally { q1.stop(); q2.stop() }
    assert(live.keySet == Set(2L, 3L, 7L, 8L, 9L, 10L, 11L))
    for (f <- serve) assertSameRows(f(idx), f(ref))
  }

  test("CDC fold: BM25 folded compaction == delete, append, then compact") {
    import graft.operators.Search
    foldMatchesDeleteAppendCompact(
      (df, path, ck, every) => Streaming.maintainBm25IndexCdc(df, "doc_id", "status",
        "text", path, ck, compactEvery = every),
      Seq(Seq("common"), Seq("words", "rewritten"), Seq("three", "nine"), Seq("w6"))
        .map(t => (p: String) => Search.bm25SearchIndex(spark, p, t, k = 10)))
  }

  test("CDC fold: lexical folded compaction == delete, append, then compact") {
    import graft.operators.Search
    foldMatchesDeleteAppendCompact(
      (df, path, ck, every) => Streaming.maintainCdc(IndexFamily.lexical("doc_id", "text", path),
        df, "status", ck, compactEvery = every),
      Seq[String => org.apache.spark.sql.DataFrame](
        p => Search.bm25SearchIndex(spark, p, Seq("common", "again"), k = 10),
        p => Search.phraseSearchIndex(spark, p, Seq("common", "words"), k = 10),
        p => Search.phraseSearchIndex(spark, p, Seq("words", "rewritten", "two"), k = 10)))
  }

  test("CDC fold: a replayed folded batch is skipped") {
    import graft.sources.IndexIO
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_fold_replay_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fold_replayck_").toString
    val input = MemoryStream[(Long, String, String)]
    def start() = Streaming.maintainBm25IndexCdc(input.toDF().toDF("doc_id", "status", "text"),
      "doc_id", "status", "text", idx, ckpt, compactEvery = 3)
    val q = start()
    try {
      input.addData((1L to 4L).map(i => (i, "added", s"doc $i text")): _*)
      q.processAllAvailable()
      input.addData((1L, "removed", none), (5L, "added", "doc five"))
      q.processAllAvailable() // 1 + 2 segments: folds
    } finally q.stop()
    assert(IndexIO.segments(spark, idx).length == 1)
    val v = IndexIO.currentVersionId(spark, idx)
    val state = cdcChainState(idx)
    // forget that batch 1 committed: the restarted query runs it again
    val fs = new org.apache.hadoop.fs.Path(ckpt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (f <- Seq("commits/1", "commits/.1.crc"))
      fs.delete(new org.apache.hadoop.fs.Path(ckpt, f), false)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.recentProgress.exists(p => p.batchId == 1L && p.numInputRows > 0),
      "batch 1 was not replayed")
    assert(IndexIO.currentVersionId(spark, idx) == v, "the replayed batch published")
    assert(cdcChainState(idx) == state)
    assert(state._3 == liveStats(Seq("doc 2 text", "doc 3 text", "doc 4 text", "doc five")))
  }

  test("CDC: a replayed batch whose adds are all token-less publishes nothing") {
    import graft.sources.IndexIO
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_cdc_tokenless_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_tokenlessck_").toString
    val input = MemoryStream[(Long, String, String)]
    def start() = Streaming.maintainBm25IndexCdc(input.toDF().toDF("doc_id", "status", "text"),
      "doc_id", "status", "text", idx, ckpt)
    val q = start()
    try {
      input.addData((1L to 3L).map(i => (i, "added", s"doc $i text")): _*)
      q.processAllAvailable()
      // the delete publishes; the token-less add does not
      input.addData((1L, "removed", none), (4L, "added", "   "))
      q.processAllAvailable()
    } finally q.stop()
    val v = IndexIO.currentVersionId(spark, idx)
    val state = cdcChainState(idx)
    assert(state._4 == Set("b0", "b1"), s"markers ${state._4}")
    // forget that batch 1 committed: the restarted query runs it again
    val fs = new org.apache.hadoop.fs.Path(ckpt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (f <- Seq("commits/1", "commits/.1.crc"))
      fs.delete(new org.apache.hadoop.fs.Path(ckpt, f), false)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.recentProgress.exists(p => p.batchId == 1L && p.numInputRows > 0),
      "batch 1 was not replayed")
    assert(IndexIO.currentVersionId(spark, idx) == v, "the replayed batch published")
    assert(cdcChainState(idx) == state)
    assert(state._3 == liveStats(Seq("doc 2 text", "doc 3 text")))
  }

  test("CDC fold: a failed pointer flip leaves the previous version live; the restart applies once") {
    import graft.operators.Search
    import graft.sources.IndexIO
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.flipfs.impl", classOf[FailingFlipFileSystem].getName)
    conf.set("fs.AbstractFileSystem.flipfs.impl", classOf[FailingFlipAbstractFileSystem].getName)
    implicit val sqlCtx = spark.sqlContext
    val idx = s"flipfs://${java.nio.file.Files.createTempDirectory("graft_fold_crash_")}/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fold_crashck_").toString
    val input = MemoryStream[(Long, String, String)]
    def start() = Streaming.maintainBm25IndexCdc(input.toDF().toDF("doc_id", "status", "text"),
      "doc_id", "status", "text", idx, ckpt, compactEvery = 3)
    val live = scala.collection.mutable.Map((1L to 4L).map(i => i -> s"doc $i text"): _*)
    FailingFlipFileSystem.failed.set(0)
    val q = start()
    try {
      input.addData(live.toSeq.map { case (i, t) => (i, "added", t) }: _*)
      q.processAllAvailable()
      val v0 = IndexIO.currentVersionId(spark, idx)
      val state0 = cdcChainState(idx)
      FailingFlipFileSystem.failFlips = true
      input.addData((1L, "removed", none), (2L, "changed", "doc two rewritten"),
        (5L, "added", "doc five"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      assert(FailingFlipFileSystem.failed.get == 1)
      assert(IndexIO.currentVersionId(spark, idx) == v0, "the failed publish flipped the pointer")
      assert(cdcChainState(idx) == state0)
    } finally { FailingFlipFileSystem.failFlips = false; q.stop() }
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    live.remove(1L); live(2L) = "doc two rewritten"; live(5L) = "doc five"
    val (_, lengths, stats, markers) = cdcChainState(idx)
    assert(IndexIO.segments(spark, idx).length == 1)
    assert(markers == Set("b0", "b1"))
    assert(lengths.map(_(1).toLong) == live.keySet.toSet) // columns (dl, doc_id)
    assert(stats == liveStats(live.values))
    val fresh = java.nio.file.Files.createTempDirectory("graft_fold_crashfresh_").toString
    Search.buildBm25Index(live.toSeq.toDF("doc_id", "text"), "doc_id", "text", fresh)
    for (terms <- Seq(Seq("doc"), Seq("two", "five"), Seq("text")))
      assertSameRows(Search.bm25SearchIndex(spark, idx, terms, k = 10),
        Search.bm25SearchIndex(spark, fresh, terms, k = 10))
  }

  test("CDC fold: a compacting batch of 100 adds and 100 removes stays within 10 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.sources.IndexIO
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft_fold_jobs_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fold_jobsck_").toString
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.maintainBm25IndexCdc(input.toDF().toDF("doc_id", "status", "text"),
      "doc_id", "status", "text", idx, ckpt, compactEvery = 5)
    def text(i: Long) = (0 until 30).map(j => s"t${(i * 31 + j * j) % 300}").mkString(" ")
    def change(b: Long) = (b * 100 until b * 100 + 100).map(i => (i, "removed", none)) ++
      (1000 + b * 100 until 1100 + b * 100).map(i => (i, "added", text(i)))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    try {
      input.addData((0L until 1000L).map(i => (i, "added", text(i))): _*)
      q.processAllAvailable()
      input.addData(change(0): _*)
      q.processAllAvailable() // 1 + 2 segments: applies
      assert(IndexIO.segments(spark, idx).length == 3)
      org.apache.spark.graft.runtime.ListenerDrain.drain(sc)
      sc.addSparkListener(counter)
      try {
        input.addData(change(1): _*)
        q.processAllAvailable() // 3 + 2 segments: folds
        org.apache.spark.graft.runtime.ListenerDrain.drain(sc)
      } finally sc.removeSparkListener(counter)
    } finally q.stop()
    assert(jobs.get <= 10, s"${jobs.get} Spark jobs for one compacting batch")
    assert(IndexIO.segments(spark, idx).length == 1)
    assert(cdcChainState(idx)._3 == liveStats((200L until 1200L).map(text)))
  }
}

/** The local file system under the `flipfs` scheme: while `failFlips` is
  * set, creating a publish's temporary pointer file (the step right
  * before the pointer flip) fails.
  */
class FailingFlipFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flipfs:///")
  override def getScheme: String = "flipfs"
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    // `._LATEST.<version>`, not the flip lock `._LATEST.flip_lock`
    if (FailingFlipFileSystem.failFlips && f.getName.startsWith("._LATEST.") &&
        !f.getName.endsWith("_lock")) {
      FailingFlipFileSystem.failed.incrementAndGet()
      throw new java.io.IOException(s"injected failure before the pointer flip: $f")
    }
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingFlipFileSystem {
  @volatile var failFlips = false
  val failed = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** [[FailingFlipFileSystem]] for FileContext callers (pointer flips). */
class FailingFlipAbstractFileSystem(
    uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      java.net.URI.create("flipfs:///"), new FailingFlipFileSystem, conf, "flipfs", false)
