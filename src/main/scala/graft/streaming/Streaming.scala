package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface (beyond the reference, which is purely
  * batch — SURVEY.md §2.4 "Streaming: none"). Transforms are written
  * against the unified Dataset API so the SAME function serves batch
  * backfill and the live stream — the core Structured Streaming design
  * point, and the property the driver's batch oracle checks.
  *
  * Scale notes: windowed aggregation shuffles on (window, key) with
  * map-side partial aggregation; watermarks bound state so a 100 TB/day
  * stream holds only `delay`-worth of window state per key. Sessionization
  * keeps one open session per user in the state store and emits closed
  * sessions incrementally (event-time timeout), never buffering a user's
  * history.
  */
object Streaming {

  /** Tumbling-window event counts with a watermark. On a batch frame the
    * watermark is eliminated by the analyzer and this is a plain windowed
    * aggregation — one function, both modes. Output columns:
    * `(window_start_us, <typeCol>, n)` with the window start as epoch
    * microseconds (engine-portable rendering).
    */
  def windowedEventCounts(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      windowDur: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    slidingEventCounts(events, tsCol, typeCol, windowDur, windowDur, watermarkDelay)

  /** Sliding-window variant: each event lands in `windowDur/slide`
    * overlapping windows (tumbling = slide == windowDur). State per key
    * stays bounded by the watermark exactly as in the tumbling case —
    * the overlap multiplies rows *entering* the aggregation, not state
    * retention.
    */
  def slidingEventCounts(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      windowDur: String,
      slide: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur, slide), col(typeCol))
      .agg(count(lit(1)).as("n"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col(typeCol), col("n"))

  /** Per-window APPROXIMATE distinct keys (HyperLogLog++) — "distinct
    * users per hour" on a live stream. The sketch is the point: exact
    * per-window `countDistinct` is unsupported in streaming (state =
    * the key set itself, unbounded per window); the HLL buffer is a
    * fixed few KB per window regardless of cardinality, merges
    * map-side, and its relative error is `rsd`. Batch/stream-unified:
    * watermark applied only to a streaming input, so the same call
    * faces the batch oracle and serves the stream.
    */
  def windowedDistinct(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowDur: String = "1 hour",
      rsd: Double = 0.01,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val in = if (events.isStreaming) events.withWatermark(tsCol, watermarkDelay)
      else events
    in.groupBy(window(col(tsCol), windowDur))
      .agg(approx_count_distinct(col(keyCol), rsd).as("approx_keys"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("approx_keys"))
  }

  /** Per-window EMBEDDING DRIFT vs a pinned reference snapshot — the
    * streaming form of [[graft.operators.Sketches.embeddingDrift]]:
    * each window's mean embedding (as exact 1e-7 grid-long SUMS — the
    * `1/(grid·n)` scales cancel in the cosine) against the reference
    * corpus's sum vector, so a shift in what's flowing through the
    * pipeline shows up as `cos_ref` falling BEFORE downstream ANN
    * indexes / classifier thresholds quietly degrade.
    *
    * Scale shape: ONE stateful aggregation — state per window is a
    * single `long[dim]` + a count (a [[graft.functions.GridSumAggregator]]
    * buffer, associative, merged map-side), watermark-bounded like any
    * windowed agg; the reference collapses to one dim-long sum vector
    * computed once on the batch side and shipped in the closure. The
    * cosine is evaluated per WINDOW row (post-aggregation, never
    * per-event): exact BigInt dot products, one correctly-rounded
    * double cast each, floored to the 1e-4 grid — bit-identical to the
    * batch monitor and the SQL oracle's HUGEINT arithmetic.
    *
    * Batch/stream-unified: watermark applied only to a streaming
    * input; the same call faces the DuckDB oracle and serves the
    * stream (MemoryStream ≡ batch suite-pinned). Output:
    * `(window_start_us, n, cos_ref)`.
    */
  def windowedEmbeddingDrift(
      stream: DataFrame,
      tsCol: String,
      vecCol: String,
      reference: DataFrame,
      refVecCol: String,
      windowDur: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val gridSum =
      org.apache.spark.sql.functions.udaf(new graft.functions.GridSumAggregator())
    val refRow = reference
      .agg(gridSum(col(refVecCol).cast("array<double>")).as("__s"),
        count(lit(1)).as("__n"))
      .collect()(0) // one row: the dim-bounded reference sum vector
    require(refRow.getLong(1) > 0, "windowedEmbeddingDrift: empty reference")
    val refSums: Array[Long] = refRow.getSeq[Long](0).toArray
    val cosRef = udf((s: Seq[Long]) =>
      graft.functions.GridSumAggregator.cosFloored(s, refSums.toSeq))
    val in =
      if (stream.isStreaming) stream.withWatermark(tsCol, watermarkDelay)
      else stream
    in.groupBy(window(col(tsCol), windowDur))
      .agg(gridSum(col(vecCol).cast("array<double>")).as("__sums"),
        count(lit(1)).as("n"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("n"),
        cosRef(col("__sums")).as("cos_ref"))
  }

  /** One user event (input shape of [[sessionize]]). */
  final case class UserEvent(user_id: Long, ts: Timestamp)

  /** One closed (or, in batch, trailing) session. */
  final case class Session(
      user_id: Long,
      session_start_us: Long,
      session_end_us: Long,
      n_events: Long)

  /** State-store record: the one open session per user. Public because
    * the state encoder's generated code must reach its accessors.
    */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)

  /** Gap-based sessionization: events of a user belong to one session
    * while consecutive gaps are <= `gapUs`.
    *
    * Streaming: `flatMapGroupsWithState` — closed sessions are emitted
    * as soon as a later event (or an event-time timeout) proves the gap;
    * the single open session per user lives in the state store with a
    * timeout at `last + gap`. The per-call sort buffer holds one user's
    * events from ONE micro-batch (trigger-bounded), never their history.
    *
    * Batch: a window plan — gap flags via `lag`, session ids via a
    * running sum, one aggregate. WindowExec sorts (user, ts) with the
    * external spillable sort, so a pathological single user with a
    * billion events never has to fit in an executor's memory (the
    * previous `mapGroups`-style implementation buffered `it.toArray`
    * per user). Both modes produce identical sessions on the same data,
    * which is what the driver's oracle checks.
    */
  def sessionize(
      events: Dataset[UserEvent],
      gapUs: Long,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    if (!events.isStreaming) {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("__us"))
      return events.toDF()
        .select(col("user_id"), unix_micros(col("ts")).as("__us"))
        // first event of a user: lag is null -> comparison null -> brk 0
        .withColumn("__brk",
          when(col("__us") - lag(col("__us"), 1).over(byUser) > gapUs, 1L)
            .otherwise(0L))
        .withColumn("__sid", sum(col("__brk")).over(byUser))
        .groupBy(col("user_id"), col("__sid"))
        .agg(
          min(col("__us")).as("session_start_us"),
          max(col("__us")).as("session_end_us"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
        .as[Session]
    }

    def process(
        userId: Long,
        it: Iterator[UserEvent],
        state: GroupState[OpenSession]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(Session(userId, s.startUs, s.lastUs, s.n))
      } else {
        // full microsecond precision: getTime() is only ms; the fractional
        // second lives in getNanos(). Bounded: one user, one micro-batch.
        val ts = it.map { e =>
          math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
        }.toArray.sorted
        var open = state.getOption.orNull
        val closed = Seq.newBuilder[Session]
        ts.foreach { t =>
          open match {
            case null => open = OpenSession(t, t, 1)
            case o if t < o.startUs - gapUs =>
              // late-but-within-watermark event from an earlier
              // micro-batch, more than a gap BEFORE the open session:
              // a separate earlier session. Emit it closed immediately
              // (bounded state keeps one open session per user)
              closed += Session(userId, t, t, 1)
            case o if t - o.lastUs <= gapUs =>
              // within a gap of the open session on either side: merge,
              // extending the start backwards for late out-of-order
              // events
              open = OpenSession(math.min(o.startUs, t), math.max(o.lastUs, t), o.n + 1)
            case o =>
              closed += Session(userId, o.startUs, o.lastUs, o.n)
              open = OpenSession(t, t, 1)
          }
        }
        if (open != null) {
          state.update(open)
          state.setTimeoutTimestamp(open.lastUs / 1000L + gapUs / 1000L)
        }
        closed.result().iterator
      }
    }

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(process)
  }

  /** Stream-stream band join — the streaming form of the reference's
    * fuzzy time join (pandance/pandance.py:22, timestamp case): match
    * rows of two streams whose event times lie within `tol` of each
    * other.
    *
    * Spark refuses stream-stream joins without an equality predicate —
    * and the bucketed rewrite that makes the batch band join scale
    * (graft.operators.FuzzyJoin) is exactly what provides one: bucket
    * `floor(epoch_us/tol)` as the equi-key (probe side exploded to
    * ±1 buckets), the time-range condition as the residual. Watermarks
    * on both sides plus the range condition let Spark expire join state,
    * so each side buffers only ~`tol + watermark` of rows regardless of
    * stream volume. The same function applied to batch frames is the
    * plain band join (watermarks analyzed away), which is how the
    * DuckDB oracle checks it.
    */
  def streamBandJoin(
      left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String,
      tol: java.time.Duration,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val tolUs = tol.toNanos / 1000L
    require(tolUs > 0, s"tolerance must be >= 1 microsecond, got $tol")
    val l = if (left.isStreaming) left.withWatermark(leftTs, watermarkDelay) else left
    val r = if (right.isStreaming) right.withWatermark(rightTs, watermarkDelay) else right
    val iv = expr(s"INTERVAL $tolUs MICROSECONDS")
    val lb = l.withColumn("__graft_sbl",
      graft.functions.LongMath.floorDiv(unix_micros(col(leftTs)), tolUs))
    val rBucket = graft.functions.LongMath.floorDiv(unix_micros(col(rightTs)), tolUs)
    val rb = r.withColumn("__graft_sbr",
      explode(array(rBucket - 1, rBucket, rBucket + 1)))
    lb.join(rb,
        col("__graft_sbl") === col("__graft_sbr") &&
          col(leftTs) >= col(rightTs) - iv &&
          col(leftTs) <= col(rightTs) + iv,
        "inner")
      .drop("__graft_sbl", "__graft_sbr")
  }

  /** One side's event for [[asOfJoin]]: the join key, the event time,
    * and an opaque payload HANDLE (row id). Only `(id, ts)` pairs enter
    * the state store — payloads are joined back by id downstream, so
    * state per key is bounded by `tol + watermark` worth of ids no
    * matter how wide the rows are.
    */
  final case class AsOfEvent(key: Long, ts: Timestamp, id: Long)

  /** Internal tagged union row of the two input streams. */
  final case class TaggedAsOf(key: Long, ts: Timestamp, id: Long, isRef: Boolean)

  /** One as-of match: the probe row and the latest reference row at or
    * before it (within tolerance), ts as epoch micros (engine-portable).
    */
  final case class AsOfMatch(
      key: Long, probe_id: Long, probe_us: Long, ref_id: Long, ref_us: Long)

  /** State-store record per key: pending probe and buffered reference
    * `(us, id)` pairs as primitive arrays (encoder-friendly, compact).
    */
  final case class AsOfState(
      refUs: Array[Long], refId: Array[Long],
      probeUs: Array[Long], probeId: Array[Long])

  /** Streaming as-of join (backward, within tolerance) — the streaming
    * form of the reference's merge_asof-style join
    * (pandance/pandance.py:22; batch form in graft.operators.AsOfJoin):
    * for each probe event, the LATEST reference event of the same key
    * with `ref.ts <= probe.ts` and `probe.ts - ref.ts <= tol` (ties on
    * ts broken by max id, deterministically). Inner semantics: probes
    * with no reference in range emit nothing.
    *
    * Streaming: tag + union the two streams, group by key, buffer ONLY
    * `(id, ts)` pairs in the state store. A probe is emitted exactly
    * when the watermark passes its event time — any reference that
    * could still beat the current best (out-of-order, within the
    * watermark delay) has provably arrived by then — and references
    * older than `watermark - tol` are evicted (no unemitted probe can
    * reach them). An event-time timeout flushes pending probes for keys
    * that receive no further traffic. State per key is bounded by the
    * watermark horizon + tolerance, independent of stream volume.
    *
    * Batch: the same semantics as one join + window plan (band join on
    * the bucket-free key equality, `row_number` over refs descending),
    * which is what the driver's DuckDB oracle checks.
    */
  def asOfJoin(
      probe: Dataset[AsOfEvent],
      ref: Dataset[AsOfEvent],
      tol: java.time.Duration,
      watermarkDelay: String = "10 minutes"): Dataset[AsOfMatch] = {
    val spark = probe.sparkSession
    import spark.implicits._
    val tolUs = tol.toNanos / 1000L
    require(tolUs > 0, s"tolerance must be >= 1 microsecond, got $tol")

    if (!probe.isStreaming && !ref.isStreaming) {
      import org.apache.spark.sql.expressions.Window
      val p = probe.toDF().select(col("key"),
        unix_micros(col("ts")).as("probe_us"), col("id").as("probe_id"))
      val r = ref.toDF().select(col("key").as("__rkey"),
        unix_micros(col("ts")).as("ref_us"), col("id").as("ref_id"))
      val w = Window.partitionBy(col("key"), col("probe_id"))
        .orderBy(col("ref_us").desc, col("ref_id").desc)
      return p.join(r,
          col("key") === col("__rkey") &&
            col("ref_us") <= col("probe_us") &&
            col("ref_us") >= col("probe_us") - tolUs)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("key"), col("probe_id"), col("probe_us"),
          col("ref_id"), col("ref_us"))
        .as[AsOfMatch]
    }

    def usOf(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    def process(
        key: Long,
        it: Iterator[TaggedAsOf],
        state: GroupState[AsOfState]): Iterator[AsOfMatch] = {
      val st = state.getOption.getOrElse(
        AsOfState(Array.empty, Array.empty, Array.empty, Array.empty))
      var refs = st.refUs.zip(st.refId)
      var probes = st.probeUs.zip(st.probeId)
      if (!state.hasTimedOut) {
        // bounded: one key's events from ONE micro-batch
        val (newRefs, newProbes) = it.toArray.partition(_.isRef)
        refs ++= newRefs.map(e => (usOf(e.ts), e.id))
        probes ++= newProbes.map(e => (usOf(e.ts), e.id))
      }
      // emission threshold: STRICTLY below the watermark — an event AT
      // the watermark is not yet final (Spark admits rows == watermark)
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (ready, pending) = probes.partition(_._1 < wmUs)
      val out = ready.sortBy(p => (p._1, p._2)).iterator.flatMap { case (pUs, pId) =>
        // latest ref at-or-before the probe within tol; ties -> max id
        var bestUs = Long.MinValue
        var bestId = Long.MinValue
        refs.foreach { case (rUs, rId) =>
          if (rUs <= pUs && pUs - rUs <= tolUs &&
              (rUs > bestUs || (rUs == bestUs && rId > bestId))) {
            bestUs = rUs; bestId = rId
          }
        }
        if (bestUs == Long.MinValue) Iterator.empty
        else Iterator.single(AsOfMatch(key, pId, pUs, bestId, bestUs))
      }.toVector
      // refs older than wm - tol can never match a pending/future probe
      // (all have ts >= wm); pending probes keep their full range alive
      val keepRefs = refs.filter(_._1 >= wmUs - tolUs)
      if (pending.isEmpty && keepRefs.isEmpty) state.remove()
      else {
        state.update(AsOfState(
          keepRefs.map(_._1), keepRefs.map(_._2),
          pending.map(_._1), pending.map(_._2)))
        if (pending.nonEmpty)
          // fire once the watermark passes the earliest pending probe
          state.setTimeoutTimestamp(pending.map(_._1).min / 1000L + 1L)
        else
          // refs-only state: expire when the eviction horizon passes the
          // newest ref (timeout must sit beyond the current watermark)
          state.setTimeoutTimestamp(
            math.max(refs.map(_._1).max + tolUs, wmUs + 1000L) / 1000L + 1L)
      }
      out.iterator
    }

    val tagged = probe.map(e => TaggedAsOf(e.key, e.ts, e.id, isRef = false))
      .unionByName(ref.map(e => TaggedAsOf(e.key, e.ts, e.id, isRef = true)))
    tagged.withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(process)
  }

  /** Batch/stream-unified EXACT dedup on a composite key: one row per
    * fingerprint (md5 of the injectively \u0001-joined key columns —
    * the same engine-portable fingerprint the batch Dedup uses). On a
    * batch frame this is a plain distinct; on a stream it is the
    * state-store dedup operator, and `boundState = true` (default)
    * uses `dropDuplicatesWithinWatermark` so a 100 TB/day stream keeps
    * only watermark-horizon state — the standard trade: a duplicate
    * arriving later than the watermark delay is re-emitted, exactly the
    * contract of within-watermark dedup.
    *
    * Output = fingerprint + the key columns + `tsCol` (the event-time
    * column must survive for the stream's watermark; duplicates agree
    * on every column EXCEPT possibly `tsCol`, so drop it downstream
    * when a fully deterministic projection is needed).
    */
  def exactDedup(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermarkDelay: String = "10 minutes",
      boundState: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    val marked = if (df.isStreaming) df.withWatermark(tsCol, watermarkDelay) else df
    // Injective key-tuple encoding. A naive concat collides distinct
    // tuples three ways: no separator merges ("ab","c") with ("a","bc");
    // a bare null token merges the string "NULL" with SQL NULL; and any
    // fixed marker scheme is still ambiguous against values that CONTAIN
    // the marker characters. Classic escaping closes all three (escape
    // char E = \u0002, separator S = \u0001):
    //   1. escape the escape char:  E -> E E
    //   2. escape the separator:    S -> E 's'
    //   3. SQL NULL -> the token E 'n'  (unreachable from any value:
    //      an escaped value's E chars always pair up or precede 's')
    // joined on S, then a RAW md5 -- deliberately NOT the case-folding,
    // whitespace-normalizing TextFunctions.fingerprint, which is meant
    // for document-body dedup and would silently merge "A" with "a"
    // when used on a key tuple. The oracle SQL mirrors this encoding
    // byte-for-byte via chr(1)/chr(2).
    val encoded = keyCols.map { c =>
      val s = col(c).cast("string")
      coalesce(
        replace(replace(s, lit("\u0002"), lit("\u0002\u0002")),
          lit("\u0001"), lit("\u0002s")),
        lit("\u0002n"))
    }
    val fp = md5(concat_ws("\u0001", encoded: _*))
    val keyed = marked.select(
      (fp.as("fingerprint") +: keyCols.map(col)) :+ col(tsCol): _*)
    if (df.isStreaming && boundState) keyed.dropDuplicatesWithinWatermark("fingerprint")
    else keyed.dropDuplicates("fingerprint")
  }

  /** One event for [[cappedPerWindow]]. */
  final case class CapEvent(key: Long, ts: Timestamp, id: Long)

  /** One kept row of [[cappedPerWindow]]. */
  final case class CappedRow(key: Long, window_start_us: Long, id: Long, ts_us: Long)

  /** State-store record: the <= n best (tsUs, id) pairs of one
    * (key, window). Public for the state encoder's generated code.
    */
  final case class CapState(kept: Seq[(Long, Long)])

  /** Streaming per-key rate cap: at most `n` events per key per tumbling
    * window, keeping the EARLIEST by (event time, id) — the ingestion-
    * side analog of [[graft.operators.Sampling.cappedPerGroup]] ("at
    * most N docs per source per hour"), with a deterministic, batch-
    * reproducible definition (event order, never arrival order).
    *
    * Streaming: `flatMapGroupsWithState` keyed by (key, window start).
    * State holds at most `n` (tsUs, id) pairs; each micro-batch merges
    * its events and re-truncates, so a key flooding a window costs n
    * longs of state, not its event count. Results emit ONLY when the
    * watermark passes the window end (event-time timeout) — a late
    * event inside the allowed delay can still displace a kept row, so
    * earlier emission would not be final.
    *
    * Batch: the same definition as one window-rank plan (rank by
    * (ts, id) within (key, window) <= n) — which is what the DuckDB
    * oracle checks.
    */
  def cappedPerWindow(
      events: Dataset[CapEvent],
      n: Int,
      windowDur: java.time.Duration,
      watermarkDelay: String = "10 minutes"): Dataset[CappedRow] = {
    require(n > 0, s"cap must be positive, got $n")
    val windowUs = windowDur.toNanos / 1000L
    require(windowUs > 0, s"window must be >= 1 microsecond, got $windowDur")
    val spark = events.sparkSession
    import spark.implicits._

    if (!events.isStreaming) {
      import org.apache.spark.sql.expressions.Window
      val us = unix_micros(col("ts"))
      val ws = graft.functions.LongMath.floorDiv(us, windowUs) * windowUs
      val w = Window.partitionBy(col("key"), col("window_start_us"))
        .orderBy(col("ts_us").asc, col("id").asc)
      return events.toDF()
        .select(col("key"), ws.as("window_start_us"), col("id"), us.as("ts_us"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n)
        .drop("__rn")
        .as[CappedRow]
    }

    def tsUs(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    def process(
        kw: (Long, Long),
        it: Iterator[CapEvent],
        state: GroupState[CapState]): Iterator[CappedRow] = {
      val (key, windowStartUs) = kw
      if (state.hasTimedOut) {
        val kept = state.get.kept
        state.remove()
        kept.iterator.map { case (t, id) => CappedRow(key, windowStartUs, id, t) }
      } else {
        val incoming = it.map(e => (tsUs(e.ts), e.id))
        val merged = (state.getOption.map(_.kept).getOrElse(Nil) ++ incoming)
          .sorted.take(n)
        state.update(CapState(merged))
        // fire when the watermark passes the window end; a window whose
        // end already trails the watermark (late-but-allowed data near
        // the horizon) must still set a FUTURE timeout or the state
        // store rejects it
        val endMs = math.floorDiv(windowStartUs + windowUs, 1000L)
        state.setTimeoutTimestamp(math.max(endMs, state.getCurrentWatermarkMs() + 1))
        Iterator.empty
      }
    }

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(e => (e.key, math.floorDiv(tsUs(e.ts), windowUs) * windowUs))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(process)
  }

  /** File-source stream over a directory of parquet drops — the
    * production shape (`readStream` on an arrival directory). Schema must
    * be fixed up front (streaming sources cannot infer).
    */
  /** Streaming near-dup gate against a persisted
    * [[graft.operators.Dedup.buildMinhashIndex]] index: each incoming
    * doc bands itself with the index's stored parameters, probes the
    * static postings, exact-verifies against the static sketches, and
    * emits `(id_left, id_right, intersection, size_left, size_right,
    * jaccard)` rows for every indexed near-duplicate — the ingest-time
    * dedup gate a live crawl needs, serving the SAME index the batch
    * path maintains.
    *
    * Entirely STATELESS: stream-static inner joins keep no state, and
    * exactly-once per pair comes from the first-shared-band anchor
    * (the sketches table stores each corpus doc's band-key array, so
    * the in-row comparison works) instead of a streaming aggregation —
    * no watermark, no state store, append mode. Works identically on a
    * batch frame (batch/stream unified like every transform here).
    */
  def dedupAgainstMinhashIndex(
      spark: SparkSession, stream: DataFrame, idCol: String, textCol: String,
      indexPath: String, threshold: Double = 0.6): DataFrame = {
    import graft.functions.TextFunctions
    // resolve the committed version ONCE at plan time: every micro-batch
    // re-lists files under these frozen segment dirs, so a concurrent
    // index rebuild/append (which publishes a sibling version and flips
    // _LATEST) can never tear the long-running gate mid-stream
    val vdir = graft.sources.IndexIO.resolve(spark, indexPath)
    // chainTable skips tombstone-only delete segments (they carry no
    // postings/sketches); deleted docs are filtered from the STATIC
    // sketches side, so the stream-static join stays stateless
    val tombs = graft.sources.IndexIO.chainTable(spark, indexPath, "tombstones")
    def table(name: String): DataFrame = {
      val data = graft.sources.IndexIO.chainTable(spark, indexPath, name).getOrElse(
        throw new IllegalStateException(s"index at $indexPath has no $name table"))
      if (name == "sketches")
        graft.sources.IndexIO.withoutTombstoned(data, tombs, "doc_id")
      else data.drop("__seg")
    }
    val meta = graft.sources.IndexIO.readTable(spark, s"$vdir/meta").head()
    val (n, numHashes, bands) =
      (meta.getAs[Int]("n"), meta.getAs[Int]("num_hashes"), meta.getAs[Int]("bands"))
    val sh = stream
      .select(col(idCol).as("__id"), TextFunctions.shingles(col(textCol), n).as("__s"))
      .filter(size(col("__s")) > 0)
      .select(col("__id"),
        array_sort(transform(col("__s"), s => xxhash64(s))).as("__sha"),
        graft.operators.Dedup.minhashBandKeys(numHashes, bands)(col("__s")).as("__bks"))
    val banded = sh.select(col("__id"), col("__sha"), col("__bks"),
      posexplode(col("__bks")).as(Seq("__band", "__bh")))
    val postings = table("postings")
    val sketches = table("sketches").select(
      col("doc_id").as("__rid"), col("sh").as("__shb"), col("bks").as("__rbks"))
    // first band the two signatures share — in-row anchor, no agg state
    val firstShared =
      array_position(zip_with(col("__bks"), col("__rbks"), (x, y) => x === y), true) - 1
    banded
      .join(postings, col("__band") === col("band") && col("__bh") === col("bh"))
      .join(sketches, col("doc_id") === col("__rid"))
      .filter(col("__band") === firstShared)
      .withColumn("intersection", size(array_intersect(col("__sha"), col("__shb"))).cast("long"))
      .withColumn("size_left", size(col("__sha")).cast("long"))
      .withColumn("size_right", size(col("__shb")).cast("long"))
      .withColumn("jaccard",
        col("intersection").cast("double") /
          (col("size_left") + col("size_right") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("__id").as("id_left"), col("doc_id").as("id_right"),
        col("intersection"), col("size_left"), col("size_right"), col("jaccard"))
  }

  /** Streaming benchmark-decontamination gate: drop documents that
    * share word n-grams with a held-out eval set AT INGEST, so a live
    * crawl never writes contaminated rows into the training corpus.
    * Same contamination GEOMETRY as
    * [[graft.operators.Decontaminate.ngramOverlap]] (a doc's distinct
    * n-grams vs the eval set's), composed into a purely STATELESS
    * map-only plan. The DROP decision compares the EXACT ratio
    * `n_shared / n_shingles` against `maxContamination` on the 1e-4
    * long grid — NOT the floored 4-decimal value the audit column
    * reports (flooring would let 1 shared shingle in a >10k-shingle
    * doc through at threshold 0; at threshold 0 exact-ratio gating is
    * precisely "no shared shingle", the batch complement the oracle
    * checks). Structure:
    *
    *  - the eval set is collapsed at plan time (static side, batch
    *    jobs) into a Bloom filter (~1.2-4.8 bytes/shingle) plus the
    *    exact sorted 64-bit hash set (8 bytes/shingle) — the standard
    *    corpus/eval asymmetry: the corpus is 100 TB, benchmarks are
    *    MBs, so the whole eval side rides to executors as plan
    *    references;
    *  - each incoming doc shingles, Bloom-probes, and exact-confirms
    *    inside ONE scan projection ([[graft.functions.ShinglesExpr]] ->
    *    [[graft.functions.BloomHitsExpr]] ->
    *    [[graft.functions.SortedHitCountExpr]], all codegen): clean
    *    docs (the overwhelming majority) die on the empty Bloom-hit
    *    array without ever paying a binary search, false positives die
    *    in the exact confirm — output is EXACTLY the batch definition's.
    *
    * No stream-static join, no aggregation, no watermark, no state
    * store: append mode, and the same function serves batch backfill
    * (the suite proves batch ≡ stream). Emits the surviving rows with
    * `(n_shared, n_shingles, contamination)` appended for audit.
    *
    * `maxExactHashes` bounds the driver-collected exact set (default
    * 32M hashes = 256 MB); a genuinely larger eval suite should be
    * decontaminated in batch ([[graft.operators.Decontaminate]]'s
    * join forms) rather than at ingest.
    */
  def decontaminateGate(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      n: Int = 8,
      maxContamination: Double = 0.0,
      fpp: Double = 1e-5,
      maxExactHashes: Long = 32L << 20): DataFrame = {
    import graft.functions.TextFunctions
    val hashes = eval
      .select(explode(TextFunctions.shingles(col(evalTextCol), n)).as("__s"))
      .select(xxhash64(col("__s")).as("__h"))
      .distinct()
    gateCore(stream, idCol, textCol, n,
      collectExact(hashes, "__h", maxExactHashes), maxContamination, fpp)
  }

  /** [[decontaminateGate]] against a persisted
    * [[graft.operators.Decontaminate.buildEvalIndex]] artifact: the
    * benchmark suite is shingled ONCE at build time and every gate job
    * (or restart of a long-running stream) resolves the hash chain —
    * shingle width comes from the stored meta, appends to the suite
    * are picked up at next plan time, and the benchmark text itself is
    * never needed again. Output-identical to the frame form on the
    * same eval set, by construction (shared core).
    */
  def decontaminateGateFromIndex(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      maxContamination: Double = 0.0,
      fpp: Double = 1e-5,
      maxExactHashes: Long = 32L << 20): DataFrame = {
    import graft.operators.Decontaminate
    val n = Decontaminate.evalIndexN(spark, indexPath)
    gateCore(stream, idCol, textCol, n,
      collectExact(Decontaminate.evalIndexHashes(spark, indexPath), "h",
        maxExactHashes),
      maxContamination, fpp)
  }

  /** Size-guarded collect of a distinct hash frame into the sorted
    * exact-confirm array, in ONE pass: `sort().limit(max+1)` plans as
    * per-partition top-(max+1) heaps merged on the driver, so the
    * driver never holds more than one row past the cap — the same
    * bound the permitted collect has — and the guard fires on the
    * returned length. The previous count-then-collect shape ran the
    * whole hash-chain aggregate TWICE (one pass for the count, one for
    * the collect); on a gate built per publish/per micro-batch that
    * second eval-chain pass is pure waste.
    */
  private def collectExact(
      hashes: DataFrame, hashCol: String, maxExactHashes: Long): Array[Long] = {
    // a cap past the largest JVM array would let limit(cap + 1) truncate
    // an oversized set to an array that still passes the guard below
    require(maxExactHashes <= Int.MaxValue - 8L,
      s"maxExactHashes=$maxExactHashes exceeds the largest collectable " +
        s"array (${Int.MaxValue - 8L} hashes)")
    // sort().limit().collect() not collect().sorted — the sort runs
    // distributed and the driver only merges ordered partition heads
    val arr = hashes.sort(hashCol).limit(maxExactHashes.toInt + 1)
      .collect().map(_.getLong(0))
    require(arr.length <= maxExactHashes,
      s"eval set has more than maxExactHashes=$maxExactHashes distinct " +
        "shingle hashes; decontaminate in batch instead " +
        "(Decontaminate.ngramOverlap with broadcastEval=false)")
    arr
  }

  private def gateCore(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      exact: Array[Long],
      maxContamination: Double,
      fpp: Double): DataFrame = {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    // the Bloom prefilter builds driver-side from the already-collected
    // exact set (idempotent inserts, one pass) — no second eval scan
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(exact.length.toLong, 1L), fpp)
    exact.foreach(bloom.putLong)
    val bloomHits = (sh: org.apache.spark.sql.Column) =>
      toColumn(graft.functions.BloomHitsExpr(toExpression(sh), bloom))
    val exactCount = (cand: org.apache.spark.sql.Column) =>
      toColumn(graft.functions.SortedHitCountExpr(toExpression(cand), exact))
    stream
      .withColumn("__sh",
        coalesce(TextFunctions.shingles(col(textCol), n),
          array().cast("array<string>")))
      .withColumn("__cand", bloomHits(col("__sh")))
      .withColumn("n_shingles", size(col("__sh")).cast("long"))
      .withColumn("n_shared",
        when(size(col("__cand")) === 0, lit(0L)).otherwise(exactCount(col("__cand"))))
      .withColumn("contamination",
        when(col("n_shingles") === 0, lit(0.0)).otherwise(
          floor(col("n_shared") * lit(10000.0) / col("n_shingles")) / lit(10000.0)))
      // the DROP decision compares the EXACT ratio on the 1e-4 grid in
      // long arithmetic (the engine's libm-proof idiom — see
      // Sampling.mixTemperature): gating on the floored double would
      // let 1 shared shingle in a >10k-shingle doc through at
      // threshold 0. The floored `contamination` column is for audit.
      .filter(col("n_shared") * lit(10000L) <=
        col("n_shingles") * lit(math.round(maxContamination * 10000)))
      .drop("__sh", "__cand")
  }

  // ---- streaming index maintenance ----------------------------------------

  /** Marker namespace of one stream generation: a UUID persisted
    * INSIDE the checkpoint directory at first use, so the namespace
    * lives and dies WITH the checkpoint. Scoping to the checkpoint
    * PATH alone (the first implementation hashed the path string)
    * loses data: delete a corrupted checkpoint and restart at the
    * same path — Spark's standard remedy — and batch ids restart at 0
    * while the old path-derived markers are still live in the index,
    * so the new generation's first batches are silently skipped. With
    * the generation file, a normal restart keeps its namespace
    * (replays within a checkpoint stay exactly-once) while a recreated
    * checkpoint gets a fresh one: new data always applies; data the
    * PREVIOUS generation already indexed may append again if the
    * source replays from scratch — at-least-once, the standard
    * contract after checkpoint loss, and strictly better than losing
    * the new batches.
    */
  private def streamMarkerId(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "_graft_marker_generation")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readGen(): String = {
      val in = fs.open(p)
      try {
        // read to EOF in a loop: a single read() may legally short-read,
        // truncating the id and silently forking the marker namespace
        val buf = new java.io.ByteArrayOutputStream()
        val bytes = new Array[Byte](64)
        var n = in.read(bytes)
        while (n >= 0) { buf.write(bytes, 0, n); n = in.read(bytes) }
        buf.toString("UTF-8").trim
      } finally in.close()
    }
    // generation ids are EXACTLY 16 chars, so the race loser can tell a
    // complete file from one mid-publication — adopting a truncated id
    // would silently fork the marker namespace, the exact failure this
    // file exists to prevent. Returns None on expiry instead of
    // throwing: a short file that never completes is pre-atomic-rename
    // debris (a writer that crashed between create and write under the
    // old non-atomic protocol), and the caller RECLAIMS it rather than
    // bricking every future query start on this checkpoint.
    def readGenComplete(): Option[String] = {
      var attempt = 0
      while (attempt < 100) {
        if (fs.exists(p)) {
          val g = readGen()
          if (g.length == 16) return Some(g)
        }
        attempt += 1
        Thread.sleep(50)
      }
      None
    }
    var adopted: Option[String] = None
    var round = 0
    while (adopted.isEmpty && round < 3) {
      round += 1
      adopted =
        if (fs.exists(p)) {
          val r = readGenComplete()
          // permanently-incomplete file: delete and fall through to a
          // fresh atomic publication on the next round
          if (r.isEmpty) fs.delete(p, false)
          r
        } else {
          val gen = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
          fs.mkdirs(p.getParent)
          // write the FULL id to a temp file, then atomically rename it
          // into place (no-overwrite) — the generation file is either
          // absent or complete, never short. Two queries first-starting
          // on the same checkpoint race the rename; the loser adopts
          // the winner's generation on the next round.
          val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.$gen")
          val out = fs.create(tmp, true)
          try out.write(gen.getBytes("UTF-8")) finally out.close()
          try {
            org.apache.hadoop.fs.FileContext
              .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
              .rename(tmp, p)
            Some(gen)
          } catch {
            case _: java.io.IOException =>
              fs.delete(tmp, false)
              None // winner's file is in place (or appearing) — re-read
          }
        }
    }
    adopted.getOrElse(throw new IllegalStateException(
      s"streamMarkerId: generation file at $p never became complete"))
  }

  /** Apply ONE stream micro-batch to a persisted index EXACTLY ONCE:
    * `foreachBatch` is at-least-once (a crash between the append and
    * the checkpoint commit replays the batch), and the index appends
    * are NOT idempotent (a double-append double-counts postings and
    * stats) — so the batch id is recorded as a segment marker
    * ([[graft.sources.IndexIO.segmentMarkers]]) ATOMICALLY with the
    * appended data, and a replayed batch whose marker is already live
    * is skipped. A full publish (compaction, rebuild) carries the
    * marker set forward, so collapsing segments never forgets which
    * batches the collapsed data contains. Returns false when skipped.
    */
  def applyIndexBatch(
      spark: SparkSession, path: String, marker: String)(
      bootstrap: => Unit)(append: => Unit): Boolean =
    // one fused index-state read per batch (exists + marker set) —
    // see IndexIO.segmentMarkersIfExists
    graft.sources.IndexIO.segmentMarkersIfExists(spark, path) match {
      case None => bootstrap; true
      case Some(ms) if ms.contains(marker) => false
      case _ => append; true
    }

  /** Automatic compaction cadence for the streaming maintainers: when
    * `compactEvery > 0` and the chain has grown to that many segments,
    * run the family's compaction after the batch applies. An unattended
    * append-per-micro-batch stream otherwise degrades serving without
    * bound — a K-segment chain is K separately-listed, separately-
    * clustered table scans (measured 7–9× at 16 segments), and segment
    * COUNT, not data volume, is the cost driver. Compaction is a full
    * publish, so the applied-batch markers carry forward: a replay
    * straddling the compact boundary is still recognized and skipped.
    */
  private def maybeCompact(
      spark: SparkSession, path: String, compactEvery: Int)(
      compact: => Unit): Unit =
    // the exists() guard covers the batch shapes that legitimately
    // publish nothing (a delete-only FIRST CDC batch tombstones rows
    // never indexed and bootstraps no index) — without it, segments()
    // throws on the missing _LATEST AFTER the batch applied but BEFORE
    // foreachBatch commits, so the restarted stream replays the same
    // batch into the same throw forever
    if (compactEvery > 0 && graft.sources.IndexIO
        .segmentsIfExists(spark, path).exists(_.length >= compactEvery))
      compact

  /** The ONE build-then-append maintenance skeleton every index-family
    * maintainer runs: markers scope to the CHECKPOINT (not the run) via
    * [[streamMarkerId]] — replays within one checkpoint keep their
    * batch id and are recognized, while a fresh stream generation (new
    * checkpoint, batch ids restarting at 0) gets its own marker space
    * and never collides. Each non-empty micro-batch applies
    * exactly-once through [[applyIndexBatch]] (first batch `bootstrap`,
    * later batches `append`, both receiving the batch + its marker),
    * then [[maybeCompact]] runs the family's `compact` on the
    * segment-count cadence. Empty batches (quiet crawl windows) are
    * no-ops.
    */
  private def maintainChain(
      stream: DataFrame,
      path: String,
      checkpointDir: String,
      compactEvery: Int,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2)(
      bootstrap: (DataFrame, String) => Unit)(
      append: (DataFrame, String) => Unit)(
      compact: SparkSession => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val sid = streamMarkerId(stream.sparkSession, checkpointDir)
    val step: (DataFrame, Long) => Unit = (batch, batchId) => {
      val s = batch.sparkSession
      if (!batch.isEmpty) {
        val marker = s"b$batchId-$sid"
        applyIndexBatch(s, path, marker)(bootstrap(batch, marker))(
          append(batch, marker))
        maybeCompact(s, path, compactEvery)(compact(s))
        // vacuum cadence: every publish (append, compact) retires a
        // version dir that publish-time pruning retains only up to its
        // default window — an unattended year-long stream would
        // otherwise accumulate retired versions without bound. Age
        // bound: only in-flight debris older than a day is reclaimed
        // (IndexIO.vacuum's stale rule — a live concurrent build looks
        // identical to a crash), and `vacuumRetain` committed versions
        // survive so a reader resolved against the PREVIOUS version
        // keeps its data through the next publish.
        if (vacuumEvery > 0 && batchId > 0 && batchId % vacuumEvery == 0)
          graft.sources.IndexIO.vacuum(s, path, retainVersions = vacuumRetain)
      }
    }
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(step)
      .start()
  }

  /** Maintain a [[graft.operators.Search.buildBm25Index]] artifact FROM
    * A STREAM: every micro-batch of `(idCol, textCol)` documents lands
    * as an immutable append segment (the first non-empty batch
    * bootstraps the index), restart-safe and exactly-once via
    * [[applyIndexBatch]]'s in-segment batch markers. This closes the
    * ingest loop the batch lifecycle leaves open: the crawl stream
    * feeds the index that the serving/gate paths
    * ([[graft.operators.Search.bm25SearchIndex]],
    * [[hybridDecontaminateFlags]]) read — no nightly rebuild job in
    * between. Deletes/compaction interleave through the normal chain
    * operations (compaction carries the applied-batch markers);
    * `compactEvery` additionally compacts IN-stream once the chain
    * reaches that many segments ([[maybeCompact]]), so an unattended
    * stream never degrades serving without bound.
    */
  def maintainBm25Index(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      checkpointDir: String,
      termBuckets: Int = 64,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Search
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Search.buildBm25Index(b, idCol, textCol, path, termBuckets,
        marker = Some(m)))(
      (b, m) => Search.appendToBm25Index(b, idCol, textCol, path, termBuckets,
        marker = Some(m)))(
      s => Search.compactBm25Index(s, path, termBuckets))
  }

  /** Maintain a BM25 index from a CDC CHANGE FEED — the streaming
    * composition of [[graft.operators.IndexSync]]: each micro-batch
    * carries [[graft.operators.CorpusDiff.diff]]-shaped rows
    * `(idCol, statusCol, textCol)` and applies as tombstone-the-old
    * THEN append-the-new (`removed`+`changed` ids die, `added`+
    * `changed` rows land — log-ordered, so a changed doc's new
    * version serves and its old one does not).
    *
    * Exactly-once: the batch's marker rides the APPEND segment (or the
    * tombstone segment of a delete-only batch), so a replayed batch is
    * skipped whole; a crash BETWEEN the delete and the append replays
    * both, and the delete is idempotent by construction
    * ([[graft.operators.Search.deleteFromBm25Index]] shrinks stats
    * from still-LIVE rows only — a second tombstone of the same ids
    * subtracts nothing). The first non-empty batch bootstraps from its
    * added/changed rows.
    */
  /** The ONE CDC-maintainer skeleton every `maintain*IndexCdc` rides:
    * each micro-batch carries [[graft.operators.CorpusDiff.diff]]-shaped
    * rows and applies tombstone-the-old THEN append-the-new
    * (`removed`+`changed` ids die, `added`+`changed` rows land —
    * log-ordered, so a changed doc's new version serves and its old one
    * does not). Exactly-once: the marker rides the append segment, or
    * the tombstone segment of a delete-only batch, so a replayed batch
    * skips whole; a crash BETWEEN delete and append replays both, and
    * every family's delete is idempotent (tombstones only shadow rows
    * already in the chain; stats-correcting deletes shrink from
    * still-live rows only). The first non-empty batch bootstraps from
    * its added/changed rows.
    */
  private def maintainCdcChain(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      path: String,
      checkpointDir: String,
      compactEvery: Int,
      vacuumEvery: Int,
      vacuumRetain: Int)(
      bootstrap: (DataFrame, String) => Unit)(
      delete: (DataFrame, Option[String]) => Unit)(
      append: (DataFrame, String) => Unit)(
      compact: SparkSession => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    def adds(b: DataFrame) = b.filter(col(statusCol).isin("added", "changed"))
    def dels(b: DataFrame) =
      b.filter(col(statusCol).isin("removed", "changed")).select(idCol)
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => {
        // deletes before the index exists refer to rows never indexed —
        // there is nothing to shadow, so they drop (log-ordered
        // tombstones of nothing). Guarding on the adds also keeps a
        // delete-only FIRST batch from bootstrapping a trained model on
        // zero rows (k-means would throw and kill the stream); the
        // batch publishes nothing, records no marker, and a replay is
        // a no-op for the same reason — the next batch with adds
        // bootstraps.
        val a = adds(b)
        if (!a.isEmpty) bootstrap(a, m)
      })(
      (b, m) => {
        val a = adds(b).localCheckpoint(true) // emptiness probe + append
        val addEmpty = a.isEmpty
        val d = dels(b)
        if (!d.isEmpty)
          // a delete-only batch carries the marker on its tombstone
          // segment; otherwise the append records it
          delete(d, if (addEmpty) Some(m) else None)
        if (!addEmpty) append(a, m)
      })(compact)
  }

  def maintainBm25IndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      textCol: String,
      path: String,
      checkpointDir: String,
      termBuckets: Int = 64,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Search
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, m) => Search.buildBm25Index(a, idCol, textCol, path,
        termBuckets, marker = Some(m)))(
      (d, m) => Search.deleteFromBm25Index(d.sparkSession, path, d,
        idCol, marker = m))(
      (a, m) => Search.appendToBm25Index(a, idCol, textCol, path,
        termBuckets, marker = Some(m)))(
      s => Search.compactBm25Index(s, path, termBuckets))
  }

  /** [[maintainBm25IndexCdc]] for the unified lexical artifact
    * ([[graft.operators.Search.buildLexicalIndex]]): one change feed
    * keeps BM25 ranking, phrase retrieval, and the fused hybrid
    * current. Deletes go through the stats-correcting
    * [[graft.operators.Search.deleteFromBm25Index]] (the doc-id
    * tombstone covers both serving paths — [[graft.operators
    * .IndexSync.syncLexicalIndex]]'s rule).
    */
  def maintainLexicalIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      textCol: String,
      path: String,
      checkpointDir: String,
      termBuckets: Int = 64,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Search
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, m) => Search.buildLexicalIndex(a, idCol, textCol, path,
        termBuckets, marker = Some(m)))(
      (d, m) => Search.deleteFromBm25Index(d.sparkSession, path, d, idCol,
        marker = m))(
      (a, m) => Search.appendToLexicalIndex(a, idCol, textCol, path,
        termBuckets, marker = Some(m)))(
      s => Search.compactBm25Index(s, path, termBuckets))
  }

  /** [[maintainBm25IndexCdc]] for the IVF index: removed/changed
    * vectors tombstone through the cells-schema-agnostic
    * [[graft.operators.SimilaritySearch.deleteFromAnnIndex]], added/
    * changed ones assign to the FROZEN centroids and append — the
    * re-embedding change feed shape
    * ([[graft.operators.SimilaritySearch.ivfIndexDrift]] is the
    * retrain signal).
    */
  def maintainIvfIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      nCentroids: Int = 16,
      iters: Int = 5,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, m) => SimilaritySearch.buildIvfIndex(a, idCol, vecCol, path,
        nCentroids, iters, marker = Some(m)))(
      (d, m) => SimilaritySearch.deleteFromAnnIndex(d.sparkSession, path, d,
        idCol, marker = m))(
      (a, m) => SimilaritySearch.appendToIvfIndex(a.sparkSession, path, a,
        idCol, vecCol, marker = Some(m)))(
      s => SimilaritySearch.compactIvfIndex(s, path))
  }

  /** [[maintainIvfIndexCdc]] for the SQ8-quantized cells — frozen
    * float centroids from the bootstrap batch, later changes land
    * quantized ([[graft.operators.SimilaritySearch.appendToIvfSq8Index]]);
    * the tombstone and compact are the cells-schema-agnostic shared
    * forms.
    */
  def maintainIvfSq8IndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      nCentroids: Int = 16,
      iters: Int = 5,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, m) => SimilaritySearch.buildIvfSq8Index(a, idCol, vecCol, path,
        nCentroids, iters, marker = Some(m)))(
      (d, m) => SimilaritySearch.deleteFromAnnIndex(d.sparkSession, path, d,
        idCol, marker = m))(
      (a, m) => SimilaritySearch.appendToIvfSq8Index(a.sparkSession, path, a,
        idCol, vecCol, marker = Some(m)))(
      s => SimilaritySearch.compactIvfIndex(s, path))
  }

  /** [[maintainIvfIndexCdc]] for the flat PQ code table — frozen
    * codebooks from the bootstrap batch encode every later change. */
  def maintainPqIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      m: Int = 32,
      kCodes: Int = 32,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, mk) => SimilaritySearch.buildPqIndex(a, idCol, vecCol, path,
        m = m, kCodes = kCodes, marker = Some(mk)))(
      (d, mk) => SimilaritySearch.deleteFromAnnIndex(d.sparkSession, path, d,
        idCol, marker = mk))(
      (a, mk) => SimilaritySearch.appendToPqIndex(a, idCol, vecCol, path,
        marker = Some(mk)))(
      s => SimilaritySearch.compactPqIndex(s, path))
  }

  /** [[maintainIvfIndexCdc]] for the IVF×PQ artifact — frozen
    * centroids AND codebooks encode the changed vectors. */
  def maintainIvfPqIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      nCentroids: Int = 16,
      m: Int = 32,
      kCodes: Int = 32,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, mk) => SimilaritySearch.buildIvfPqIndex(a, idCol, vecCol, path,
        nCentroids = nCentroids, m = m, kCodes = kCodes, marker = Some(mk)))(
      (d, mk) => SimilaritySearch.deleteFromAnnIndex(d.sparkSession, path, d,
        idCol, marker = mk))(
      (a, mk) => SimilaritySearch.appendToIvfPqIndex(a, idCol, vecCol, path,
        marker = Some(mk)))(
      s => SimilaritySearch.compactIvfPqIndex(s, path))
  }

  /** The MinHash near-dup family's CDC maintainer: removed/changed
    * docs tombstone out of the band postings, added/changed docs
    * re-sketch with the index's own stored banding meta — a re-crawled
    * page's new content replaces its old sketch, so near-dup probes
    * never match retired text.
    */
  def maintainMinhashIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      textCol: String,
      path: String,
      checkpointDir: String,
      n: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      bandBuckets: Int = 64,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, m) => Dedup.buildMinhashIndex(a, idCol, textCol, path, n, numHashes,
        bands, bandBuckets, marker = Some(m)))(
      (d, m) => Dedup.deleteFromMinhashIndex(d.sparkSession, path, d, idCol,
        marker = m))(
      (a, m) => Dedup.appendToMinhashIndex(a, idCol, textCol, path,
        bandBuckets, marker = Some(m)))(
      s => Dedup.compactMinhashIndex(s, path, bandBuckets))
  }

  /** The SemDeDup family's CDC maintainer: removed/changed member
    * vectors tombstone (keeper re-election happens at read — removing
    * a cluster's keeper promotes the next survivor without a rewrite),
    * added/changed embeddings resolve against the FROZEN blocking
    * model per batch ([[graft.operators.SimilaritySearch
    * .applySemDedupBatch]]) — the re-embedding feed: a doc whose
    * vector changed is re-deduplicated under its new position.
    */
  def maintainSemDedupIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      k: Int,
      threshold: Double,
      iters: Int = 5,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, m) => SimilaritySearch.buildSemDedupIndex(a, idCol, vecCol, path,
        k, threshold, iters, marker = Some(m)))(
      (d, m) => SimilaritySearch.deleteFromSemDedupIndex(d.sparkSession, path,
        d, idCol, marker = m))(
      (a, m) => SimilaritySearch.applySemDedupBatch(a.sparkSession, path, a,
        idCol, vecCol, marker = Some(m)))(
      s => SimilaritySearch.compactSemDedupIndex(s, path))
  }

  /** The scene family's CDC maintainer — the one perceptual shape a
    * flat hash feed can't carry: each change-feed row brings a WHOLE
    * video as an array of `(frameIdxField, payloadField)` structs in
    * `framesCol` (scene detection needs every frame of a video in one
    * batch — cut boundaries are inter-frame). A re-cut or re-encoded
    * video arrives as `changed`: its old scenes tombstone whole and
    * the new frame stream re-detects in one pass; `removed` videos
    * drop entirely. Null/empty frame arrays on delete rows are fine —
    * the delete leg reads only the ids.
    */
  def maintainSceneIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      framesCol: String,
      path: String,
      checkpointDir: String,
      frameIdxField: String = "frame_idx",
      payloadField: String = "payload",
      sceneMaxHamming: Int = 16,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.multimodal.Multimodal
    def frames(a: DataFrame) = a
      .select(col(idCol), explode(col(framesCol)).as("__graft_f"))
      .select(col(idCol),
        col(s"__graft_f.`$frameIdxField`").as("__graft_fi"),
        col(s"__graft_f.`$payloadField`").as("__graft_fb"))
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, m) => Multimodal.buildSceneIndex(frames(a), idCol,
        "__graft_fi", "__graft_fb", path, sceneMaxHamming, marker = Some(m)))(
      (d, m) => Multimodal.deleteFromSceneIndex(d, idCol, path, marker = m))(
      (a, m) => Multimodal.appendToSceneIndex(frames(a), idCol,
        "__graft_fi", "__graft_fb", path, sceneMaxHamming, marker = Some(m)))(
      s => Multimodal.compactSceneIndex(s, path, idCol))
  }

  /** The perceptual-hash family's CDC maintainer (image aHash — the
    * pHash/audio forms differ only in the append function, exactly as
    * in [[graft.operators.IndexSync]]): a re-encoded blob is a
    * `changed` row, so its old 8-byte hash tombstones and the new one
    * lands from ONE decode of the changed media only.
    */
  def maintainAHashIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      binCol: String,
      path: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.multimodal.Multimodal
    maintainCdcChain(stream, idCol, statusCol, path, checkpointDir,
      compactEvery, vacuumEvery, vacuumRetain)(
      (a, m) => Multimodal.buildAHashIndex(a, idCol, binCol, path,
        marker = Some(m)))(
      (d, m) => Multimodal.deleteFromAHashIndex(d, idCol, path, marker = m))(
      (a, m) => Multimodal.appendToAHashIndex(a, idCol, binCol, path,
        marker = Some(m)))(
      s => Multimodal.compactAHashIndex(s, path, idCol))
  }

  /** Maintain a persisted DSIR model ([[graft.operators.Dsir]]) FROM A
    * STREAM: profiles are additive, so every micro-batch of raw
    * documents lands as its own ≤`buckets`-row profile segment — the
    * first non-empty batch bootstraps the model (fitting the FIXED
    * target profile from `target` — the target corpus is curated, not
    * streamed) and each later batch appends. Restart-safe and
    * exactly-once via [[applyIndexBatch]]'s in-segment batch markers.
    * This keeps the "does my corpus need more docs like this" model
    * current with the crawl that feeds it — [[dsirGate]] reloads the
    * ratio from the chain on whatever cadence the pipeline wants.
    * Unlike the postings maintainers there is NO id column: the
    * profile chain stores bucket counts only, so the artifact is
    * id-free by construction.
    */
  def maintainDsirIndex(
      stream: DataFrame,
      textCol: String,
      target: DataFrame,
      targetTextCol: String,
      buckets: Int,
      path: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dsir
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Dsir.buildDsirIndex(target, targetTextCol, b, textCol,
        buckets, path, marker = Some(m)))(
      (b, m) => Dsir.appendToDsirIndex(b, textCol, path, marker = Some(m)))(
      s => Dsir.compactDsirIndex(s, path))
  }

  /** [[maintainDsirIndex]] for a CDC CHANGE FEED — the RETRACTION
    * family's maintainer, closing the SURVEY §2.5 lifecycle-matrix
    * dash. DSIR "deletes" are not tombstones: the model must UNSEE the
    * old rows' n-gram counts, so the change feed carries the OLD text
    * (`oldTextCol`) for removed+changed rows alongside the new text
    * for added+changed rows — the streaming composition of
    * [[graft.operators.IndexSync.syncDsirIndex]]. Each micro-batch
    * publishes ONE marked segment carrying the batch's NET profile —
    * added+changed rows' counts plus removed+changed rows' negated
    * counts summed ([[graft.operators.Dsir.applyDsirIndexCdc]]);
    * additive counts subtract exactly, so the chain sum equals the
    * live corpus's one-shot profile bit-for-bit, and because the
    * retraction and append share the segment AND its exactly-once
    * marker, a crash-replayed batch is applied atomically — never the
    * retraction half twice. Deletes
    * before the index exists refer to rows never profiled and drop
    * (retracting them would drive bucket counts negative — caught
    * loudly at the next load, but better never published).
    */
  def maintainDsirIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      textCol: String,
      oldTextCol: String,
      target: DataFrame,
      targetTextCol: String,
      buckets: Int,
      path: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dsir
    def adds(b: DataFrame) = b.filter(col(statusCol).isin("added", "changed"))
    def dels(b: DataFrame) = b
      .filter(col(statusCol).isin("removed", "changed"))
      .select(col(oldTextCol).as(textCol))
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => {
        val a = adds(b)
        if (!a.isEmpty) Dsir.buildDsirIndex(target, targetTextCol, a,
          textCol, buckets, path, marker = Some(m))
      })(
      // one marked segment per batch: retraction and append are
      // atomic (applyDsirIndexCdc) — a crash-replay either sees the
      // marker and skips, or re-applies the WHOLE batch exactly once;
      // the old delete-then-append pair could replay the unmarked
      // retraction twice and silently zero a shared bucket
      (b, m) => Dsir.applyDsirIndexCdc(adds(b), dels(b), textCol, path,
        marker = Some(m)))(
      s => Dsir.compactDsirIndex(s, path))
  }

  /** [[maintainDsirIndex]] for the PER-GROUP artifact
    * ([[graft.operators.Dsir.buildDsirIndexByGroup]]): the first
    * non-empty micro-batch fits the fixed per-group target profile and
    * bootstraps, later batches append their own grouped additive
    * profile segments; exactly-once via [[applyIndexBatch]] markers,
    * `compactEvery` collapses the chain in-stream (the grouped compact
    * is the same [[graft.operators.Dsir.compactDsirIndex]] — it
    * branches on the stored schema).
    */
  def maintainDsirIndexByGroup(
      stream: DataFrame,
      textCol: String,
      groupCol: String,
      target: DataFrame,
      targetTextCol: String,
      targetGroupCol: String,
      buckets: Int,
      path: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dsir
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Dsir.buildDsirIndexByGroup(target, targetTextCol,
        targetGroupCol, b, textCol, groupCol, buckets, path,
        marker = Some(m)))(
      (b, m) => Dsir.appendToDsirIndexByGroup(b, textCol, groupCol, path,
        marker = Some(m)))(
      s => Dsir.compactDsirIndex(s, path))
  }

  /** [[maintainBm25Index]] for the UNIFIED lexical artifact
    * ([[graft.operators.Search.buildLexicalIndex]] — postings carry tf
    * AND positions): one stream maintains the single artifact that
    * BM25 ranking, phrase retrieval, and the fused
    * [[graft.operators.Search.hybridLexicalPhraseTopK]] all serve
    * from.
    */
  def maintainLexicalIndex(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      checkpointDir: String,
      termBuckets: Int = 64,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Search
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Search.buildLexicalIndex(b, idCol, textCol, path, termBuckets,
        marker = Some(m)))(
      (b, m) => Search.appendToLexicalIndex(b, idCol, textCol, path,
        termBuckets, marker = Some(m)))(
      // compactBm25Index rewrites the FULL postings schema, so the
      // positional payload survives the unified artifact's compact
      s => Search.compactBm25Index(s, path, termBuckets))
  }

  /** [[maintainBm25Index]] for the MinHash near-dup index — the crawl
    * stream maintains the artifact that [[dedupAgainstMinhashIndex]]
    * (and the batch dedup joins) probe. Bootstrap parameters apply to
    * the first non-empty batch; appends band with the index's own
    * stored meta.
    */
  def maintainMinhashIndex(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      checkpointDir: String,
      n: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      bandBuckets: Int = 64,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Dedup.buildMinhashIndex(b, idCol, textCol, path, n, numHashes,
        bands, bandBuckets, marker = Some(m)))(
      (b, m) => Dedup.appendToMinhashIndex(b, idCol, textCol, path,
        bandBuckets, marker = Some(m)))(
      s => Dedup.compactMinhashIndex(s, path, bandBuckets))
  }

  /** [[maintainBm25Index]] for the IVF ANN index
    * ([[graft.operators.SimilaritySearch.buildIvfIndex]]) — the
    * embedding-crawl twin of the text maintainers: the first non-empty
    * batch TRAINS the centroids and bootstraps the index; every later
    * micro-batch assigns its vectors to the existing cells and lands as
    * an immutable segment ([[graft.operators.SimilaritySearch
    * .appendToIvfIndex]] — no retrain on the hot path). Serving
    * ([[graft.operators.SimilaritySearch.searchIvf]]) and the semantic
    * dedup gate ([[dedupAgainstIvfIndex]]) read the chain live.
    * Exactly-once via [[applyIndexBatch]] markers; `compactEvery`
    * collapses the chain in-stream ([[maybeCompact]]). Centroid quality
    * is the bootstrap batch's — [[graft.operators.Sketches
    * .embeddingDrift]] against the live corpus is the retrain signal,
    * and a full rebuild re-trains (policy, not this operator).
    */
  def maintainIvfIndex(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      nCentroids: Int = 16,
      iters: Int = 5,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => SimilaritySearch.buildIvfIndex(b, idCol, vecCol, path,
        nCentroids, iters, marker = Some(m)))(
      (b, m) => SimilaritySearch.appendToIvfIndex(b.sparkSession, path, b,
        idCol, vecCol, marker = Some(m)))(
      s => SimilaritySearch.compactIvfIndex(s, path))
  }

  /** [[maintainIvfIndex]] for the IVF×PQ index ([[graft.operators
    * .SimilaritySearch.buildIvfPqIndex]]): bootstrap trains centroids
    * AND the residual codebooks on the first non-empty batch; appends
    * encode new vectors with the frozen model (m code bytes each).
    * The production embedding-ingest shape — ADC serving
    * ([[graft.operators.SimilaritySearch.searchIvfPq]]) reads the
    * chain with partition-pruned probes throughout.
    */
  def maintainIvfPqIndex(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      nCentroids: Int = 16,
      m: Int = 32,
      kCodes: Int = 32,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, mk) => SimilaritySearch.buildIvfPqIndex(b, idCol, vecCol, path,
        nCentroids = nCentroids, m = m, kCodes = kCodes, marker = Some(mk)))(
      (b, mk) => SimilaritySearch.appendToIvfPqIndex(b, idCol, vecCol, path,
        marker = Some(mk)))(
      s => SimilaritySearch.compactIvfPqIndex(s, path))
  }

  /** [[maintainIvfIndex]] for the plain PQ index ([[graft.operators
    * .SimilaritySearch.buildPqIndex]]): bootstrap trains the codebooks
    * on the first non-empty batch's deterministic sample; every later
    * micro-batch encodes with the FROZEN codebooks into an immutable
    * code segment (m bytes per vector — the whole-corpus-in-memory ADC
    * scan shape). Exactly-once via [[applyIndexBatch]] markers;
    * `compactEvery` collapses the code chain in-stream
    * ([[graft.operators.SimilaritySearch.compactPqIndex]] — codes
    * union unchanged, results identical by construction).
    */
  def maintainPqIndex(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      m: Int = 32,
      kCodes: Int = 32,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, mk) => SimilaritySearch.buildPqIndex(b, idCol, vecCol, path,
        m = m, kCodes = kCodes, marker = Some(mk)))(
      (b, mk) => SimilaritySearch.appendToPqIndex(b, idCol, vecCol, path,
        marker = Some(mk)))(
      s => SimilaritySearch.compactPqIndex(s, path))
  }

  /** [[maintainIvfIndex]] for the IVF-SQ8 index ([[graft.operators
    * .SimilaritySearch.buildIvfSq8Index]]): bootstrap trains the float
    * centroids on the first non-empty batch; appends assign new
    * vectors to the frozen cells on their FLOAT values and land
    * SQ8-quantized (per-vector quantization is centroid-independent,
    * so at exhaustive probes the maintained chain equals the one-shot
    * quantized scan EXACTLY). The compact is the cells-schema-agnostic
    * [[graft.operators.SimilaritySearch.compactIvfIndex]].
    */
  def maintainIvfSq8Index(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      nCentroids: Int = 16,
      iters: Int = 5,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, mk) => SimilaritySearch.buildIvfSq8Index(b, idCol, vecCol, path,
        nCentroids, iters, marker = Some(mk)))(
      (b, mk) => SimilaritySearch.appendToIvfSq8Index(b.sparkSession, path, b,
        idCol, vecCol, marker = Some(mk)))(
      s => SimilaritySearch.compactIvfIndex(s, path))
  }

  /** Maintain the decontamination EVAL index ([[graft.operators
    * .Decontaminate.buildEvalIndex]]) from a stream of ARRIVING
    * benchmark suites: each micro-batch's eval docs shingle into an
    * immutable distinct-hash segment (first batch bootstraps, fixing
    * the shingle width), so the ingest gates
    * ([[decontaminateGateFromIndex]], [[hybridDecontaminateFlags]])
    * start screening for a new benchmark the moment it lands — no
    * rebuild job between "suite published" and "training data
    * protected". `compactEvery` re-collapses the hash chain in-stream
    * ([[graft.operators.Decontaminate.compactEvalIndex]]).
    */
  def maintainEvalIndex(
      stream: DataFrame,
      textCol: String,
      path: String,
      checkpointDir: String,
      n: Int = 8,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Decontaminate
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, mk) => Decontaminate.buildEvalIndex(b, textCol, path, n,
        marker = Some(mk)))(
      (b, mk) => Decontaminate.appendToEvalIndex(b, textCol, path,
        marker = Some(mk)))(
      s => Decontaminate.compactEvalIndex(s, path))
  }

  /** [[maintainEvalIndex]] for a CDC CHANGE FEED over the benchmark
    * suite — the eval-hash retraction maintainer ([[graft.operators
    * .Decontaminate.deleteFromEvalIndex]]'s streaming composition):
    * removed+changed benchmark items carry their OLD text
    * (`oldTextCol`); each batch publishes ONE marked segment with the
    * net occurrence-count profile (positive adds + negated
    * withdrawals, [[graft.operators.Decontaminate.applyEvalIndexCdc]]
    * — atomic under crash-replay, as in [[maintainDsirIndexCdc]], the
    * other retraction family). A hash shared with a surviving
    * benchmark keeps gating; one unique to the withdrawn item stops.
    */
  def maintainEvalIndexCdc(
      stream: DataFrame,
      idCol: String,
      statusCol: String,
      textCol: String,
      oldTextCol: String,
      path: String,
      checkpointDir: String,
      n: Int = 8,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Decontaminate
    def adds(b: DataFrame) = b.filter(col(statusCol).isin("added", "changed"))
    def dels(b: DataFrame) = b
      .filter(col(statusCol).isin("removed", "changed"))
      .select(col(oldTextCol).as(textCol))
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => {
        val a = adds(b)
        if (!a.isEmpty) Decontaminate.buildEvalIndex(a, textCol, path, n,
          marker = Some(m))
      })(
      // atomic per-batch segment, same rationale as maintainDsirIndexCdc
      (b, m) => Decontaminate.applyEvalIndexCdc(adds(b), dels(b), textCol,
        path, marker = Some(m)))(
      s => Decontaminate.compactEvalIndex(s, path))
  }

  /** [[maintainIvfIndex]] for the incremental SemDeDup artifact
    * ([[graft.operators.SimilaritySearch.buildSemDedupIndex]]): the
    * first non-empty batch trains the blocking centroids and resolves
    * its own duplicates; every later micro-batch assigns against the
    * frozen cells, pairs ONLY within them, and lands as an immutable
    * segment (+ remap rows where it bridged components) —
    * [[graft.operators.SimilaritySearch.semDeDupIncremental]].
    * The dedup DECISIONS stay queryable at any time via
    * [[graft.operators.SimilaritySearch.semDedupIndexStatus]]; the
    * keep-the-atypical rule re-resolves per read, so a later batch's
    * more-atypical member takes over as keeper exactly as a one-shot
    * run over the union would have chosen.
    */
  def maintainSemDedupIndex(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      checkpointDir: String,
      k: Int,
      threshold: Double,
      iters: Int = 5,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SimilaritySearch
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => SimilaritySearch.buildSemDedupIndex(b, idCol, vecCol, path,
        k, threshold, iters, marker = Some(m)))(
      (b, m) => SimilaritySearch.applySemDedupBatch(b.sparkSession, path, b,
        idCol, vecCol, marker = Some(m)))(
      s => SimilaritySearch.compactSemDedupIndex(s, path))
  }

  /** [[maintainBm25Index]] for the perceptual image-hash index
    * ([[graft.multimodal.Multimodal.buildAHashIndex]]) — the image
    * crawl's ingest loop: each micro-batch's images are decoded ONCE
    * into 8-byte hashes and land as an immutable segment; the
    * [[graft.multimodal.Multimodal.dedupAgainstAHashIndex]] gate then
    * probes new batches against the whole image corpus without ever
    * re-decoding it. Exactly-once markers and the `compactEvery`
    * cadence as in every maintainer here.
    */
  def maintainAHashIndex(
      stream: DataFrame,
      idCol: String,
      binCol: String,
      path: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.multimodal.Multimodal
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Multimodal.buildAHashIndex(b, idCol, binCol, path,
        marker = Some(m)))(
      (b, m) => Multimodal.appendToAHashIndex(b, idCol, binCol, path,
        marker = Some(m)))(
      s => Multimodal.compactAHashIndex(s, path, idCol))
  }

  /** [[maintainAHashIndex]] with the crop/rescale-robust DCT hash
    * ([[graft.multimodal.Multimodal.buildPHashIndex]] — the stored
    * layout is shared, so the same compaction applies); probes come
    * through `dedupAgainstPHashIndex`.
    */
  def maintainPHashIndex(
      stream: DataFrame,
      idCol: String,
      binCol: String,
      path: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.multimodal.Multimodal
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Multimodal.buildPHashIndex(b, idCol, binCol, path,
        marker = Some(m)))(
      (b, m) => Multimodal.appendToPHashIndex(b, idCol, binCol, path,
        marker = Some(m)))(
      s => Multimodal.compactAHashIndex(s, path, idCol))
  }

  /** [[maintainAHashIndex]]'s audio-envelope sibling
    * ([[graft.multimodal.Multimodal.buildAudioHashIndex]] — shared
    * `hashes` layout, shared compaction); probes come through
    * `dedupAgainstAudioHashIndex`.
    */
  def maintainAudioHashIndex(
      stream: DataFrame,
      idCol: String,
      binCol: String,
      path: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.multimodal.Multimodal
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Multimodal.buildAudioHashIndex(b, idCol, binCol, path,
        marker = Some(m)))(
      (b, m) => Multimodal.appendToAudioHashIndex(b, idCol, binCol, path,
        marker = Some(m)))(
      s => Multimodal.compactAHashIndex(s, path, idCol))
  }

  /** Maintain the SHIFT-ROBUST audio subfingerprint index
    * ([[graft.multimodal.Multimodal.buildAudioFpIndex]]) from a
    * stream: clips decode once at ingest, each micro-batch appends its
    * winnowed `(id, fp)` postings as an immutable segment,
    * exactly-once via batch markers, `compactEvery` collapses the
    * chain (dropping tombstoned clips physically). The `(windowSamples,
    * k, w)` parameters are baked into the postings — probes must use
    * the same values, exactly as the batch lifecycle documents.
    */
  def maintainAudioFpIndex(
      stream: DataFrame,
      idCol: String,
      binCol: String,
      path: String,
      checkpointDir: String,
      windowSamples: Int = 400,
      k: Int = 16,
      w: Int = 4,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.multimodal.Multimodal
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Multimodal.buildAudioFpIndex(b, idCol, binCol, path,
        windowSamples, k, w, marker = Some(m)))(
      (b, m) => Multimodal.appendToAudioFpIndex(b, idCol, binCol, path,
        windowSamples, k, w, marker = Some(m)))(
      s => Multimodal.compactAudioFpIndex(s, path, idCol))
  }

  /** Maintain the video SCENE index
    * ([[graft.multimodal.Multimodal.buildSceneIndex]]) from a stream
    * of decoded frames `(idCol, frameIdxCol, frameBinCol)`: each
    * micro-batch's videos are segmented once and their 8-byte scene
    * rows land as an immutable segment — the shot-reuse/licensing
    * check becomes an incremental pipeline. A video's frames must
    * arrive WITHIN one micro-batch (scene segmentation is per-video;
    * frames split across batches would segment twice) — the natural
    * shape when the crawl emits whole video documents. Exactly-once
    * via batch markers; `compactEvery` collapses the chain.
    */
  def maintainSceneIndex(
      stream: DataFrame,
      idCol: String,
      frameIdxCol: String,
      frameBinCol: String,
      path: String,
      checkpointDir: String,
      sceneMaxHamming: Int = 16,
      compactEvery: Int = 0,
      vacuumEvery: Int = 0,
      vacuumRetain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.multimodal.Multimodal
    maintainChain(stream, path, checkpointDir, compactEvery,
      vacuumEvery, vacuumRetain)(
      (b, m) => Multimodal.buildSceneIndex(b, idCol, frameIdxCol, frameBinCol,
        path, sceneMaxHamming, marker = Some(m)))(
      (b, m) => Multimodal.appendToSceneIndex(b, idCol, frameIdxCol,
        frameBinCol, path, sceneMaxHamming, marker = Some(m)))(
      s => Multimodal.compactSceneIndex(s, path, idCol))
  }

  /** RETRIEVAL-BASED decontamination gate, hybrid and STATELESS: flag
    * incoming documents that near-match a benchmark item through
    * EITHER retrieval modality, both legs served from persisted
    * batch-maintained artifacts —
    *
    *  - **lexical**: the doc's distinct token set is probed against a
    *    [[graft.operators.Search.buildBm25Index]] /
    *    `buildLexicalIndex` artifact built over the EVAL SUITE (the
    *    corpus/eval asymmetry: benchmarks are MBs, the crawl is
    *    100 TB, so the index side is the small one). A doc is flagged
    *    for eval item `e` when it covers at least `minContainment` of
    *    `e`'s distinct vocabulary — the n-gram-free complement of
    *    [[decontaminateGate]]'s shingle containment, catching
    *    reworded/reordered contamination that exact 8-gram matching
    *    misses. The comparison is exact integer arithmetic
    *    (`nShared·10⁴ ≥ nEvalTerms·round(minContainment·10⁴)`).
    *  - **dense**: embedding cosine against a
    *    [[graft.operators.SimilaritySearch.buildIvfIndex]] artifact of
    *    the eval items' embeddings, via the stream-safe in-row cell
    *    choice ([[graft.operators.SimilaritySearch.dedupAgainstIvfIndex]]).
    *
    * Entirely stateless: candidate generation is a stream-static join
    * of the doc's exploded terms against the eval postings; per-pair
    * exactly-once comes from the FIRST-SHARED-TERM anchor (the eval
    * item's sorted term set rides the broadcast join, so the doc's
    * sorted distinct terms intersect it IN-ROW — the
    * [[dedupAgainstMinhashIndex]] first-shared-band idea); the dense
    * leg probes cells in-row. No watermark, no state store, append
    * mode; batch/stream unified (the suite proves batch ≡ stream).
    *
    * Emits one row per (doc, eval item, leg) flag:
    * `(<idCol>, eval_id, leg: lex|vec, score)` — containment or cosine
    * on the 1e-4 floor grid. Downstream drops flagged ids (batch
    * anti-join) or routes them to review; emitting the flags rather
    * than the survivors keeps the gate leg-attributable for audit.
    */
  def hybridDecontaminateFlags(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      lexIndexPath: String,
      annIndexPath: String,
      minContainment: Double = 0.5,
      minCosine: Double = 0.45,
      nProbe: Int = 4): DataFrame = {
    import graft.functions.TextFunctions
    require(minContainment >= 0.0 && minContainment <= 1.0,
      s"hybridDecontaminateFlags: minContainment outside [0,1]: $minContainment")
    // resolve the committed versions ONCE at plan time (the long-running
    // gate must not tear across a concurrent index publish)
    graft.sources.IndexIO.resolve(spark, lexIndexPath)
    val tombs = graft.sources.IndexIO.chainTable(spark, lexIndexPath, "tombstones")
    val postings = graft.sources.IndexIO.withoutTombstoned(
      graft.sources.IndexIO.chainTable(spark, lexIndexPath, "postings").getOrElse(
        throw new IllegalStateException(
          s"lexical index at $lexIndexPath has no postings table")),
      tombs, "doc_id")
      .select(col("term").as("__t"), col("doc_id").as("eval_id"))
    val grid = math.round(minContainment * 10000)

    // PREFIX FILTER (PPJoin-style, lossless): a doc covering >=
    // ceil(θ·|ets|) of an eval item's terms misses at most
    // |ets| − ceil(θ·|ets|) of them, so it MUST share one of the
    // item's (|ets| − ceil(θ·|ets|) + 1) RAREST terms (rarity = eval-
    // suite df, ties alphabetical) — the candidate join runs against
    // those prefix postings only, never the common-word floods (8.5×
    // fewer candidate rows on the gate corpus; far more on a real
    // vocabulary where rare means rare). All static-side arithmetic:
    // exact integer ceil on the 1e-4 grid.
    val evdf = postings.groupBy(col("__t")).agg(count(lit(1)).as("__dfe"))
    val wRank = Window.partitionBy(col("eval_id"))
      .orderBy(col("__dfe").asc, col("__t").asc)
    val ranked = postings.join(evdf, Seq("__t"))
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__ne", count(lit(1)).over(Window.partitionBy(col("eval_id"))))
      // ceil(ne·θ) = (ne·grid + 9999) div 10⁴ — the product is ≤ 1e10
      // for any plausible eval item, exact in the double division
      .withColumn("__plen",
        col("__ne") - floor((col("__ne") * lit(grid) + lit(9999L)) / lit(10000.0))
          .cast("long") + lit(1L))
    // per-eval-item static card: full sorted vocabulary (containment
    // check) + the rarity-ordered prefix (exactly-once anchor) —
    // benchmark-sized, broadcast into the join
    val termsets = ranked.groupBy(col("eval_id"))
      .agg(
        array_sort(collect_set(col("__t"))).as("__ets"),
        transform(
          array_sort(collect_list(
            when(col("__rk") <= col("__plen"),
              struct(col("__rk"), col("__t"))))),
          s => s.getField("__t")).as("__pfx"))
    val prefixPostings = ranked.filter(col("__rk") <= col("__plen"))
      .select(col("__t"), col("eval_id"))

    val lexFlags = stream
      .select(col(idCol).as("__id"),
        array_sort(array_distinct(TextFunctions.tokens(col(textCol)))).as("__dts"))
      .filter(size(col("__dts")) > 0)
      .select(col("__id"), col("__dts"), explode(col("__dts")).as("__t"))
      .join(prefixPostings, Seq("__t"))
      .join(broadcast(termsets), Seq("eval_id"))
      // the rarest shared PREFIX term anchors the pair exactly once
      // (__pfx is rarity-ordered; array_intersect preserves the left
      // argument's order)
      .filter(col("__t") ===
        element_at(array_intersect(col("__pfx"), col("__dts")), 1))
      .withColumn("__ns", size(array_intersect(col("__dts"), col("__ets"))).cast("long"))
      .withColumn("__ne", size(col("__ets")).cast("long"))
      .filter(col("__ns") * lit(10000L) >= col("__ne") * lit(grid))
      .select(col("__id").as(idCol), col("eval_id"), lit("lex").as("leg"),
        (floor(col("__ns") * lit(10000.0) / col("__ne")) / lit(10000.0)).as("score"))

    val vecFlags = graft.operators.SimilaritySearch.dedupAgainstIvfIndex(
        spark, annIndexPath, stream, idCol, vecCol,
        threshold = minCosine, nProbe = nProbe)
      .select(col("id_left").as(idCol), col("id_right").as("eval_id"),
        lit("vec").as("leg"),
        (floor(col("cosine") * lit(10000.0)) / lit(10000.0)).as("score"))

    lexFlags.unionByName(vecFlags)
  }

  /** Streaming LM quality gate (the CCNet-style perplexity filter AT
    * INGEST): score each incoming doc against a persisted
    * [[graft.operators.LangModel.buildLmIndex]] pruned bigram model
    * and keep docs whose mean bigram log-prob clears `minAvgLogp` —
    * boilerplate/spam/wrong-language docs score far below the corpus
    * norm and die in the scan. The model rides as plan references
    * (sorted hash arrays), scoring is ONE in-row kernel call
    * ([[graft.functions.LmScoreExpr]]): no join, no aggregation, no
    * state — append mode, batch/stream unified.
    *
    * The keep decision compares exact 1e-4-grid longs
    * (`floor(lp_sum / n)` vs the threshold on the same grid), so no
    * doc flips on a double edge. Docs with zero bigrams (< 2 tokens)
    * cannot be scored and FAIL CLOSED — a quality gate admits only
    * what it can measure. Emits kept rows + `(n_bigrams, avg_logp)`.
    */
  def lmGate(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      minAvgLogp: Double): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val model = graft.operators.LangModel.loadLmModel(spark, modelPath)
    val sc = toColumn(graft.functions.LmScoreExpr(
      toExpression(col(textCol)), model.bigramKeys, model.bigramCounts,
      model.unigramKeys, model.unigramCounts, model.vocab))
    val minGrid = math.round(minAvgLogp * 10000)
    // explode(array(..)) fences the kernel behind a Generate: without
    // it, filter pushdown + projection collapse re-evaluate the
    // scoring kernel in BOTH the Filter condition and the survivors'
    // Project — the fence makes it one call per row (plan-contract
    // pinned), at the cost of a row-copy through GenerateExec
    stream
      .withColumn("__lm", explode(array(sc)))
      .filter(col("__lm.n_bigrams") > 0 &&
        floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_bigrams")).cast("long")
          >= lit(minGrid))
      .withColumn("n_bigrams", col("__lm.n_bigrams"))
      .withColumn("avg_logp",
        floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_bigrams")) / lit(10000.0))
      .drop("__lm")
  }

  /** Order-3 quality gate ([[lmGate]] at trigram order): one in-row
    * stupid-backoff kernel call per doc, no join/agg/state — the
    * pruned model rides as plan references. Keeps docs whose mean
    * trigram log-prob clears `minAvgLogp` on the exact 1e-4 grid.
    */
  def lmGate3(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      minAvgLogp: Double): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val model = graft.operators.LangModel.loadLmModel3(spark, modelPath)
    val sc = toColumn(graft.functions.LmScore3Expr(
      toExpression(col(textCol)),
      model.trigramKeys, model.trigramCounts,
      model.bigramKeys, model.bigramCounts,
      model.unigramKeys, model.unigramCounts, model.vocab, model.nTokens))
    val minGrid = math.round(minAvgLogp * 10000)
    // Generate fence — one kernel call per row (see lmGate)
    stream
      .withColumn("__lm", explode(array(sc)))
      .filter(col("__lm.n_trigrams") > 0 &&
        floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_trigrams")).cast("long")
          >= lit(minGrid))
      .withColumn("n_trigrams", col("__lm.n_trigrams"))
      .withColumn("avg_logp",
        floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_trigrams")) / lit(10000.0))
      .drop("__lm")
  }

  /** Interpolated-KN quality gate ([[lmGate]] with the KN smoothing):
    * one in-row kernel call per doc against a persisted
    * [[graft.operators.LangModel.buildKnIndex]] model — no join, no
    * agg, no state; append mode, batch/stream unified. Keeps docs
    * whose mean KN bigram log-prob clears `minAvgLogp` on the exact
    * 1e-4 grid; docs with < 2 tokens fail closed.
    */
  def knGate(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      minAvgLogp: Double): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val m = graft.operators.LangModel.loadKnModel(spark, modelPath)
    val sc = toColumn(graft.functions.LmScoreKnExpr(
      toExpression(col(textCol)),
      m.bigramKeys, m.bigramCounts, m.unigramKeys, m.unigramCounts,
      m.fwKeys, m.fwCounts, m.bwKeys, m.bwCounts, m.bTypes, m.vocab))
    val minGrid = math.round(minAvgLogp * 10000)
    // Generate fence — one kernel call per row (see lmGate)
    stream
      .withColumn("__lm", explode(array(sc)))
      .filter(col("__lm.n_bigrams") > 0 &&
        floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_bigrams")).cast("long")
          >= lit(minGrid))
      .withColumn("n_bigrams", col("__lm.n_bigrams"))
      .withColumn("avg_logp",
        floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_bigrams")) / lit(10000.0))
      .drop("__lm")
  }

  /** Classifier quality gate: keep docs the pruned NB model
    * ([[graft.operators.QualityClassifier.buildNbIndex]]) scores at or
    * above `minScore` (0.0 = the decision boundary; positive raises
    * precision). Same serving shape as [[lmGate]]: ONE in-row kernel
    * call per doc behind a Generate fence, model as plan references —
    * no join, no aggregation, no state. The threshold compares exact
    * grid longs (`s_sum + prior >= round(minScore·1e4)`), so the gate
    * agrees bit-for-bit with the batch scorer's `score`.
    */
  def nbGate(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      minScore: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val m = graft.operators.QualityClassifier.loadNbModel(spark, modelPath)
    val sc = toColumn(graft.functions.NbScoreExpr(
      toExpression(col(textCol)), m.keys, m.deltas, m.defaultDelta))
    val minGrid = math.round(minScore * 10000)
    // Generate fence — one kernel call per row (see lmGate)
    stream
      .withColumn("__nb", explode(array(sc)))
      .filter(col("__nb.n_tokens") > 0 &&
        col("__nb.s_sum") + lit(m.priorDelta) >= lit(minGrid))
      .withColumn("n_tokens", col("__nb.n_tokens"))
      .withColumn("score",
        (col("__nb.s_sum") + lit(m.priorDelta)) / lit(10000.0))
      .drop("__nb")
  }

  /** Language gate: keep docs the pruned multiclass NB model
    * ([[graft.operators.QualityClassifier.buildNbMulticlassIndex]])
    * predicts as `keep` — "English only" at ingest with a TRAINED
    * identifier instead of the n-gram heuristic. Same serving shape as
    * the other gates: ONE in-row kernel call per doc behind a Generate
    * fence, model as plan references, no join/agg/state. Zero-token
    * docs are unclassifiable and fail closed (dropped).
    */
  def langGate(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      keep: String): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val m = graft.operators.QualityClassifier.loadNbMulticlassModel(spark, modelPath)
    val keepIdx = m.classes.indexOf(keep)
    require(keepIdx >= 0,
      s"langGate: class '$keep' not in the model's classes ${m.classes.mkString(",")}")
    val ci = toColumn(graft.functions.NbPredictExpr(
      toExpression(col(textCol)), m.keys, m.lps, m.defaults, m.priors))
    // Generate fence — one kernel call per row (see lmGate)
    stream
      .withColumn("__ci", explode(array(ci)))
      .filter(col("__ci") === keepIdx)
      .drop("__ci")
  }

  /** DSIR relevance gate: keep docs whose importance log-weight
    * against a [[graft.operators.Dsir.ratioArray]] model — "is this
    * doc distributionally like the target corpus?" — clears
    * `minAvgLogw` per gram on the exact 1e-4 grid. The
    * target-conditioned counterpart to [[lmGate]]/[[nbGate]]: those
    * gate on absolute quality, this gates on similarity to the data
    * you want more of (Xie et al., NeurIPS 2023). Serving shape is
    * pure column expressions — grams, md5 buckets, and a dense
    * `buckets`-length literal-array lookup folded into one in-row
    * `aggregate` behind a Generate fence; no join, no aggregation, no
    * state — append mode, batch/stream unified. The mean compares
    * `floor(logw / n)` grid longs, so no doc flips on a double edge;
    * zero-gram docs fail closed. Emits kept rows + `(n_ngrams, logw)`.
    */
  def dsirGate(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      ratio: Array[Long],
      buckets: Int,
      minAvgLogw: Double): DataFrame = {
    val sc = graft.operators.Dsir.scoreInRow(col(textCol), ratio, buckets)
    val minGrid = math.round(minAvgLogw * 10000)
    // Generate fence — one in-row aggregate per row (see lmGate)
    stream
      .withColumn("__ds", explode(array(sc)))
      .filter(col("__ds.n_ngrams") > 0 &&
        floor(col("__ds.logw") * lit(1.0) / col("__ds.n_ngrams")).cast("long")
          >= lit(minGrid))
      .withColumn("n_ngrams", col("__ds.n_ngrams"))
      .withColumn("logw", col("__ds.logw"))
      .drop("__ds")
  }

  /** [[dsirGate]] against a persisted [[graft.operators.Dsir]] model:
    * resolves the chain and folds its [[graft.operators.Dsir.loadDsirRatio]]
    * ratio into the plan — the path-taking shape of the sibling gates
    * ([[lmGate]]/[[nbGate]]), so a long-running ingest job reloads the
    * stream-maintained model on restart without carrying arrays around.
    */
  def dsirGate(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      minAvgLogw: Double): DataFrame = {
    val (ratio, buckets) = graft.operators.Dsir.loadDsirRatio(spark, modelPath)
    dsirGate(stream, idCol, textCol, ratio, buckets, minAvgLogw)
  }

  /** [[dsirGate]] against a PER-GROUP model
    * ([[graft.operators.Dsir.buildDsirIndexByGroup]]): each row is
    * scored under its own group's (language's, source's) target/raw
    * ratio — the group→array map rides as one literal, the lookup and
    * gram aggregate run in the row ([[graft.operators.Dsir.scoreInRowByGroup]]),
    * no join/agg/state. Rows whose group the model doesn't know get a
    * null `logw` and FAIL CLOSED, as do zero-gram docs.
    */
  def dsirGateByGroup(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      modelPath: String,
      minAvgLogw: Double): DataFrame = {
    val (ratios, buckets) =
      graft.operators.Dsir.loadDsirRatioByGroup(spark, modelPath)
    val sc = graft.operators.Dsir.scoreInRowByGroup(
      col(textCol), col(groupCol), ratios, buckets)
    val minGrid = math.round(minAvgLogw * 10000)
    // Generate fence — one in-row aggregate per row (see lmGate)
    stream
      .withColumn("__ds", explode(array(sc)))
      .filter(col("__ds.n_ngrams") > 0 && col("__ds.logw").isNotNull &&
        floor(col("__ds.logw") * lit(1.0) / col("__ds.n_ngrams")).cast("long")
          >= lit(minGrid))
      .withColumn("n_ngrams", col("__ds.n_ngrams"))
      .withColumn("logw", col("__ds.logw"))
      .drop("__ds")
  }

  /** Streaming sequence packing: a `foreachBatch` sink whose carry-over
    * open-bin state ([[graft.operators.Packing.IncrementalPacker]])
    * crosses micro-batch boundaries, so the live ingest pipeline can
    * end gate → chunk → PACK instead of stopping at chunking. Arrival
    * order is packing order (sorted by id within each batch) — when
    * docs arrive id-ordered, the packed output is bit-equal to the
    * batch [[graft.operators.Packing.packGreedy]] over the union
    * (StreamingSuite pins it). `write` receives each batch's packed
    * rows `(<idCol>, chunk, bin, bin_fill)`, already materialized.
    */
  def packStream(
      stream: DataFrame,
      idCol: String,
      tokensCol: String,
      maxLen: Long,
      chunk: org.apache.spark.sql.Column)(write: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val packer = new graft.operators.Packing.IncrementalPacker(
      idCol, tokensCol, maxLen, chunk)
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        write(packer.addBatch(batch))
      }
  }

  /** One input doc of [[packSequencesState]]: shard key, packing-order
    * id, token count.
    */
  final case class PackDoc(chunk: Long, id: Long, toks: Long)

  /** One packed row of [[packSequencesState]] (same contract as
    * [[graft.operators.Packing.packGreedy]]'s output).
    */
  final case class PackedSeq(id: Long, chunk: Long, bin: Long, bin_fill: Long)

  /** State-store record of [[packSequencesState]]: the open bin of one
    * chunk. Public for the state encoder's generated code.
    */
  final case class PackBinState(bin: Long, fill: Long)

  /** Streaming sequence packing whose open-bin carry lives in the REAL
    * state store (`flatMapGroupsWithState` keyed by chunk), not a
    * driver-held map — the unbounded-shard-space shape
    * [[packStream]]'s `IncrementalPacker` deliberately is not: a crawl
    * sharded into millions of chunks costs one (bin, fill) pair of
    * per-key store state each (RocksDB/HDFS-backed, checkpointed,
    * restart-safe with the query's own checkpoint — no side snapshot
    * protocol), while the driver carry would hold the whole map on one
    * heap and lose it on restart without [[graft.operators.Packing.IncrementalPacker.saveState]].
    *
    * Semantics match [[packStream]]: arrival order is packing order
    * (sorted by id within each micro-batch group), a doc that does not
    * fit opens the next bin, an oversized doc occupies a bin alone.
    * Placement is FINAL on arrival (later docs never move earlier
    * ones), so rows emit immediately in append mode and no watermark
    * or timeout is needed; state never expires (an idle chunk's open
    * bin must survive arbitrarily long gaps — it is 16 bytes).
    * When the feed is id-ordered across batches the output is
    * bit-equal to the batch [[graft.operators.Packing.packGreedy]]
    * over the union (StreamingSuite + the gate's DuckDB replay pin
    * it). On a BATCH dataset, delegates to `packGreedy` directly —
    * batch/stream unified like every transform here.
    */
  def packSequencesState(
      docs: Dataset[PackDoc], maxLen: Long): Dataset[PackedSeq] = {
    require(maxLen > 0, s"packSequencesState: maxLen must be positive, got $maxLen")
    val spark = docs.sparkSession
    import spark.implicits._

    if (!docs.isStreaming)
      return graft.operators.Packing
        .packGreedy(docs.toDF(), "id", "toks", maxLen, col("chunk"))
        .select(col("id"), col("chunk"), col("bin"), col("bin_fill"))
        .as[PackedSeq]

    def process(
        chunk: Long,
        it: Iterator[PackDoc],
        state: GroupState[PackBinState]): Iterator[PackedSeq] = {
      // one micro-batch's docs for one chunk: bounded by the batch,
      // sorted here because flatMapGroupsWithState guarantees no
      // within-group order (contrast batch flatMapSortedGroups)
      val batch = it.toArray.sortBy(d => (d.id, d.toks))
      var bin = state.getOption.map(_.bin).getOrElse(0L)
      var fill = state.getOption.map(_.fill).getOrElse(0L)
      // continuing an open bin: the chunk's next doc is NOT "first"
      var first = state.getOption.isEmpty
      val out = batch.map { d =>
        if (!first && fill + d.toks > maxLen) { bin += 1; fill = 0L }
        first = false
        fill += d.toks
        PackedSeq(d.id, chunk, bin, fill)
      }
      if (batch.nonEmpty) state.update(PackBinState(bin, fill))
      out.iterator
    }

    docs.groupByKey(_.chunk)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(process)
  }

  def parquetStream(spark: SparkSession, dir: String, schemaOf: DataFrame): DataFrame =
    spark.readStream.schema(schemaOf.schema).parquet(dir)

  /** JSONL drop-directory stream — the format crawls actually arrive
    * in. Schema must be explicit (streaming sources cannot infer);
    * parsing matches [[graft.sources.Sources.jsonl]]'s batch reader,
    * so a backfill over the same files and the live stream see the
    * same rows. Compose with the gates above for the full ingest path:
    * `jsonlStream → decontaminateGate/lmGate → chunk → sink`.
    */
  def jsonlStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).json(dir)
}
