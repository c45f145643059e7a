package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Atomic publish/resolve for persisted index directories (MinHash
  * band index, BM25 inverted index, IVF / IVF-SQ8 cells).
  *
  * An index is several parquet tables written by separate jobs
  * (postings + sketches + meta, or centroids + cells); plain
  * `mode("overwrite")` into fixed subdirs means a mid-build failure —
  * or a rebuild racing a long-lived reader such as the streaming
  * dedup gate, whose static side re-lists files per batch — can
  * expose an index whose tables disagree about their own parameters.
  *
  * The fix is the standard log-pointer layout:
  *
  *   - every build writes ALL its tables under a fresh
  *     `<path>/v-<uuid>/` directory, invisible to readers;
  *   - the version's `_SEGMENTS` file lists the IMMUTABLE data
  *     directories that make up the index at that version (as
  *     directory names RELATIVE to the index base, so a moved or
  *     re-mounted index keeps its chains; absolute entries from older
  *     builds still resolve) — just itself for a full build, the
  *     parent's segments plus itself for an incremental append
  *     ([[publishDelta]]); readers scan the union, so "append" never
  *     rewrites or mutates existing data;
  *   - the single-file pointer `<path>/_LATEST` (the uuid, written via
  *     create-temp + atomic rename-overwrite) is flipped LAST;
  *   - readers resolve `_LATEST` once and then read only that
  *     version's segments, so a concurrent rebuild/append never
  *     mutates files under a reader — it publishes a sibling version
  *     and flips the pointer for FUTURE resolves.
  *
  * A failed build leaves the pointer on the previous complete version;
  * a path with no pointer fails loudly at resolve time instead of
  * probing torn tables.
  *
  * Retention: publish-time pruning keeps the [[RetainVersions]] most
  * recently published COMPLETE versions (plus everything their segment
  * chains reference), so a long-lived reader — e.g. the streaming dedup
  * gate, which resolves its segments once at plan time — survives
  * `RetainVersions − 1` subsequent publishes, not just one. Directories
  * WITHOUT a `_SEGMENTS` file are never pruned: that file is written
  * last by the build, so its absence marks an IN-FLIGHT (or crashed)
  * build — a concurrent publisher finishing first must not delete a
  * sibling mid-build. Crashed-build debris is reclaimed by the explicit
  * [[vacuum]], which takes an age bound instead of guessing liveness.
  *
  * CONCURRENT-WRITER CONTRACT (at 100 TB two pipeline runs WILL race a
  * publish):
  *
  *   - FULL publishes ([[publish]] — rebuilds, compactions, syncs) are
  *     LAST-WINS on the pointer flip. Both versions are internally
  *     complete (each built its own `v-` dir and `_SEGMENTS` before
  *     flipping), both stay readable through the retention window
  *     ([[pin]] either), and no reader ever observes a torn mix. A
  *     full publish is a self-contained statement of the whole index,
  *     so losing the race loses no information the winner didn't
  *     recompute.
  *   - DELTA publishes ([[publishDelta]] — appends, tombstones,
  *     retractions) EXTEND the current chain, so two racing appends
  *     reading the same parent would each publish a chain missing the
  *     other's segment — silent data loss. They therefore serialize
  *     under the `_APPEND_LOCK` file (atomic create-no-overwrite,
  *     held from parent-chain read to pointer flip): the second
  *     appender blocks, re-reads the first's chain as its parent, and
  *     both segments land. A crashed holder's lock is taken over
  *     after [[AppendLockStaleMs]]; a live holder past the acquire
  *     timeout fails LOUDLY (never silently drops the append). The
  *     lock file rides the index directory itself, so it coordinates
  *     across JVMs on any store with atomic create (HDFS, POSIX; on
  *     object stores without it, keep one writer per index).
  *   - A FULL publish racing a DELTA is NOT serialized (a compact can
  *     collapse a chain while an append extends it — whichever flips
  *     last wins and the other's contribution needs replay). Inside
  *     the engine this race cannot happen: every maintainer runs its
  *     appends and compactions from one streaming thread, and batch
  *     compact/sync jobs own their index. Cross-process rewrites of a
  *     LIVE maintained index require external coordination; the
  *     applied-batch markers make a maintainer's replay converge
  *     after losing such a race.
  *   - [[vacuum]] racing a publisher is safe: an in-flight build has
  *     no `_SEGMENTS` yet and is younger than the stale bound, so
  *     vacuum skips it; committed versions within retention are
  *     pruning roots.
  *
  * Reads ([[readTable]], [[chainTable]]) take each segment table's
  * schema from one parquet footer on the driver, with no
  * schema-inference Spark job.
  */
object IndexIO {

  private val Pointer = "_LATEST"
  private val SegmentsFile = "_SEGMENTS"
  private val PinSep = "@v="
  private val AppendLockFile = "_APPEND_LOCK"

  /** How long a held append lock is trusted before a competing
    * publisher treats it as a crash leftover and takes it over. Delta
    * builds are batch-sized (a micro-batch's segment), so minutes of
    * hold time already means the holder died mid-publish.
    */
  private[sources] val AppendLockStaleMs: Long = 10L * 60 * 1000

  /** TIME-TRAVEL pin: the returned string is `path` fixed to one
    * RETAINED version — every read-side entry point ([[resolve]],
    * [[segments]], [[chainTable]], [[segmentMarkers]], [[exists]], and
    * through them every `*FromIndex`/`*SearchIndex` serving call in
    * the repo) accepts it in place of the plain path and reads THAT
    * version's segment chain, ignoring `_LATEST`. This is how a
    * training run records exactly which index it read (pin at launch
    * via [[currentVersionId]], persist the pinned string with the run)
    * and how an audit replays it later, regardless of appends,
    * compactions, or re-syncs published since.
    *
    * The pin is read-only: [[publish]]/[[publishDelta]]/[[vacuum]]
    * reject pinned paths loudly. A pin resolves only while its version
    * survives retention ([[RetainVersions]] publishes, or longer under
    * an explicit [[vacuum]] policy) — a pruned pin fails at resolve
    * with a missing-version error, never silently serves newer data.
    */
  def pin(path: String, version: String): String = {
    require(version.nonEmpty && version.forall(_.isLetterOrDigit),
      s"IndexIO.pin: version must be alphanumeric, got '$version'")
    require(splitPin(path)._2.isEmpty,
      s"IndexIO.pin: path already pinned: $path")
    s"$path$PinSep$version"
  }

  private def splitPin(path: String): (String, Option[String]) = {
    val i = path.lastIndexOf(PinSep)
    // only a suffix that [[pin]] could have produced (non-empty,
    // alphanumeric, no '/') is a pin — '@v=' is a legal substring of a
    // POSIX path or URI, and treating any occurrence as a pin would
    // silently resolve a bogus version on read and reject publishes
    // on a perfectly writable index
    if (i < 0) (path, None)
    else {
      val v = path.substring(i + PinSep.length)
      if (v.nonEmpty && v.forall(_.isLetterOrDigit))
        (path.substring(0, i), Some(v))
      else (path, None)
    }
  }

  private def requireUnpinned(path: String, op: String): Unit =
    require(splitPin(path)._2.isEmpty,
      s"IndexIO.$op: a version-pinned path is read-only, got $path")

  /** The bare version id `_LATEST` names right now — capture it before
    * a run and serve from `pin(path, id)` to keep the run's index view
    * frozen across concurrent publishes.
    */
  def currentVersionId(spark: SparkSession, path: String): String = {
    requireUnpinned(path, "currentVersionId")
    currentVersion(spark, path).getOrElse(throw new IllegalStateException(
      s"no committed index at $path: $Pointer missing"))
  }

  /** PROTECT a version from retention: a `_KEEP.<id>` marker makes the
    * version (and every segment its chain references) a pruning root —
    * it survives any number of later publishes AND explicit [[vacuum]]
    * calls until [[release]]d. `pin` + `retain` is the durable audit
    * handle: a training run that must replay its index view months
    * later retains the version at launch and releases it when the
    * run's artifacts expire; without a retain, a pin is only valid
    * for the [[RetainVersions]]-publish window.
    */
  def retain(spark: SparkSession, path: String, version: String): Unit = {
    requireUnpinned(path, "retain")
    require(version.nonEmpty && version.forall(_.isLetterOrDigit),
      s"IndexIO.retain: version must be alphanumeric, got '$version'")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vdir = versionDir(base, version)
    require(fs.exists(new Path(vdir, SegmentsFile)),
      s"IndexIO.retain: no complete version $version at $path")
    writeFile(fs, new Path(base, s"$KeepPrefix$version"), "")
    // retain races prune: a concurrent publish (or vacuum) reads the
    // _KEEP markers once at its start, so a marker landing after that
    // scan does not protect this version from THAT pruning pass. The
    // marker is durable from here on, but the chain may already be
    // gone — re-verify and fail loudly (cleaning up the useless
    // marker) rather than hand back a "durable" handle to deleted
    // data. Callers should retain a version still well inside the
    // RetainVersions window (e.g. the one currentVersionId just
    // returned) and may simply retry on this failure.
    if (!fs.exists(new Path(vdir, SegmentsFile))) {
      fs.delete(new Path(base, s"$KeepPrefix$version"), false)
      throw new IllegalStateException(
        s"IndexIO.retain: version $version at $path was pruned by a " +
          "concurrent publish/vacuum before the retain landed — retain " +
          "a version inside the retention window and retry")
    }
  }

  /** Drop a [[retain]] marker — the version re-enters normal
    * retention and is reclaimed by the next publish or [[vacuum]]
    * once outside the window. Idempotent.
    */
  def release(spark: SparkSession, path: String, version: String): Unit = {
    requireUnpinned(path, "release")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base, s"$KeepPrefix$version"), false)
    ()
  }

  /** Version ids currently protected by [[retain]] markers. */
  def retained(spark: SparkSession, path: String): Set[String] = {
    requireUnpinned(path, "retained")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Set.empty
    fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(KeepPrefix))
      .map(_.stripPrefix(KeepPrefix)).toSet
  }

  private val KeepPrefix = "_KEEP."

  /** COMPLETE (committed) version ids at `path`, newest publish first
    * — the pinnable time-travel window. The id `_LATEST` names is
    * first unless an mtime tie reorders rapid publishes; in-flight or
    * crashed builds (no `_SEGMENTS`) are excluded.
    */
  def versions(spark: SparkSession, path: String): Seq[String] = {
    requireUnpinned(path, "versions")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
      .flatMap { st =>
        val seg = new Path(st.getPath, SegmentsFile)
        if (fs.exists(seg))
          Some((st.getPath.getName.stripPrefix("v-"),
            fs.getFileStatus(seg).getModificationTime))
        else None
      }
      .sortBy { case (n, m) => (-m, n) }
      .map(_._1)
  }

  /** Complete versions kept by publish-time pruning (newest-first by
    * publish order). 3 = the new version, the pre-flip version a
    * current reader may hold, and one more so a reader that resolved
    * JUST before the pre-flip publish still has its segments.
    */
  val RetainVersions = 3

  /** Run `build` against a fresh version directory under `path`, then
    * atomically flip `<path>/_LATEST` to it. Returns the published
    * version directory.
    */
  def publish(spark: SparkSession, path: String)(build: String => Unit): String =
    publishInternal(spark, path, delta = false, marker = None)(build)

  /** [[publish]] carrying an applied-batch `marker` (see
    * [[segmentMarkers]]) — the bootstrap-from-a-stream-batch form.
    */
  def publish(spark: SparkSession, path: String, marker: String)(
      build: String => Unit): String =
    publishInternal(spark, path, delta = false, marker = Some(marker))(build)

  /** Like [[publish]], but the new version EXTENDS the current one:
    * its segment list is the parent's plus the fresh directory, so
    * readers see old + new data without any rewrite of the old — the
    * append lifecycle of a growing index. Requires a committed base.
    */
  def publishDelta(spark: SparkSession, path: String)(build: String => Unit): String =
    publishInternal(spark, path, delta = true, marker = None)(build)

  /** [[publishDelta]] carrying an applied-batch `marker`. */
  def publishDelta(spark: SparkSession, path: String, marker: String)(
      build: String => Unit): String =
    publishInternal(spark, path, delta = true, marker = Some(marker))(build)

  /** Optional-marker forms — operators whose `marker: Option[String]`
    * parameter defaults to None call these directly instead of each
    * wiring its own Some/None match onto the String overloads.
    */
  def publish(spark: SparkSession, path: String, marker: Option[String])(
      build: String => Unit): String =
    publishInternal(spark, path, delta = false, marker = marker)(build)

  def publishDelta(spark: SparkSession, path: String, marker: Option[String])(
      build: String => Unit): String =
    publishInternal(spark, path, delta = true, marker = marker)(build)

  /** [[publishDelta]] with a caller-chosen append-lock acquire timeout
    * — for batch jobs that would rather fail fast than wait the
    * default minute behind a slow concurrent appender.
    */
  def publishDeltaWithTimeout(
      spark: SparkSession, path: String, timeoutMs: Long,
      marker: Option[String] = None)(build: String => Unit): String =
    publishInternal(spark, path, delta = true, marker = marker,
      lockTimeoutMs = timeoutMs)(build)

  /** Serialize delta publishers (see the header's concurrent-writer
    * contract): hold `<base>/_APPEND_LOCK` from parent-chain read to
    * pointer flip. Atomic acquisition via create-no-overwrite; a lock
    * older than [[AppendLockStaleMs]] is a crash leftover and is taken
    * over; a LIVE holder past `timeoutMs` fails loudly — an append
    * must never be dropped silently.
    */
  private def withAppendLock[T](
      fs: FileSystem, base: Path, timeoutMs: Long = 60000L)(f: => T): T =
    withLock(fs, base, AppendLockFile, timeoutMs, AppendLockStaleMs)(f)

  private def withLock[T](
      fs: FileSystem, base: Path, name: String,
      timeoutMs: Long, staleMs: Long)(f: => T): T = {
    val lock = new Path(base, name)
    if (!fs.exists(base)) fs.mkdirs(base)
    // atomic create-no-overwrite. Hadoop's LOCAL FileSystem implements
    // create(overwrite=false) as exists-check-then-create — NOT atomic,
    // two racers both "win" — so the file: scheme goes through
    // java.io.File.createNewFile (O_CREAT|O_EXCL, atomic across
    // processes); HDFS-like stores enforce no-overwrite server-side.
    val scheme = Option(lock.toUri.getScheme).getOrElse("file")
    def tryCreate(): Boolean =
      if (scheme == "file") {
        val f = new java.io.File(lock.toUri.getPath)
        f.createNewFile() && { // stamp for the stale rule
          val w = new java.io.FileOutputStream(f)
          try w.write(System.currentTimeMillis().toString
            .getBytes(StandardCharsets.UTF_8))
          finally w.close()
          true
        }
      } else {
        try {
          val out = fs.create(lock, false)
          try out.write(System.currentTimeMillis().toString
            .getBytes(StandardCharsets.UTF_8))
          finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      }
    val deadline = System.currentTimeMillis() + timeoutMs
    var acquired = false
    while (!acquired) {
      if (tryCreate()) acquired = true
      else {
        val stale =
          try {
            val st = fs.getFileStatus(lock)
            System.currentTimeMillis() - st.getModificationTime > staleMs
          } catch { case _: java.io.FileNotFoundException => true }
        if (stale) {
          // crash leftover: delete and retry the atomic create (a
          // concurrent taker-over may win the re-create — fine, we
          // loop back into the wait)
          try fs.delete(lock, false) catch { case _: java.io.IOException => () }
        } else if (System.currentTimeMillis() > deadline) {
          throw new IllegalStateException(
            s"IndexIO: could not acquire $lock within ${timeoutMs} ms — " +
              "another publisher holds it (a crashed holder's lock is " +
              s"taken over after $staleMs ms)")
        } else Thread.sleep(50)
      }
    }
    try f finally {
      try fs.delete(lock, false) catch { case _: java.io.IOException => () }
    }
  }

  private def publishInternal(
      spark: SparkSession, path: String, delta: Boolean,
      marker: Option[String], lockTimeoutMs: Long = 60000L)(
      build: String => Unit): String = {
    requireUnpinned(path, "publish")
    marker.foreach { m =>
      require(m.nonEmpty && m.forall(c =>
          c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
        s"IndexIO: marker must be [A-Za-z0-9._-]+, got '$m'")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(path)
    val fs = base.getFileSystem(conf)
    if (delta)
      return withAppendLock(fs, base, lockTimeoutMs)(
        publishBody(spark, path, delta, marker, conf, base, fs)(build))
    publishBody(spark, path, delta, marker, conf, base, fs)(build)
  }

  private def publishBody(
      spark: SparkSession, path: String, delta: Boolean,
      marker: Option[String], conf: org.apache.hadoop.conf.Configuration,
      base: Path, fs: FileSystem)(build: String => Unit): String = {
    val previous = currentVersion(spark, path)
    if (delta && previous.isEmpty) throw new IllegalStateException(
      s"cannot append to $path: no committed base index ($Pointer missing)")
    val parentSegments = previous.toSeq.flatMap(v => readSegments(fs, versionDir(base, v)))
    val version = java.util.UUID.randomUUID().toString.replace("-", "")
    val vdir = versionDir(base, version)
    build(vdir.toString)
    // applied-batch markers live INSIDE the segment, so they are atomic
    // with its data (a marker is visible iff the append is). A FULL
    // publish (compaction, rebuild) carries the previous version's
    // marker set forward — collapsing segments must not forget which
    // stream batches the collapsed data contains, or a post-compaction
    // replay would double-append.
    val parentAggregate: Seq[String] = previous.toSeq.flatMap(v =>
      readAggregatedMarkers(fs, versionDir(base, v), parentSegments))
    val carried: Seq[String] =
      if (delta) Seq.empty
      else parentAggregate
    (carried ++ marker).distinct.foreach { m =>
      writeFile(fs, new Path(vdir, s"$MarkerPrefix$m"), "")
    }
    // chain-level marker AGGREGATE: the union of every live segment's
    // markers as of THIS version, one file in the version dir — so a
    // maintainer's per-batch replay check ([[segmentMarkers]]) is ONE
    // read instead of a listing per chain segment (K listings per
    // micro-batch is pure object-store latency at 100 TB). Per-segment
    // `_MARKER.*` files remain the source of truth (atomic with their
    // segment); the aggregate is derived, and readers fall back to the
    // per-segment walk on chains whose tip predates it.
    writeFile(fs, new Path(vdir, MarkersFile),
      (parentAggregate ++ marker).distinct.mkString("\n"))
    val newSegments =
      (if (delta) parentSegments else Seq.empty) :+ vdir.toString
    // segment entries are stored as names relative to the index base so
    // the chain survives a directory move/rename or a different mount URI
    writeFile(fs, new Path(vdir, SegmentsFile),
      newSegments.map(p => new Path(p).getName).mkString("\n"))
    // FileContext.rename(OVERWRITE) is the atomic single-file swap on
    // HDFS-like stores (FileSystem.rename refuses an existing target).
    // On the LOCAL (Checksum) filesystem it is check-delete-rename of
    // the data file AND its .crc sidecar, so two racing flips can
    // interleave into FileAlreadyExists or a pointer whose crc belongs
    // to the loser — the millisecond flip therefore serializes under
    // its own lock (full publishes stay lock-free for the whole BUILD;
    // only the pointer swap, not the minutes of table writing, takes
    // it). Last-wins: whoever enters the flip section last leaves its
    // version live; both versions are already durable and complete.
    withLock(fs, base, s".$Pointer.flip_lock", 30000L, 60000L) {
      val tmp = new Path(base, s".$Pointer.$version")
      writeFile(fs, tmp, version)
      FileContext.getFileContext(base.toUri, conf)
        .rename(tmp, new Path(base, Pointer), Options.Rename.OVERWRITE)
    }
    prune(fs, base, RetainVersions, PruneGraceMs)
    vdir.toString
  }

  /** The applied-batch markers of the CURRENT index: the union of every
    * live segment's `_MARKER.*` files. A streaming maintainer records
    * its micro-batch id here atomically with the appended data and
    * skips batches already present — exactly-once index maintenance
    * under foreachBatch's at-least-once replay ([[
    * graft.streaming.Streaming.maintainBm25Index]]).
    */
  def segmentMarkers(spark: SparkSession, path: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (baseStr, _) = splitPin(path)
    val base = new Path(baseStr)
    val fs = base.getFileSystem(conf)
    currentVersion(spark, path) match {
      case None => Set.empty
      case Some(v) =>
        val vdir = versionDir(base, v)
        readAggregatedMarkers(fs, vdir, readSegments(fs, vdir)).toSet
    }
  }

  /** [[segmentMarkers]] with the "is there a committed index at all"
    * probe fused in: `None` when no committed version exists (the
    * [[exists]] condition), else the marker set. The streaming
    * maintainers' per-batch decision (bootstrap? replayed? append?)
    * is ONE index-state read instead of the exists + segmentMarkers
    * pair — per-micro-batch driver round-trips are the object-store
    * tax at 100 TB.
    */
  def segmentMarkersIfExists(
      spark: SparkSession, path: String): Option[Set[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (baseStr, _) = splitPin(path)
    val base = new Path(baseStr)
    val fs = base.getFileSystem(conf)
    currentVersion(spark, path).flatMap { v =>
      val vdir = versionDir(base, v)
      if (!fs.exists(vdir)) None // pointer to a removed version = no index
      else Some(readAggregatedMarkers(fs, vdir, readSegments(fs, vdir)).toSet)
    }
  }

  private val MarkerPrefix = "_MARKER."
  private val MarkersFile = "_MARKERS"

  /** The chain's full marker set at `vdir`: one read of the version's
    * `_MARKERS` aggregate when present (publishes since the aggregate
    * landed write it), else the legacy per-segment `_MARKER.*` walk —
    * a listing per chain segment.
    */
  private def readAggregatedMarkers(
      fs: FileSystem, vdir: Path, chainSegments: Seq[String]): Seq[String] = {
    val agg = new Path(vdir, MarkersFile)
    val viaFile =
      try {
        if (fs.exists(agg))
          Some(readFile(fs, agg).split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
        else None
      } catch { case _: java.io.IOException => None }
    viaFile.getOrElse(
      chainSegments.flatMap(s => readMarkers(fs, new Path(s))).distinct)
  }

  private def readMarkers(fs: FileSystem, segDir: Path): Seq[String] =
    if (!fs.exists(segDir)) Seq.empty
    else fs.listStatus(segDir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(MarkerPrefix))
      .map(_.stripPrefix(MarkerPrefix))

  /** Drop complete version dirs not reachable from the `retain` most
    * recently published versions' segment chains. In-flight dirs (no
    * `_SEGMENTS` yet) are never touched — see the retention contract in
    * the object scaladoc.
    */
  private def prune(fs: FileSystem, base: Path, retain: Int,
      graceMs: Long): Unit = {
    val vdirs = fs.listStatus(base).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("v-"))
    val complete = vdirs.flatMap { st =>
      val seg = new Path(st.getPath, SegmentsFile)
      if (fs.exists(seg)) Some(st.getPath -> fs.getFileStatus(seg).getModificationTime)
      else None
    }
    // the version _LATEST names is live BY DEFINITION and must survive
    // regardless of mtime ordering: object stores round mtimes to
    // seconds, so rapid publishes tie and a stable sort could rank the
    // pointed-at version out of the retain window — deleting the dir
    // the pointer names bricks the index
    val pointerFile = new Path(base, Pointer)
    // the pointer stores the bare version id; dirs are named v-<id>
    val pointed: Set[String] =
      if (fs.exists(pointerFile))
        Set(versionDir(base, readFile(fs, pointerFile).trim).getName)
      else Set.empty
    // _KEEP.<id> markers (IndexIO.retain) are additional roots: a
    // protected version and its whole segment chain survive every
    // publish and vacuum until released
    val protectedDirs: Set[String] = fs.listStatus(base).toSeq
      .map(_.getPath.getName).filter(_.startsWith(KeepPrefix))
      .map(n => s"v-${n.stripPrefix(KeepPrefix)}").toSet
    val kept = complete
      .sortBy { case (p, m) => (-m, p.getName) } // total order even on mtime ties
      .take(math.max(retain, 1)).map(_._1) ++
      complete.map(_._1).filter(p =>
        pointed.contains(p.getName) || protectedDirs.contains(p.getName))
    val keep = kept.flatMap(v => readSegments(fs, v).map(p => new Path(p).getName))
      .toSet ++ kept.map(_.getName)
    // PRUNE GRACE (publish-time only): a version published moments ago
    // may be mid-read by a concurrent query that resolved it before
    // later publishes pushed it out of the retain window
    // (build-if-missing races publish several identical versions back
    // to back; at 100 TB two pipeline runs do the same). A reader's
    // resolve-to-last-read span is seconds to minutes, so publish-time
    // pruning never reclaims versions younger than the grace — the
    // RetainVersions guarantee becomes time-based instead of
    // publish-count-based under rapid publishing. Explicit [[vacuum]]
    // passes graceMs=0: it is documented as the maintenance-window
    // reclaim that KNOWS no concurrent reader/build is in flight.
    val now = System.currentTimeMillis()
    complete.foreach { case (p, m) =>
      if (!keep.contains(p.getName) && now - m > graceMs)
        fs.delete(p, true)
    }
  }

  /** How long a freshly published (complete) version is immune to
    * publish-time pruning — see the grace note in [[prune]]. Overridable
    * for tests that assert the retain-count bound itself.
    */
  @volatile private[graft] var PruneGraceMs: Long = 10L * 60 * 1000

  /** Explicit GC for index directories: apply the [[prune]] retention
    * policy with a caller-chosen version count AND reclaim in-flight
    * debris (dirs without `_SEGMENTS`) older than `staleAfterMs` —
    * crashed builds never finish, so age is the only liveness signal.
    * Publish-time pruning deliberately never touches those (a live
    * concurrent build looks identical); run vacuum from a maintenance
    * job that knows no build is in flight, or with a generous age.
    */
  def vacuum(spark: SparkSession, path: String, retainVersions: Int = RetainVersions,
      staleAfterMs: Long = 24L * 3600 * 1000): Unit = {
    requireUnpinned(path, "vacuum")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    prune(fs, base, retainVersions, graceMs = 0L)
    val now = System.currentTimeMillis()
    fs.listStatus(base).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("v-") &&
          !fs.exists(new Path(st.getPath, SegmentsFile)) &&
          now - st.getModificationTime > staleAfterMs)
        fs.delete(st.getPath, true)
      // a crashed publisher's lock files are normally adopted by the
      // next writer (withLock's stale rule); vacuum reclaims them on
      // idle indexes too so a dead lock never outlives its debris
      if (st.isFile &&
          (st.getPath.getName == AppendLockFile ||
            st.getPath.getName == s".$Pointer.flip_lock") &&
          now - st.getModificationTime > AppendLockStaleMs)
        fs.delete(st.getPath, false)
    }
  }

  /** True when `path` holds a committed index — the build-or-reuse probe
    * for callers that want to skip a rebuild when a published version
    * already exists. Mirrors [[resolve]]'s second check: a pointer whose
    * version dir was removed (external vacuum, partial /tmp cleanup)
    * reads as "no committed index" so the caller rebuilds instead of
    * failing at resolve() for the rest of the JVM's lifetime.
    */
  def exists(spark: SparkSession, path: String): Boolean =
    currentVersion(spark, path).exists { v =>
      val vdir = versionDir(new Path(splitPin(path)._1), v)
      vdir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(vdir)
    }

  /** The committed version directory under `path`, or a loud error if
    * no build ever published (or the published version was removed).
    * A [[pin]]ned path resolves its pinned version instead of
    * `_LATEST` — missing (pruned) pins fail here, loudly.
    */
  def resolve(spark: SparkSession, path: String): String = {
    val (base, pinned) = splitPin(path)
    val version = currentVersion(spark, path).getOrElse(throw new IllegalStateException(
      s"no committed index at $path: $Pointer missing — " +
        "either no build ran or it failed before publish"))
    val vdir = versionDir(new Path(base), version)
    val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(vdir)) throw new IllegalStateException(
      if (pinned.isDefined)
        s"pinned version $version at $base is gone — pruned by a later " +
          "publish/vacuum, or never published; pin within the retention window"
      else s"index pointer at $base names missing version $version")
    // a pin names a version the CALLER asserts was published — but the
    // dir existing is not enough: an in-flight/crashed build id also
    // has a dir, just no _SEGMENTS, and readSegments' pre-segments
    // fallback would then serve the torn tables silently. Publishes
    // write _SEGMENTS before the pointer swap, so every version a pin
    // could legitimately name has it; its absence means the pin is
    // bogus, and "never silently serve wrong data" wins.
    if (pinned.isDefined && !fs.exists(new Path(vdir, SegmentsFile)))
      throw new IllegalStateException(
        s"pinned version $version at $base is incomplete (no " +
          s"$SegmentsFile) — it names an in-flight or crashed build, " +
          "not a published version; pin currentVersionId() instead")
    vdir.toString
  }

  /** The immutable data directories making up the CURRENT index at
    * `path` (oldest first): one for a plain build, the whole append
    * chain for an incrementally-grown index. Readers union these.
    */
  def segments(spark: SparkSession, path: String): Seq[String] = {
    val vdir = new Path(resolve(spark, path))
    val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSegments(fs, vdir)
  }

  /** [[segments]] with the committed-index probe fused in: `None` when
    * no committed version exists, else the chain. One index-state read
    * for callers that would otherwise pair `exists` + `segments` (the
    * maintainers' per-batch compaction-cadence check).
    */
  def segmentsIfExists(spark: SparkSession, path: String): Option[Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (baseStr, _) = splitPin(path)
    val base = new Path(baseStr)
    val fs = base.getFileSystem(conf)
    currentVersion(spark, path).flatMap { v =>
      val vdir = versionDir(base, v)
      if (!fs.exists(vdir)) None
      else Some(readSegments(fs, vdir))
    }
  }

  /** Chain-ordered union of `<segment>/<name>` across the CURRENT
    * index, each row tagged with its segment's chain position in
    * `__seg` (0 = oldest). Segments lacking the table are skipped —
    * that is how tombstone-only delete segments coexist with data
    * segments. None when no segment carries the table.
    *
    * `allowMissingColumns` unions segments whose schemas differ
    * (missing columns read as null) — for families whose segment
    * layout gained a column over time (e.g. the eval index's
    * pre-counts `h`-only segments under counted `(h, cnt)` appends);
    * the caller owns the null semantics. Default false so genuine
    * schema corruption in uniform families still fails loudly.
    */
  def chainTable(spark: SparkSession, path: String, name: String,
      allowMissingColumns: Boolean = false)
      : Option[org.apache.spark.sql.DataFrame] =
    segments(spark, path).zipWithIndex.flatMap { case (s, i) =>
      readTableIfExists(spark, new Path(s, name).toString)
        .map(_.withColumn("__seg", org.apache.spark.sql.functions.lit(i)))
    }.reduceOption(_.unionByName(_, allowMissingColumns))

  /** One persisted index table (a parquet directory written by Spark)
    * as a lazy DataFrame: no Spark job runs until the caller's action.
    * The directory is listed once; for a flat (not `partitionBy`) table
    * that listing is Spark's file index. The schema comes from one
    * footer read on the driver, by Spark's own rule (the
    * `org.apache.spark.sql.parquet.row.metadata` key when present, else
    * the parquet schema converted under the session conf) applied to the
    * file Spark's inference would pick, instead of from Spark's one-task
    * schema-inference job. Every file of a table carries the same
    * schema, so one footer stands for the table. A missing directory, or
    * one without a data file, fails with Spark's own error.
    */
  def readTable(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    readTableIfExists(spark, dir).getOrElse(spark.read.parquet(dir))

  /** [[readTable]], or None when `dir` does not exist: the listing that
    * finds the files doubles as the existence probe (a tombstone-only
    * segment has no data tables).
    */
  private[graft] def readTableIfExists(spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, InMemoryFileIndex, NoopCache}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(dir))
    // plain statuses carry no block locations, so the scan of a flat
    // table schedules without locality preferences; index tables are
    // small next to the corpus they index
    val listing =
      try fs.listStatus(root)
      catch { case _: java.io.FileNotFoundException => return None }
    // a partitionBy layout nests its files one directory per value:
    // there Spark's index lists the tree itself
    val data = listing.filterNot(st => hiddenName(st.getPath.getName))
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None,
      if (data.exists(_.isDirectory)) NoopCache else new ListedFiles(root, data))
    // Spark's inference reads the first data file in path order; with
    // none, a plain read raises Spark's own unable-to-infer error
    val file = index.allFiles().sortBy(_.getPath.toString).headOption
      .getOrElse(return Some(spark.read.parquet(dir)))
    val parts = index.partitionSchema
    val dataSchema = org.apache.spark.sql.types.StructType(
      footerSchema(spark, file).filterNot(f => parts.fieldNames.contains(f.name)))
    Some(spark.baseRelationToDataFrame(HadoopFsRelation(
      index, parts, org.apache.spark.sql.GraftInternals.asNullable(dataSchema), None,
      new ParquetFileFormat, Map.empty)(spark)))
  }

  /** Spark's listing filter: `_` and `.` names are metadata, not data;
    * its file index takes a cached listing as already filtered.
    */
  private def hiddenName(n: String): Boolean =
    (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")

  /** A file-status cache that answers the one directory already listed,
    * until the index is refreshed.
    */
  private final class ListedFiles(root: Path, files: Array[FileStatus])
      extends org.apache.spark.sql.execution.datasources.FileStatusCache {
    @volatile private var valid = true
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (valid && path == root) Some(files) else None
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = valid = false
  }

  private def footerSchema(spark: SparkSession, file: FileStatus)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    try ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
  }

  /** One-row OPERATIONAL summary of a persisted index — the
    * `DESCRIBE INDEX` every maintenance job wants before deciding to
    * compact, vacuum, or retrain: retained version count (the
    * time-travel window), live segment-chain length (the serving-cost
    * driver — every probe unions one scan per segment), applied-batch
    * marker count (how many stream batches the chain contains), and
    * the `table`'s total / live / tombstoned row counts under the
    * log-ordered delete semantics ([[withoutTombstoned]]). Works on a
    * [[pin]]ned path too (describes THAT version; the version count
    * still reports the whole directory). Driver cost: one chain
    * listing + three counting jobs over the chain's slim tables —
    * never the corpus.
    */
  def describe(spark: SparkSession, path: String,
      table: String, idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val nVersions = versions(spark, splitPin(path)._1).size.toLong
    val segs = segments(spark, path)
    val markers = segmentMarkers(spark, path)
    val data = chainTable(spark, path, table)
    val tomb = chainTable(spark, path, "tombstones")
    val total = data.map(_.count()).getOrElse(0L)
    val live = data.map(d => withoutTombstoned(d, tomb, idCol).count())
      .getOrElse(0L)
    val nTombIds = tomb.map(_.select(idCol).distinct().count()).getOrElse(0L)
    Seq((nVersions, segs.size.toLong, markers.size.toLong,
        total, live, nTombIds))
      .toDF("n_versions", "n_segments", "n_markers",
        "n_rows_total", "n_rows_live", "n_tombstone_ids")
      .withColumn("table_name", lit(table))
  }

  /** Log-structured delete semantics over a [[chainTable]] pair: a data
    * row is DEAD iff a tombstone for its id sits LATER in the chain —
    * so deletes only affect data already in the index when they were
    * published, and re-appending an id after its delete resurrects it
    * (the usual LSM/Delta contract). Tombstone sets are takedown-sized
    * (tiny next to the corpus), so the anti-join broadcasts them.
    * Drops the `__seg` ordinal from the surviving rows.
    */
  def withoutTombstoned(
      data: org.apache.spark.sql.DataFrame,
      tombstones: Option[org.apache.spark.sql.DataFrame],
      idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    tombstones match {
      case None => data.drop("__seg")
      case Some(t) =>
        val tt = broadcast(t.select(col(idCol).as("__tid"), col("__seg").as("__tseg")))
        data.join(tt,
            data(idCol) === tt("__tid") && tt("__tseg") > data("__seg"), "left_anti")
          .drop("__seg")
    }
  }

  private def versionDir(base: Path, version: String): Path =
    new Path(base, s"v-$version")

  private def readSegments(fs: FileSystem, vdir: Path): Seq[String] = {
    val f = new Path(vdir, SegmentsFile)
    if (!fs.exists(f)) Seq(vdir.toString) // pre-segments layout
    else readFile(fs, f).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      // relative entries (current layout) resolve against the index
      // base; absolute entries (older builds) pass through unchanged
      .map(e => if (e.contains("/")) e else new Path(vdir.getParent, e).toString)
  }

  private def writeFile(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def currentVersion(spark: SparkSession, path: String): Option[String] = {
    val (base, pinned) = splitPin(path)
    if (pinned.isDefined) return pinned
    val ptr = new Path(new Path(base), Pointer)
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The pointer flip is atomic on HDFS-like stores, but on the LOCAL
    // (Checksum) filesystem FileContext.rename(OVERWRITE) is
    // check-delete-rename of the data file and its .crc sidecar, so a
    // reader racing a flip can observe a microsecond window where
    // `_LATEST` is absent or its checksum torn. Writers serialize under
    // the flip lock; readers close the window by re-checking briefly —
    // but ONLY when a committed (`_SEGMENTS`-bearing) version dir is
    // already on disk, which is the precondition for a flip to be in
    // flight. A genuinely unbuilt index (no committed version) returns
    // None after one extra listing, keeping the cold build-if-missing
    // probe sleep-free.
    var attempt = 0
    while (true) {
      try {
        if (fs.exists(ptr))
          return Some(readFile(fs, ptr).trim).filter(_.nonEmpty)
      } catch { case _: java.io.IOException => () /* torn crc mid-flip */ }
      val committedOnDisk =
        try fs.exists(new Path(base)) && fs.listStatus(new Path(base)).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("v-") &&
            fs.exists(new Path(st.getPath, SegmentsFile)))
        catch { case _: java.io.IOException => false }
      if (!committedOnDisk) return None
      attempt += 1
      if (attempt >= 5) return None
      Thread.sleep(40L * attempt)
    }
    None // unreachable
  }
}
