package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.{CorpusDiff, Decontaminate, Dedup, Dsir, Search, SimilaritySearch}
import graft.sources.IndexIO

/** One persisted index family's lifecycle as ONE immutable value: how
  * the family builds, appends, deletes and compacts, closed over its
  * index `path` and its parameters. Every write to a family runs
  * through three entries — [[Streaming.maintain]] (a stream of new
  * rows), [[Streaming.maintainCdc]] (a change feed) and
  * [[graft.operators.IndexSync.sync]] (a snapshot diff) — so a
  * lifecycle change lands once for every family. There is one
  * constructor per family in the companion.
  *
  * A change set — added + changed rows to append, removed + changed
  * rows to delete — applies through one step ([[applyChanges]]), which
  * a change feed and a snapshot sync share:
  *
  *  - TOMBSTONE families (all but the three below) delete first — a
  *    log-ordered segment of the dying ids, so a changed row's new
  *    version, appended after it, serves — then append. An empty half
  *    publishes nothing, and a marker rides the last publish. The
  *    family's delete and compaction are its [[IndexFamily.Stored]]
  *    value, which a batch caller also builds on its own.
  *  - RETRACTION families — [[IndexFamily.dsir]],
  *    [[IndexFamily.dsirByGroup]] and [[IndexFamily.eval]] — hold
  *    additive counts, so a delete must unsee the retired rows' counts
  *    rather than shadow ids: the added rows and the retired rows (their
  *    OLD text) publish as ONE atomic marked segment holding the net
  *    profile ([[graft.operators.Dsir.applyDsirIndexCdc]],
  *    [[graft.operators.Decontaminate.applyEvalIndexCdc]]), so a
  *    crash-replayed batch never retracts twice.
  *  - FOLDING families — [[IndexFamily.bm25]] and
  *    [[IndexFamily.lexical]] — can also fold a change set into their
  *    compaction ([[graft.operators.Search.compactBm25Index]]): a CDC
  *    batch due to compact publishes itself and the compaction as one
  *    version.
  *
  * A change set names its rows by the family's `idCol`; a change feed
  * of a retraction family carries each retired row's old text in
  * `oldTextCol`.
  */
final class IndexFamily private (
    val path: String,
    idCol: String,
    diffKey: DataFrame => DataFrame,
    private[graft] val build: (DataFrame, Option[String]) => Unit,
    private[graft] val append: (DataFrame, Option[String]) => Unit,
    deletes: Either[IndexFamily.Retraction, IndexFamily.Stored],
    compaction: SparkSession => Unit,
    private[graft] val fold: Option[(SparkSession, ChangeSet, String) => Unit] = None) {

  /** Delete `rows` from the committed index. A tombstone family reads
    * only the rows' `idCol`; a retraction family takes the retired rows
    * themselves (its text column, and its group column when it has one)
    * and unsees their counts.
    */
  def delete(rows: DataFrame): Unit = applyChanges(ChangeSet(None, Some(rows)), None)

  /** Collapse the committed index's chain to one segment of live rows;
    * applied-batch markers carry forward. A one-segment chain is left as
    * it is.
    */
  def compact(spark: SparkSession): Unit = compaction(spark)

  /** The change set of one change-feed micro-batch (status in `statusCol`). */
  private[graft] def feedChanges(batch: DataFrame, statusCol: String): ChangeSet =
    ChangeSet.classify(batch, statusCol)(identity,
      rows => deletes.fold(_.retired(rows), _ => rows.select(idCol)))

  /** The change set of `oldSnapshot -> newSnapshot`: the diff's added and
    * changed ids pick the new snapshot's rows, its removed and changed
    * ids are deleted (a retraction family re-reads their old rows).
    */
  private[graft] def snapshotChanges(oldSnapshot: DataFrame, newSnapshot: DataFrame): ChangeSet = {
    val (oldKey, newKey) = (diffKey(oldSnapshot), diffKey(newSnapshot))
    def rowsOf(snapshot: DataFrame, ids: DataFrame) =
      snapshot.join(ids.select(idCol), Seq(idCol), "left_semi")
    val diff = CorpusDiff.diff(oldKey, newKey, idCol, newKey.columns.toSeq.filter(_ != idCol))
    ChangeSet.classify(diff, "status")(rowsOf(newSnapshot, _),
      if (deletes.isLeft) rowsOf(oldSnapshot, _) else _.select(idCol))
  }

  /** Apply a non-empty change set to the committed index, `marker` on
    * its last publish. A tombstone family deletes, then appends; when
    * the append publishes nothing (no indexable rows), the marker gets a
    * segment of its own, or a replay would publish the deletes again.
    */
  private[graft] def applyChanges(cs: ChangeSet, marker: Option[String]): Unit =
    deletes match {
      case Left(r) =>
        // an empty half is an empty frame of the other half's shape
        r.publish(cs.adds.getOrElse(cs.dels.get.limit(0)), cs.dels.getOrElse(cs.adds.get.limit(0)),
          marker)
      case Right(stored) =>
        cs.dels.foreach(stored.deleteMarked(_, marker.filter(_ => cs.adds.isEmpty)))
        cs.adds.foreach { a =>
          if (!IndexIO.commits(append(a, marker)) && cs.dels.nonEmpty)
            marker.foreach(m => IndexIO.publishDelta(a.sparkSession, path, m)(_ => ()))
        }
    }
}

/** One classified change set: `adds` the rows to append, `dels` the rows
  * to delete (ids, or a retraction family's retired rows); a half with
  * no rows is None.
  */
private[graft] final case class ChangeSet(adds: Option[DataFrame], dels: Option[DataFrame]) {
  def isEmpty: Boolean = adds.isEmpty && dels.isEmpty

  /** Segments delete-then-append publishes for it: one per non-empty half. */
  def publishes: Int = adds.size + dels.size
}

private[graft] object ChangeSet {
  /** Classify `changes` by `statusCol` in ONE pass: the job that pins
    * the rows also counts the adds (`added`, `changed`) and the deletes
    * (`removed`, `changed`) as an observed aggregate, so neither half
    * needs a probe job of its own. `adds`/`dels` map each half's rows.
    */
  def classify(changes: DataFrame, statusCol: String)(
      adds: DataFrame => DataFrame, dels: DataFrame => DataFrame): ChangeSet = {
    val isAdd = col(statusCol).isin("added", "changed")
    val isDel = col(statusCol).isin("removed", "changed")
    val counts = org.apache.spark.sql.Observation()
    val pinned = changes.observe(counts,
        count(when(isAdd, lit(1))).as("adds"), count(when(isDel, lit(1))).as("dels"))
      .localCheckpoint(true)
    def half(name: String, is: Column, rows: DataFrame => DataFrame) =
      Option.when(counts.get(name).asInstanceOf[Long] > 0)(rows(pinned.filter(is)))
    ChangeSet(half("adds", isAdd, adds), half("dels", isDel, dels))
  }
}

object IndexFamily {
  private type Write = (DataFrame, Option[String]) => Unit

  /** A retraction family's delete: `retired` maps a change feed's
    * delete rows to the retired rows, `publish(adds, retired, marker)`
    * publishes a change set as one segment.
    */
  private final case class Retraction(
      retired: DataFrame => DataFrame, publish: (DataFrame, DataFrame, Option[String]) => Unit)

  /** A committed tombstone index's batch reach: [[delete]] and
    * [[compact]] read only the index's `path`, the rows' id column and
    * the family's layout, so a batch caller names no build parameter.
    * The companion has one constructor per tombstone family, each taking
    * `(idCol, path)`; the family's value holds the same one.
    */
  final class Stored private (val path: String, private[IndexFamily] val idCol: String,
      private[streaming] val deleteMarked: Write, compaction: SparkSession => Unit) {

    /** Tombstone the rows `ids` names in its id column: one segment. */
    def delete(ids: DataFrame): Unit = deleteMarked(ids, None)

    /** Collapse the chain to one segment of live rows; applied-batch
      * markers carry forward. A one-segment chain is left as it is.
      */
    def compact(spark: SparkSession): Unit = compaction(spark)
  }

  object Stored {
    /** Deletes and compacts through [[graft.sources.IndexIO.delete]] and
      * [[graft.sources.IndexIO.compact]] over `layout`, unless the family
      * rewrites rows in a `delete` or `compact` of its own.
      */
    private def of(idCol: String, path: String, layout: IndexIO.TombstoneLayout)(
        delete: Option[Write] = None, compact: Option[SparkSession => Unit] = None): Stored =
      new Stored(path, idCol,
        delete.getOrElse((d, m) => IndexIO.delete(d.sparkSession, path, layout,
          d.select(col(idCol).as(layout.key)), m)(_ => ())),
        compact.getOrElse(IndexIO.compact(_, path, layout)))

    /** The postings families' stats-correcting delete and their
      * compaction (the full postings schema, positions included).
      */
    def bm25(idCol: String, path: String): Stored = new Stored(path, idCol,
      (d, m) => Search.deleteFromBm25Index(d.sparkSession, path, d, idCol, m),
      Search.compactBm25Index(_, path))

    /** [[bm25]]: the doc-id tombstone covers both serving paths. */
    def lexical(idCol: String, path: String): Stored = bm25(idCol, path)

    /** Deletes carry the meta forward; compaction re-derives the postings
      * from the live sketches.
      */
    def minhash(idCol: String, path: String): Stored =
      of(idCol, path, IndexIO.TombstoneLayout(Nil, Seq("meta"), "doc_id"))(
        compact = Some(Dedup.compactMinhashIndex(_, path)))

    /** The `cells` table of the IVF families, partitioned by cell (and by
      * meta too on an IVF-PQ index built with a meta column).
      */
    private val cells = IndexIO.DataTable("cells", partitionBy = Seq("cell", "meta"))

    def ivf(idCol: String, path: String): Stored =
      of(idCol, path, IndexIO.TombstoneLayout(Seq(cells), Seq("centroids"), "neighbor_id"))()

    def ivfSq8(idCol: String, path: String): Stored = ivf(idCol, path)

    def pq(idCol: String, path: String): Stored = of(idCol, path,
      IndexIO.TombstoneLayout(Seq(IndexIO.DataTable("codes")), Seq("codebook"), "neighbor_id"))()

    /** The `vectors` rerank side-file is compacted when the index has one. */
    def ivfPq(idCol: String, path: String): Stored = of(idCol, path, IndexIO.TombstoneLayout(
      Seq(cells, IndexIO.DataTable("vectors", required = false)), Seq("centroids", "codebook"),
      "neighbor_id"))()

    /** Deletes carry the blocking model forward; compaction rewrites the
      * members with their resolved labels.
      */
    def semDedup(idCol: String, path: String): Stored = of(idCol, path,
      IndexIO.TombstoneLayout(Nil, Seq("centroids", "meta"), "neighbor_id"))(
      compact = Some(SimilaritySearch.compactSemDedupIndex(_, path)))

    /** The perceptual-hash families' shared 8-byte `hashes` table. */
    private def hashes(idCol: String, path: String): Stored =
      of(idCol, path, IndexIO.TombstoneLayout(Seq(IndexIO.DataTable("hashes")), Nil, idCol))()

    def aHash(idCol: String, path: String): Stored = hashes(idCol, path)
    def pHash(idCol: String, path: String): Stored = hashes(idCol, path)
    def audioHash(idCol: String, path: String): Stored = hashes(idCol, path)

    def audioFp(idCol: String, path: String): Stored =
      of(idCol, path, IndexIO.TombstoneLayout(Seq(IndexIO.DataTable("postings")), Nil, idCol))()

    def scene(idCol: String, path: String): Stored =
      of(idCol, path, IndexIO.TombstoneLayout(Seq(IndexIO.DataTable("scenes")), Nil, idCol))()
  }

  /** A tombstone family of `stored` whose snapshots diff on `diffKey`. */
  private def tombstoned(stored: Stored, diffKey: DataFrame => DataFrame)(
      build: Write, append: Write,
      fold: Option[(SparkSession, ChangeSet, String) => Unit] = None): IndexFamily =
    new IndexFamily(stored.path, stored.idCol, diffKey, build, append, Right(stored),
      stored.compact, fold)

  /** A tombstone family of `stored` whose snapshots diff on its id and
    * `valueCol`: a vector family appends with the frozen model trained at
    * bootstrap; a binary column diffs by content hash like text, so a
    * re-encoded blob is a changed row and only it decodes again.
    */
  private def byValue(stored: Stored, valueCol: String)(build: Write, append: Write)
      : IndexFamily =
    tombstoned(stored, _.select(stored.idCol, valueCol))(build, append)

  /** The fixed target corpus a DSIR bootstrap profiles: `df`'s `textCol`
    * hashed into `buckets` buckets.
    */
  final case class DsirTarget(df: DataFrame, textCol: String, buckets: Int)

  private def noTarget(path: String): Nothing = throw new IllegalStateException(
    s"no DSIR model at $path, and no target corpus to bootstrap one")

  /** [[graft.operators.Search.buildBm25Index]]: a folding family. */
  def bm25(idCol: String, textCol: String, path: String): IndexFamily =
    postings(idCol, textCol, path)(
      (a, m) => Search.buildBm25Index(a, idCol, textCol, path, marker = m),
      (a, m) => Search.appendToBm25Index(a, idCol, textCol, path, marker = m))

  /** [[graft.operators.Search.buildLexicalIndex]] (tf AND positions): the
    * BM25 family's delete, compaction and fold serve it unchanged — the
    * doc-id tombstone covers both serving paths.
    */
  def lexical(idCol: String, textCol: String, path: String): IndexFamily =
    postings(idCol, textCol, path)(
      (a, m) => Search.buildLexicalIndex(a, idCol, textCol, path, marker = m),
      (a, m) => Search.appendToLexicalIndex(a, idCol, textCol, path, marker = m))

  /** The postings families' shared [[Stored.bm25]] and CDC fold. */
  private def postings(idCol: String, textCol: String, path: String)(
      build: Write, append: Write): IndexFamily =
    tombstoned(Stored.bm25(idCol, path), _.select(idCol, textCol))(build, append,
      Some((s, cs, m) => Search.compactBm25Index(s, path,
        Some(Search.CdcBatch(cs.dels, cs.adds, idCol, textCol, m)))))

  /** [[graft.operators.Dedup.buildMinhashIndex]]: appends band with the
    * index's own stored meta ([[Stored.minhash]]).
    */
  def minhash(idCol: String, textCol: String, path: String, n: Int = 3,
      numHashes: Int = 128, bands: Int = 32): IndexFamily =
    byValue(Stored.minhash(idCol, path), textCol)(
      (a, m) => Dedup.buildMinhashIndex(a, idCol, textCol, path, n, numHashes, bands, m),
      (a, m) => Dedup.appendToMinhashIndex(a, idCol, textCol, path, m))

  /** [[graft.operators.SimilaritySearch.buildIvfIndex]]: added and
    * changed vectors assign to the FROZEN centroids (no retrain on the
    * write path — [[graft.operators.SimilaritySearch.ivfIndexDrift]] is
    * the retrain signal).
    */
  def ivf(idCol: String, vecCol: String, path: String, nCentroids: Int = 16,
      iters: Int = 5): IndexFamily =
    byValue(Stored.ivf(idCol, path), vecCol)(
      (a, m) => SimilaritySearch.buildIvfIndex(a, idCol, vecCol, path, nCentroids, iters, m),
      (a, m) => SimilaritySearch.appendToIvfIndex(a.sparkSession, path, a, idCol, vecCol, m))

  /** [[graft.operators.SimilaritySearch.buildIvfSq8Index]]: float
    * centroids, SQ8-quantized cells. Appends assign on the float values
    * and land quantized; per-vector quantization is
    * centroid-independent, so at exhaustive probes a maintained chain
    * equals the one-shot quantized scan exactly.
    */
  def ivfSq8(idCol: String, vecCol: String, path: String, nCentroids: Int = 16,
      iters: Int = 5): IndexFamily =
    byValue(Stored.ivfSq8(idCol, path), vecCol)(
      (a, m) => SimilaritySearch.buildIvfSq8Index(a, idCol, vecCol, path, nCentroids, iters, m),
      (a, m) => SimilaritySearch.appendToIvfSq8Index(a.sparkSession, path, a, idCol, vecCol, m))

  /** [[graft.operators.SimilaritySearch.buildPqIndex]]: the flat PQ code table. */
  def pq(idCol: String, vecCol: String, path: String, m: Int = 32,
      kCodes: Int = 32): IndexFamily =
    byValue(Stored.pq(idCol, path), vecCol)(
      (a, mk) => SimilaritySearch.buildPqIndex(a, idCol, vecCol, path, m = m,
        kCodes = kCodes, marker = mk),
      (a, mk) => SimilaritySearch.appendToPqIndex(a, idCol, vecCol, path, mk))

  /** [[graft.operators.SimilaritySearch.buildIvfPqIndex]]: frozen
    * centroids AND codebooks encode every later row.
    */
  def ivfPq(idCol: String, vecCol: String, path: String, nCentroids: Int = 16,
      m: Int = 32, kCodes: Int = 32): IndexFamily =
    byValue(Stored.ivfPq(idCol, path), vecCol)(
      (a, mk) => SimilaritySearch.buildIvfPqIndex(a, idCol, vecCol, path,
        nCentroids = nCentroids, m = m, kCodes = kCodes, marker = mk),
      (a, mk) => SimilaritySearch.appendToIvfPqIndex(a, idCol, vecCol, path, marker = mk))

  /** [[graft.operators.SimilaritySearch.buildSemDedupIndex]]: appends
    * resolve against the frozen blocking model ([[Stored.semDedup]]); a
    * deleted member leaves every view, and its component's keeper
    * re-elects at read.
    */
  def semDedup(idCol: String, vecCol: String, path: String, k: Int, threshold: Double,
      iters: Int = 5): IndexFamily =
    byValue(Stored.semDedup(idCol, path), vecCol)(
      (a, m) => SimilaritySearch.buildSemDedupIndex(a, idCol, vecCol, path, k, threshold,
        iters, m),
      (a, m) => SimilaritySearch.applySemDedupBatch(a.sparkSession, path, a, idCol, vecCol, m))

  /** [[graft.multimodal.Multimodal.buildAHashIndex]]: image average-hash. */
  def aHash(idCol: String, binCol: String, path: String): IndexFamily =
    byValue(Stored.aHash(idCol, path), binCol)(
      (a, m) => Multimodal.buildAHashIndex(a, idCol, binCol, path, m),
      (a, m) => Multimodal.appendToAHashIndex(a, idCol, binCol, path, m))

  /** [[graft.multimodal.Multimodal.buildPHashIndex]]: the crop/rescale-robust DCT hash. */
  def pHash(idCol: String, binCol: String, path: String): IndexFamily =
    byValue(Stored.pHash(idCol, path), binCol)(
      (a, m) => Multimodal.buildPHashIndex(a, idCol, binCol, path, m),
      (a, m) => Multimodal.appendToPHashIndex(a, idCol, binCol, path, m))

  /** [[graft.multimodal.Multimodal.buildAudioHashIndex]]: the audio envelope hash. */
  def audioHash(idCol: String, binCol: String, path: String): IndexFamily =
    byValue(Stored.audioHash(idCol, path), binCol)(
      (a, m) => Multimodal.buildAudioHashIndex(a, idCol, binCol, path, m),
      (a, m) => Multimodal.appendToAudioHashIndex(a, idCol, binCol, path, m))

  /** [[graft.multimodal.Multimodal.buildAudioFpIndex]]: shift-robust
    * `(id, fp)` postings; `(windowSamples, k, w)` are baked in, so probes
    * must use the same values.
    */
  def audioFp(idCol: String, binCol: String, path: String, windowSamples: Int = 400,
      k: Int = 16, w: Int = 4): IndexFamily =
    byValue(Stored.audioFp(idCol, path), binCol)(
      (a, m) => Multimodal.buildAudioFpIndex(a, idCol, binCol, path, windowSamples, k, w, m),
      (a, m) => Multimodal.appendToAudioFpIndex(a, idCol, binCol, path, windowSamples, k, w, m))

  /** [[graft.multimodal.Multimodal.buildSceneIndex]] over frame rows
    * `(idCol, frameIdxCol, frameBinCol)`; a video's frames must arrive
    * together (cuts are inter-frame). With `framesCol`, a row is instead
    * a WHOLE video: an array of structs with fields `frameIdxCol` and
    * `frameBinCol` — the change-feed shape, where a re-cut video arrives
    * as `changed` and null or empty frame arrays on delete rows are fine
    * (a delete reads only the ids). Frame-row snapshots diff on
    * a per-video fingerprint, the XOR of the DISTINCT frames'
    * `xxhash64(frameIdx, frameBin)`: an unordered set hash that any
    * added, dropped, re-cut or re-encoded frame moves, that cannot
    * overflow under ANSI arithmetic as a sum would, and that duplicated
    * frame rows (an at-least-once extract replaying) leave unchanged.
    */
  def scene(idCol: String, frameIdxCol: String, frameBinCol: String, path: String,
      sceneMaxHamming: Int = 16, framesCol: Option[String] = None): IndexFamily = {
    def frames(a: DataFrame) = framesCol.fold(a)(f => a
      .select(col(idCol), explode(col(f)).as("__graft_f"))
      .select(col(idCol), col(s"__graft_f.`$frameIdxCol`").as(frameIdxCol),
        col(s"__graft_f.`$frameBinCol`").as(frameBinCol)))
    def fingerprint(df: DataFrame) = framesCol.fold(df
      .select(col(idCol), xxhash64(col(frameIdxCol), col(frameBinCol)).as("__graft_fh"))
      .distinct()
      .groupBy(col(idCol)).agg(bit_xor(col("__graft_fh")).as("__graft_fp")))(
      f => df.select(idCol, f))
    tombstoned(Stored.scene(idCol, path), fingerprint)(
      (a, m) => Multimodal.buildSceneIndex(frames(a), idCol, frameIdxCol, frameBinCol, path,
        sceneMaxHamming, m),
      (a, m) => Multimodal.appendToSceneIndex(frames(a), idCol, frameIdxCol, frameBinCol, path,
        sceneMaxHamming, m))
  }

  /** [[graft.operators.Dsir.buildDsirIndex]]: a retraction family with no
    * id in its artifact (profiles are bucket counts). A bootstrap fits
    * the fixed target profile from `target`; a family without one only
    * updates an existing model.
    */
  def dsir(textCol: String, path: String, target: Option[DsirTarget] = None,
      idCol: String = "doc_id", oldTextCol: String = "old_text"): IndexFamily =
    new IndexFamily(path, idCol, _.select(idCol, textCol),
      (a, m) => target.fold[Unit](noTarget(path))(t =>
        Dsir.buildDsirIndex(t.df, t.textCol, a, textCol, t.buckets, path, m)),
      (a, m) => Dsir.appendToDsirIndex(a, textCol, path, m),
      Left(Retraction(_.select(col(oldTextCol).as(textCol)),
        (a, d, m) => Dsir.applyDsirIndexCdc(a, d, textCol, path, m))),
      s => Dsir.compactDsirIndex(s, path))

  /** [[graft.operators.Dsir.buildDsirIndexByGroup]]: [[dsir]] per group
    * (`groupCol`; `targetGroupCol` in the target). A change row's group
    * names the group of both its versions.
    */
  def dsirByGroup(textCol: String, groupCol: String, path: String,
      target: Option[DsirTarget] = None, targetGroupCol: String = "grp",
      idCol: String = "doc_id", oldTextCol: String = "old_text"): IndexFamily =
    new IndexFamily(path, idCol, _.select(idCol, textCol, groupCol),
      (a, m) => target.fold[Unit](noTarget(path))(t => Dsir.buildDsirIndexByGroup(t.df, t.textCol,
        targetGroupCol, a, textCol, groupCol, t.buckets, path, m)),
      (a, m) => Dsir.appendToDsirIndexByGroup(a, textCol, groupCol, path, m),
      Left(Retraction(_.select(col(oldTextCol).as(textCol), col(groupCol)),
        (a, d, m) => Dsir.applyDsirIndexByGroupCdc(a, d, textCol, groupCol, path, m))),
      s => Dsir.compactDsirIndex(s, path))

  /** [[graft.operators.Decontaminate.buildEvalIndex]]: the eval-hash
    * retraction family (additive shingle-occurrence counts) — a hash
    * shared by a withdrawn and a surviving benchmark keeps gating. `n`
    * is the shingle width a bootstrap fixes.
    */
  def eval(textCol: String, path: String, n: Int = 8, idCol: String = "doc_id",
      oldTextCol: String = "old_text"): IndexFamily =
    new IndexFamily(path, idCol, _.select(idCol, textCol),
      (a, m) => Decontaminate.buildEvalIndex(a, textCol, path, n, m),
      (a, m) => Decontaminate.appendToEvalIndex(a, textCol, path, m),
      Left(Retraction(_.select(col(oldTextCol).as(textCol)),
        (a, d, m) => Decontaminate.applyEvalIndexCdc(a, d, textCol, path, m))),
      s => Decontaminate.compactEvalIndex(s, path))
}
