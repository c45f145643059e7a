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
  *    publishes nothing, and a marker rides the last publish.
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
    deletes: Either[IndexFamily.Retraction, (DataFrame, Option[String]) => Unit],
    private[graft] val compact: SparkSession => Unit,
    private[graft] val fold: Option[(SparkSession, ChangeSet, String) => Unit] = None) {

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
      case Right(delete) =>
        cs.dels.foreach(delete(_, marker.filter(_ => cs.adds.isEmpty)))
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

  /** A tombstone family whose snapshots diff on `content`. */
  private def tombstoned(path: String, idCol: String, content: String)(
      build: Write, append: Write, delete: Write, compact: SparkSession => Unit,
      fold: Option[(SparkSession, ChangeSet, String) => Unit] = None): IndexFamily =
    new IndexFamily(path, idCol, _.select(idCol, content), build, append, Right(delete),
      compact, fold)

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

  /** The postings families' shared delete (stats-correcting), compaction
    * (the full postings schema, positions included) and CDC fold.
    */
  private def postings(idCol: String, textCol: String, path: String)(
      build: Write, append: Write): IndexFamily =
    tombstoned(path, idCol, textCol)(build, append,
      (d, m) => Search.deleteFromBm25Index(d.sparkSession, path, d, idCol, m),
      s => Search.compactBm25Index(s, path, None),
      Some((s, cs, m) => Search.compactBm25Index(s, path,
        Some(Search.CdcBatch(cs.dels, cs.adds, idCol, textCol, m)))))

  /** [[graft.operators.Dedup.buildMinhashIndex]]: appends band with the
    * index's own stored meta.
    */
  def minhash(idCol: String, textCol: String, path: String, n: Int = 3,
      numHashes: Int = 128, bands: Int = 32, bandBuckets: Int = 64): IndexFamily =
    tombstoned(path, idCol, textCol)(
      (a, m) => Dedup.buildMinhashIndex(a, idCol, textCol, path, n, numHashes, bands,
        bandBuckets, m),
      (a, m) => Dedup.appendToMinhashIndex(a, idCol, textCol, path, bandBuckets, m),
      (d, m) => Dedup.deleteFromMinhashIndex(d.sparkSession, path, d, idCol, m),
      s => Dedup.compactMinhashIndex(s, path, bandBuckets))

  /** A vector family: deletes through the cells-schema-agnostic
    * [[graft.operators.SimilaritySearch.deleteFromAnnIndex]], appends
    * with the frozen model trained at bootstrap.
    */
  private def ann(idCol: String, vecCol: String, path: String)(
      build: Write, append: Write, compact: SparkSession => Unit): IndexFamily =
    tombstoned(path, idCol, vecCol)(build, append,
      (d, m) => SimilaritySearch.deleteFromAnnIndex(d.sparkSession, path, d, idCol, m), compact)

  /** [[graft.operators.SimilaritySearch.buildIvfIndex]]. */
  def ivf(idCol: String, vecCol: String, path: String, nCentroids: Int = 16,
      iters: Int = 5): IndexFamily =
    ann(idCol, vecCol, path)(
      (a, m) => SimilaritySearch.buildIvfIndex(a, idCol, vecCol, path, nCentroids, iters, m),
      (a, m) => SimilaritySearch.appendToIvfIndex(a.sparkSession, path, a, idCol, vecCol, m),
      s => SimilaritySearch.compactIvfIndex(s, path))

  /** [[graft.operators.SimilaritySearch.buildIvfSq8Index]]: float
    * centroids, SQ8-quantized cells.
    */
  def ivfSq8(idCol: String, vecCol: String, path: String, nCentroids: Int = 16,
      iters: Int = 5): IndexFamily =
    ann(idCol, vecCol, path)(
      (a, m) => SimilaritySearch.buildIvfSq8Index(a, idCol, vecCol, path, nCentroids, iters, m),
      (a, m) => SimilaritySearch.appendToIvfSq8Index(a.sparkSession, path, a, idCol, vecCol, m),
      s => SimilaritySearch.compactIvfIndex(s, path))

  /** [[graft.operators.SimilaritySearch.buildPqIndex]]: the flat PQ code table. */
  def pq(idCol: String, vecCol: String, path: String, m: Int = 32,
      kCodes: Int = 32): IndexFamily =
    ann(idCol, vecCol, path)(
      (a, mk) => SimilaritySearch.buildPqIndex(a, idCol, vecCol, path, m = m,
        kCodes = kCodes, marker = mk),
      (a, mk) => SimilaritySearch.appendToPqIndex(a, idCol, vecCol, path, mk),
      s => SimilaritySearch.compactPqIndex(s, path))

  /** [[graft.operators.SimilaritySearch.buildIvfPqIndex]]: frozen
    * centroids AND codebooks encode every later row.
    */
  def ivfPq(idCol: String, vecCol: String, path: String, nCentroids: Int = 16,
      m: Int = 32, kCodes: Int = 32): IndexFamily =
    ann(idCol, vecCol, path)(
      (a, mk) => SimilaritySearch.buildIvfPqIndex(a, idCol, vecCol, path,
        nCentroids = nCentroids, m = m, kCodes = kCodes, marker = mk),
      (a, mk) => SimilaritySearch.appendToIvfPqIndex(a, idCol, vecCol, path, marker = mk),
      s => SimilaritySearch.compactIvfPqIndex(s, path))

  /** [[graft.operators.SimilaritySearch.buildSemDedupIndex]]: appends
    * resolve against the frozen blocking model; a deleted keeper's
    * cluster re-elects at read.
    */
  def semDedup(idCol: String, vecCol: String, path: String, k: Int, threshold: Double,
      iters: Int = 5): IndexFamily =
    tombstoned(path, idCol, vecCol)(
      (a, m) => SimilaritySearch.buildSemDedupIndex(a, idCol, vecCol, path, k, threshold,
        iters, m),
      (a, m) => SimilaritySearch.applySemDedupBatch(a.sparkSession, path, a, idCol, vecCol, m),
      (d, m) => SimilaritySearch.deleteFromSemDedupIndex(d.sparkSession, path, d, idCol, m),
      s => SimilaritySearch.compactSemDedupIndex(s, path))

  /** A perceptual-hash family over the shared 8-byte `hashes` layout:
    * the binary column diffs by content hash like text, so a re-encoded
    * blob is a changed row and only it decodes again.
    */
  private def hashes(idCol: String, binCol: String, path: String)(
      build: Write, append: Write): IndexFamily =
    tombstoned(path, idCol, binCol)(build, append,
      (d, m) => Multimodal.deleteFromAHashIndex(d, idCol, path, m),
      s => Multimodal.compactAHashIndex(s, path, idCol))

  /** [[graft.multimodal.Multimodal.buildAHashIndex]]: image average-hash. */
  def aHash(idCol: String, binCol: String, path: String): IndexFamily =
    hashes(idCol, binCol, path)(
      (a, m) => Multimodal.buildAHashIndex(a, idCol, binCol, path, m),
      (a, m) => Multimodal.appendToAHashIndex(a, idCol, binCol, path, m))

  /** [[graft.multimodal.Multimodal.buildPHashIndex]]: the crop/rescale-robust DCT hash. */
  def pHash(idCol: String, binCol: String, path: String): IndexFamily =
    hashes(idCol, binCol, path)(
      (a, m) => Multimodal.buildPHashIndex(a, idCol, binCol, path, m),
      (a, m) => Multimodal.appendToPHashIndex(a, idCol, binCol, path, m))

  /** [[graft.multimodal.Multimodal.buildAudioHashIndex]]: the audio envelope hash. */
  def audioHash(idCol: String, binCol: String, path: String): IndexFamily =
    hashes(idCol, binCol, path)(
      (a, m) => Multimodal.buildAudioHashIndex(a, idCol, binCol, path, m),
      (a, m) => Multimodal.appendToAudioHashIndex(a, idCol, binCol, path, m))

  /** [[graft.multimodal.Multimodal.buildAudioFpIndex]]: shift-robust
    * `(id, fp)` postings; `(windowSamples, k, w)` are baked in, so probes
    * must use the same values.
    */
  def audioFp(idCol: String, binCol: String, path: String, windowSamples: Int = 400,
      k: Int = 16, w: Int = 4): IndexFamily =
    tombstoned(path, idCol, binCol)(
      (a, m) => Multimodal.buildAudioFpIndex(a, idCol, binCol, path, windowSamples, k, w, m),
      (a, m) => Multimodal.appendToAudioFpIndex(a, idCol, binCol, path, windowSamples, k, w, m),
      (d, m) => Multimodal.deleteFromAudioFpIndex(d, idCol, path, m),
      s => Multimodal.compactAudioFpIndex(s, path, idCol))

  /** [[graft.multimodal.Multimodal.buildSceneIndex]] over frame rows
    * `(idCol, frameIdxCol, frameBinCol)`; a video's frames must arrive
    * together (cuts are inter-frame). With `framesCol`, a row is instead
    * a WHOLE video: an array of structs with fields `frameIdxCol` and
    * `frameBinCol` — the change-feed shape. Frame-row snapshots diff on
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
    new IndexFamily(path, idCol, fingerprint,
      (a, m) => Multimodal.buildSceneIndex(frames(a), idCol, frameIdxCol, frameBinCol, path,
        sceneMaxHamming, m),
      (a, m) => Multimodal.appendToSceneIndex(frames(a), idCol, frameIdxCol, frameBinCol, path,
        sceneMaxHamming, m),
      Right((d, m) => Multimodal.deleteFromSceneIndex(d, idCol, path, m)),
      s => Multimodal.compactSceneIndex(s, path, idCol))
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
