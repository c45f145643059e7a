package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.IndexFamily

/** CDC → index synchronization: make a persisted index match a NEW
  * corpus snapshot in one call, by feeding [[CorpusDiff.diff]]'s
  * change sets through the family's existing lifecycle operations —
  * tombstone the `removed` + `changed` ids first
  * (`deleteFrom*`/`deleteFromAnnIndex`), then append the `added` +
  * `changed` rows (`appendTo*`). The tombstones are LOG-ORDERED
  * ([[graft.sources.IndexIO.withoutTombstoned]]), so the re-appended
  * version of a changed doc lands AFTER its tombstone and serves —
  * the index ends exactly as a one-shot build on the new snapshot
  * would, without touching the unchanged rows.
  *
  * == Scale design ==
  * The diff shuffles `(id, fingerprint)` only (~16 bytes/row whatever
  * the document width); the append legs re-read ONLY the added/changed
  * rows of the new snapshot (a left-semi join against the slim change
  * set — at a steady-state crawl that is the per-day delta, not the
  * corpus); the delete legs publish one broadcast-sized tombstone
  * segment. A no-change sync publishes NOTHING: the pass that
  * materializes the diff also counts each leg (an observed aggregate),
  * and an empty leg is skipped.
  *
  * Every family syncs through the one [[sync]] entry and its
  * [[graft.streaming.IndexFamily]] value, whose change-set step the CDC
  * maintainers share; the retraction families (DSIR, eval hashes)
  * publish a sync as one segment. The `sync*Index` functions forward to
  * it.
  */
object IndexSync {

  /** Sync `family`'s index to `newSnapshot`, diffed against
    * `oldSnapshot` ([[CorpusDiff.diff]] on the family's content): the
    * removed and changed rows die, the added and changed rows land,
    * through [[graft.streaming.IndexFamily]]'s change-set step.
    */
  def sync(family: IndexFamily, oldSnapshot: DataFrame, newSnapshot: DataFrame): Unit = {
    val cs = family.snapshotChanges(oldSnapshot, newSnapshot)
    if (!cs.isEmpty) family.applyChanges(cs, None)
  }

  /** Sync a [[Search.buildBm25Index]] artifact to `newSnapshot`
    * (diffed against `oldSnapshot` on `textCol`): tombstones correct
    * the BM25 stats for the dying docs, appends add the new ones —
    * serving afterwards equals a one-shot build on the new snapshot
    * exactly (df/idf/avgdl all land on the new corpus's values).
    */
  def syncBm25Index(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String,
      termBuckets: Int = 64): Unit =
    sync(IndexFamily.bm25(idCol, textCol, path), oldSnapshot, newSnapshot)

  /** [[syncBm25Index]] for the unified lexical artifact
    * ([[Search.buildLexicalIndex]] — tf AND positions): one sync keeps
    * BM25 ranking, phrase retrieval, and the fused hybrid current. The
    * delete goes through [[Search.deleteFromBm25Index]] — its doc-id
    * tombstone covers BOTH serving paths (the anti-join is
    * schema-agnostic) and it corrects the stats the artifact's BM25
    * leg serves from, which the positional-only delete does not carry.
    */
  def syncLexicalIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String,
      termBuckets: Int = 64): Unit =
    sync(IndexFamily.lexical(idCol, textCol, path), oldSnapshot, newSnapshot)

  /** Sync a [[Dedup.buildMinhashIndex]] artifact: tombstoned sketches
    * leave the band postings, the added/changed docs re-sketch with
    * the index's own stored banding meta.
    */
  def syncMinhashIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String,
      bandBuckets: Int = 64): Unit =
    sync(IndexFamily.minhash(idCol, textCol, path, bandBuckets = bandBuckets), oldSnapshot,
      newSnapshot)

  /** Sync a [[SimilaritySearch.buildIvfIndex]] artifact: changed/added
    * vectors assign to the FROZEN centroids (no retrain — pair with
    * [[SimilaritySearch.ivfIndexDrift]] to decide when a retrain is
    * due), removed/changed old versions tombstone.
    */
  def syncIvfIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    sync(IndexFamily.ivf(idCol, vecCol, path), oldSnapshot, newSnapshot)

  /** [[syncIvfIndex]] for the flat PQ code table. */
  def syncPqIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    sync(IndexFamily.pq(idCol, vecCol, path), oldSnapshot, newSnapshot)

  /** Sync a [[graft.multimodal.Multimodal.buildAHashIndex]] artifact
    * (image average-hash) to a new media snapshot. */
  def syncAHashIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, binCol: String, path: String): Unit =
    sync(IndexFamily.aHash(idCol, binCol, path), oldSnapshot, newSnapshot)

  /** [[syncAHashIndex]] for the pHash (DCT) index — the tombstone
    * layout is shared, only the hash function differs. */
  def syncPHashIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, binCol: String, path: String): Unit =
    sync(IndexFamily.pHash(idCol, binCol, path), oldSnapshot, newSnapshot)

  /** Sync a [[graft.multimodal.Multimodal.buildSceneIndex]] artifact —
    * the one perceptual family keyed by a FRAMES table (several rows
    * per video), so videos diff on a per-video fingerprint of their
    * frames ([[graft.streaming.IndexFamily.scene]]). Changed/removed
    * videos tombstone whole; added/changed videos' frames re-detect
    * scenes in one pass over ONLY those videos.
    */
  def syncSceneIndex(
      spark: SparkSession, oldFrames: DataFrame, newFrames: DataFrame,
      idCol: String, frameIdxCol: String, frameBinCol: String,
      path: String, sceneMaxHamming: Int = 16): Unit =
    sync(IndexFamily.scene(idCol, frameIdxCol, frameBinCol, path, sceneMaxHamming), oldFrames,
      newFrames)

  /** Sync a persisted decontamination eval-hash index
    * ([[Decontaminate.buildEvalIndex]]) to a new BENCHMARK SUITE
    * snapshot — the second retraction family (the artifact carries
    * additive shingle-occurrence counts): removed+changed items' counts
    * retract by re-reading the OLD snapshot's rows, added+changed items
    * add their positive profile, in one segment
    * ([[Decontaminate.applyEvalIndexCdc]]). The live hash set afterwards equals a
    * one-shot build on the new suite exactly — a hash shared between a
    * withdrawn and a surviving benchmark keeps gating.
    */
  def syncEvalIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String): Unit =
    sync(IndexFamily.eval(textCol, path, idCol = idCol), oldSnapshot, newSnapshot)

  /** Sync a persisted DSIR model ([[Dsir.buildDsirIndex]]): the one
    * family whose "delete" is a RETRACTION, not a tombstone — the
    * model must unsee the OLD rows' n-gram counts, so the delete leg
    * re-reads the old snapshot's removed+changed DOCUMENTS (a
    * left-semi against the slim change set, the mirror of the append
    * leg), and their negated profile lands with the added+changed new
    * rows' positive one as one segment ([[Dsir.applyDsirIndexCdc]]).
    * The chain sum is then EXACTLY the new snapshot's raw profile —
    * additive counts subtract exactly.
    */
  def syncDsirIndex(
      spark: SparkSession, oldSnapshot: DataFrame, newSnapshot: DataFrame,
      idCol: String, textCol: String, path: String): Unit =
    sync(IndexFamily.dsir(textCol, path, idCol = idCol), oldSnapshot, newSnapshot)
}
