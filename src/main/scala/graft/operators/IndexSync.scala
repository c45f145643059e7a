package graft.operators

import org.apache.spark.sql.DataFrame

import graft.streaming.IndexFamily

/** CDC → index synchronization: make a persisted index match a NEW
  * corpus snapshot in one call, by feeding [[CorpusDiff.diff]]'s
  * change sets through the family's existing lifecycle operations —
  * tombstone the `removed` + `changed` ids first (the family's
  * `delete`), then append the `added` + `changed` rows (`appendTo*`).
  * The tombstones are LOG-ORDERED
  * ([[graft.sources.IndexIO.liveTable]]), so the re-appended
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
  * publish a sync as one segment.
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
}
