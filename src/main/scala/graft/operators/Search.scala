package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}

/** Keyword search over a document corpus: BM25 top-k ranking built from
  * one corpus scan, plus a persisted-inverted-index lifecycle for
  * serving many queries without rescanning.
  *
  * Beyond the reference surface (SURVEY.md §2.4): the retrieval
  * counterpart to [[SimilaritySearch]] — lexical top-k where that file
  * is dense top-k.
  *
  * Scale design: query terms are a handful, the corpus is ~100 TB. The
  * plan filters the exploded postings to the query terms BEFORE any
  * aggregation — so the only shuffles carry `(doc_id, term, tf)` rows
  * for matching terms and the per-doc `(doc_id, dl)` lengths, never
  * text. Corpus stats (N, total length) reduce to one row and the
  * per-term document frequencies to ≤ |query| rows; both broadcast back
  * into the scoring join. Final top-k is `ORDER BY … LIMIT k` —
  * Spark plans `TakeOrderedAndProject` (per-partition heaps, no global
  * sort).
  *
  * Determinism (oracle contract): BM25 uses `ln`, which is NOT
  * IEEE-correctly-rounded, so Spark's `Math.log` and another engine's
  * libm may differ in the last ulp. Each per-term idf is therefore
  * floored to 4 decimals immediately after the `ln` (a 1-ulp flip would
  * need the idf within ~1e-12 of a 1e-4 grid line), every other factor
  * is rational double arithmetic ordered identically on both sides, and
  * per-term contributions are floored to a 1e-8 grid and summed as
  * exact LONGS — summation order cannot flip a bit.
  */
object Search {

  /** BM25 (Robertson/Lucene form) top-k: returns
    * `(<idCol>, score, n_terms_hit)` for the `k` best-scoring docs,
    * score descending, doc id ascending on ties.
    *
    * idf = floor4(ln((N − df + 0.5) / (df + 0.5) + 1)) — the Lucene
    * variant, always ≥ 0. Per-term contribution
    * idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    val terms = queryTerms.distinct

    // one corpus scan: per-doc length is size(tokens) in the scan
    // projection — NO explode+re-aggregate shuffle for lengths — and
    // the doc's postings restrict to the query terms before the explode
    // output ever reaches a shuffle
    val lengths = docs.select(
        col(idCol).as("__id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("__dl"))
      .filter(col("__dl") > 0) // token-less docs are outside the corpus stats
    // the doc length rides THROUGH the explode as a grouping key, so
    // scoring never joins the corpus-sized lengths relation back in —
    // only the one-row stats aggregate ever reads it
    val postings = docs
      .select(col(idCol).as("__id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("__dl"),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .filter(col("__t").isin(terms: _*))
      .groupBy("__id", "__dl", "__t")
      .agg(count(lit(1)).as("__tf"))

    // corpus stats: one row; per-term df: ≤ |query| rows — broadcast both
    val stats = lengths.agg(
      count(lit(1)).as("__n_docs"),
      sum(col("__dl")).as("__total_dl"))
    val dfs = postings.groupBy("__t").agg(count(lit(1)).as("__df"))

    val scored = postings
      .join(broadcast(dfs), "__t")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        floor(log(
          (col("__n_docs") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))
            + lit(1.0)) * lit(10000.0)) / lit(10000.0))
      .withColumn("__avgdl", col("__total_dl") * lit(1.0) / col("__n_docs"))
      .withColumn("__contrib",
        // floored to a 1e-8 grid as an exact long, so the per-doc sum
        // is order-independent
        floor(col("__idf") * (col("__tf") * lit(k1 + 1.0)
          / (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
          * lit(100000000.0)).cast("long"))

    scored
      .groupBy(col("__id"))
      .agg(
        sum(col("__contrib")).as("__scaled"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("__scaled").desc, col("__id").asc)
      .limit(k)
      .select(
        col("__id").as(idCol),
        (col("__scaled") / lit(100000000.0)).as("score"),
        col("n_terms_hit"))
  }

  /** Persist the full inverted index + doc stats so repeated queries
    * skip the corpus scan: `path/postings` holds `(term, doc_id, tf,
    * dl)` CLUSTERED BY term — hash-shuffled on term with the partition
    * count sized at RUNTIME by AQE from the actual shuffle bytes (no
    * fixed file count, so a micro-batch delta lands one small file
    * while a full corpus build fans out to advisory-sized files).
    * Within each file rows sort by (term, doc_id), so a term lookup's
    * row-group min/max pruning skips non-matching files exactly as before (the
    * pruning comes from the sort, not the bucket count;
    * the doc length rides DENORMALIZED in every posting row so the
    * serving path never joins the corpus-sized lengths table),
    * `path/lengths` holds `(doc_id, dl)` (delete-time stats correction
    * + old-layout readers), `path/stats` the one-row corpus stats.
    * Written once per corpus snapshot, served by [[bm25SearchIndex]].
    */
  def buildBm25Index(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      marker: Option[String] = None): Unit = {
    // three tables, one atomic publish: postings/lengths/stats land in
    // a fresh version dir and the _LATEST pointer flips last, so a
    // mid-build failure or a rebuild under a reader never exposes
    // postings from one corpus snapshot with stats from another
    graft.sources.IndexIO.publish(docs.sparkSession, path, marker) { vdir =>
      // dl DENORMALIZED into the postings rows: the serving path reads
      // everything it needs from the pruned term buckets alone — no
      // corpus-sized lengths join per query (at 100 TB that join was
      // the serving bottleneck; lengths persists only for delete-time
      // stats correction and old-layout readers)
      writeByTerm(docPostings(docs, col(idCol), textCol, withDl = true,
        withPositions = false), vdir)
      writeLengthsAndStats(docs.sparkSession, docLengths(docs, col(idCol), textCol), vdir)
    }
    ()
  }

  /** The postings rows of `docs` that every build, append and folded
    * compaction writes, one per (doc, term): the BM25 layout `(doc_id,
    * [dl], term, tf)`, or with `withPositions` the lexical layout `(term,
    * doc_id, [dl], tf, positions)`; `dl` rides along when `withDl`. The
    * per-doc postings fold in the scan projection (TermPostingsExpr): the
    * old posexplode -> groupBy(doc_id, dl, term) shape shuffled one row
    * PER TOKEN for an aggregation that is row-local.
    */
  private def docPostings(docs: DataFrame, id: Column, textCol: String,
      withDl: Boolean, withPositions: Boolean): DataFrame = {
    val dl = if (withDl) Seq(col("dl")) else Nil
    val term = col("__p.term").as("term")
    val tf = col("__p.tf").as("tf")
    docs.select(id.as("doc_id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("dl"),
        explode(TextFunctions.termPostings(col(textCol), withPositions)).as("__p"))
      .select(
        (if (withPositions) Seq(term, col("doc_id")) ++ dl :+ tf :+ col("__p.positions").as("positions")
        else (col("doc_id") +: dl) :+ term :+ tf): _*)
  }

  /** The `(doc_id, dl)` lengths rows of `docs`; token-less docs are
    * outside the corpus stats.
    */
  private def docLengths(docs: DataFrame, id: Column, textCol: String): DataFrame =
    docs.select(id.as("doc_id"), size(TextFunctions.tokens(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)

  /** The postings table, clustered by term: every postings writer and the
    * positional compaction lay it out through [[writeByTerm]].
    */
  private val PostingsByTerm = graft.sources.IndexIO.DataTable("postings", clusterBy = Seq("term"))

  /** Write `postings` as the postings table of version or segment `dir`,
    * clustered by term and sorted by (term, doc_id) within each file
    * ([[graft.sources.IndexIO.writeTable]]).
    */
  private def writeByTerm(postings: DataFrame, dir: String): Unit =
    graft.sources.IndexIO.writeTable(postings, PostingsByTerm, "doc_id", dir)

  /** Write `lengths` into version `vdir` and its one-row `stats` beside
    * it: `n_docs`/`total_dl` are observed on the lengths write itself,
    * exact over the rows written and with no job of their own.
    */
  private def writeLengthsAndStats(
      spark: SparkSession, lengths: DataFrame, vdir: String): Unit = {
    val sums = org.apache.spark.sql.Observation()
    lengths.observe(sums, count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
      .write.mode("overwrite").parquet(s"$vdir/lengths")
    writeStats(spark, vdir, sums.get("n").asInstanceOf[Long], sums.get("s").asInstanceOf[Long])
  }

  /** Append NEW documents to a [[buildBm25Index]] index WITHOUT a
    * rebuild — the daily-crawl-batch lifecycle every sibling index
    * family already has ([[Dedup.appendToMinhashIndex]],
    * [[SimilaritySearch.appendToIvfPqIndex]], …): one pass over the
    * NEW docs only lands their postings + lengths in an immutable
    * `publishDelta` segment, readers union the chain. The segment
    * carries UPDATED corpus stats (previous n_docs/total_dl plus the
    * batch's — both additive), so serving stays O(1) on stats;
    * per-term df is computed from live postings at query time
    * ([[bm25SearchIndex]]), so segment appends compose with deletes
    * and with each other by construction.
    *
    * Caller contract (the same as every append here): the batch's ids
    * must not already be LIVE in the index — a double-append would
    * double-count postings and stats. Re-appending a TOMBSTONED id
    * resurrects it (log-structured semantics). An empty batch (or one
    * with only token-less docs) is a no-op, not a new version.
    */
  def appendToBm25Index(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      marker: Option[String] = None): Unit =
    appendToIndex(docs, col(idCol), textCol, path, marker, withPositions = false)

  /** The one append body of [[appendToBm25Index]] and
    * [[appendToLexicalIndex]]: a `publishDelta` segment of the new docs'
    * postings and lengths, with the chain's stats plus the batch's.
    */
  private def appendToIndex(docs: DataFrame, id: Column, textCol: String,
      path: String, marker: Option[String], withPositions: Boolean): Unit = {
    val spark = docs.sparkSession
    val segs = graft.sources.IndexIO.chain(spark, path) // fails fast on a missing index
    val prev = chainStatsRow(spark, path, segs)
    // the job that pins the lengths also sums them (an observed
    // aggregate): the batch's stats and the no-op probe need no job
    val added = org.apache.spark.sql.Observation()
    val lengths = docLengths(docs, id, textCol)
      .observe(added, count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
      .localCheckpoint(true)
    val (addN, addS) = (added.get("n").asInstanceOf[Long], added.get("s").asInstanceOf[Long])
    if (addN == 0L) return
    // the BASE chain fixes the postings layout: a pre-denormalization
    // artifact (postings without dl) must keep appending WITHOUT dl —
    // chainTable's strict unionByName would otherwise fail on every
    // subsequent read of the mixed chain (bricking the index until a
    // rebuild). Serving re-joins lengths for that layout, and
    // compactBm25Index migrates it to the denormalized one.
    val baseHasDl = chainPostingsHaveDl(spark, path, segs)
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      writeByTerm(docPostings(docs, id, textCol, baseHasDl, withPositions), seg)
      lengths.write.mode("overwrite").parquet(s"$seg/lengths")
      writeStats(spark, seg,
        prev.getLong(0) + addN, prev.getLong(1) + addS)
    }
  }

  /** The tombstone layout of the postings families ([[buildBm25Index]],
    * [[buildLexicalIndex]]): keyed by `doc_id`, no model tables. Their
    * delete and compaction rewrite the stats, so it names no data tables.
    */
  private val PostingsLayout = graft.sources.IndexIO.TombstoneLayout(Nil, Nil, "doc_id")

  /** Tombstone-delete docs from a [[buildBm25Index]] index WITHOUT a
    * rebuild (the takedown path, the [[graft.sources.IndexIO.delete]]
    * every tombstone family runs): publishes a delta
    * segment carrying the tombstone ids plus CORRECTED corpus stats
    * (N and total length shrink by the deleted docs' live lengths —
    * serving stays O(1), no stats rescan per query). Readers anti-join
    * postings and lengths against the tombstone chain; per-term df is
    * computed from live postings at query time, so it corrects itself.
    * [[compactBm25Index]] drops dead rows physically.
    */
  def deleteFromBm25Index(
      spark: SparkSession, path: String, ids: DataFrame, idCol: String,
      marker: Option[String] = None): Unit = {
    val segs = graft.sources.IndexIO.chain(spark, path) // fails fast on a missing index
    val batchIds = ids.select(col(idCol).cast("long").as("doc_id"))
    // live lengths BEFORE this delete: only still-live docs may shrink
    // the stats (double-deleting an id must not subtract twice). A semi
    // join counts each live doc once however often the batch names it,
    // so the correction needs no distinct of the ids. The ids are
    // takedown-sized (the tombstone anti-join's assumption) but carry no
    // size statistics, so the hint keeps the join from shuffling both sides
    val del = liveLengths(spark, path, segs)
      .join(broadcast(batchIds), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
      .head()
    val stats = chainStatsRow(spark, path, segs)
    graft.sources.IndexIO.delete(spark, path, PostingsLayout, batchIds, marker) { seg =>
      writeStats(spark, seg,
        stats.getLong(0) - del.getLong(0), stats.getLong(1) - del.getLong(1))
    }
  }

  /** A CDC micro-batch to fold into a compaction: `dels` holds the ids
    * it removes (the one column `idCol`), `adds` the documents it adds
    * (`idCol`, `textCol`), `marker` its applied-batch marker.
    */
  private[graft] final case class CdcBatch(
      dels: Option[DataFrame], adds: Option[DataFrame],
      idCol: String, textCol: String, marker: String)

  /** Collapse a tombstoned [[buildBm25Index]] (or [[buildLexicalIndex]])
    * chain to ONE segment: live postings re-bucketed by term, live
    * lengths, and stats observed on the lengths write (exact over the
    * live docs). Identical serving results by construction. A chain of
    * one segment is left as it is.
    *
    * With a CDC `batch` folded in, the new version is the chain's live
    * rows, minus the batch's deleted ids, plus the batch's added rows,
    * published ONCE with the batch's marker (the full publish carries the chain's
    * markers forward, so a replay of the batch is recognized; a crash
    * before the pointer flip leaves the previous version live and the
    * replay folds again). The batch's ids are one more tombstone set,
    * ordered after every chain segment, so a `changed` id (or one
    * removed and re-added in the batch) keeps only its new rows. The
    * added rows come from the same projections build and append use, in
    * the chain's postings layout (with positions on a lexical chain);
    * they always carry `dl`, as the compacted postings do. A folding
    * call publishes even on a one-segment chain.
    */
  def compactBm25Index(
      spark: SparkSession, path: String, batch: Option[CdcBatch] = None): Unit = {
    val segs = graft.sources.IndexIO.chain(spark, path)
    if (batch.isEmpty && segs.length <= 1) return
    val batchDels = for (b <- batch; d <- b.dels)
      yield d.select(col(b.idCol).cast("long").as("doc_id"))
    val tables = Seq("postings", "lengths")
    val Seq(postings0, lengths0) = tables
      .zip(graft.sources.IndexIO.liveTables(spark, segs, tables, "doc_id", batchDels))
      .map { case (name, live) => live.getOrElse(
        throw new IllegalStateException(s"BM25 index at $path has no $name table")) }
    // compaction is the layout-migration point: a pre-denormalization
    // artifact's postings gain the dl column here (one build-time
    // join), so serving drops the lengths join from this version on
    val livePostings =
      if (postings0.columns.contains("dl")) postings0
      else postings0.join(lengths0, "doc_id")
    val added = for (b <- batch; a <- b.adds) yield {
      val id = col(b.idCol).cast(postings0.schema("doc_id").dataType)
      (docPostings(a, id, b.textCol, withDl = true,
          withPositions = postings0.columns.contains("positions")),
        docLengths(a, id, b.textCol))
    }
    val postings = added.fold(livePostings)(a => livePostings.unionByName(a._1))
    val lengths = added.fold(lengths0)(a => lengths0.unionByName(a._2))
    graft.sources.IndexIO.publish(spark, path, batch.map(_.marker)) { nv =>
      writeByTerm(postings, nv)
      writeLengthsAndStats(spark, lengths, nv)
    }
    ()
  }

  /** The live `lengths` of the resolved chain `segs` of the BM25 index at `path`. */
  private def liveLengths(
      spark: SparkSession, path: String, segs: Seq[graft.sources.IndexIO.Segment]): DataFrame =
    graft.sources.IndexIO.liveTable(spark, segs, "lengths", "doc_id").getOrElse(
      throw new IllegalStateException(s"BM25 index at $path has no lengths table"))

  /** Whether the chain's postings carry the denormalized `dl` column.
    * Probed from the OLDEST postings-bearing segment, never from the
    * latest version directory: a tombstone-only delete segment carries
    * no postings table, so a vdir probe would throw path-not-found and
    * break the delete-then-append composition. The oldest data segment
    * fixes the layout every later append must match (chainTable's
    * strict unionByName enforces it on read).
    */
  private def chainPostingsHaveDl(
      spark: SparkSession, path: String, segs: Seq[graft.sources.IndexIO.Segment]): Boolean =
    segs.iterator.filter(_.holds("postings"))
      .flatMap(s => graft.sources.IndexIO.readTableIfExists(spark, s"${s.dir}/postings"))
      .nextOption().getOrElse(throw new IllegalStateException(
        s"cannot append to $path: no segment carries a postings table"))
      .columns.contains("dl")

  /** The chain's one-row corpus stats: the NEWEST stats-bearing segment
    * wins. Appends and the stats-correcting [[deleteFromBm25Index]]
    * each publish updated stats inside their own segment, but a
    * tombstone-only segment (e.g. [[deleteFromPositionalIndex]] on a
    * unified lexical chain) carries none — resolving through the chain
    * keeps serving and the next append alive with stats as-of the last
    * stats-publishing operation, instead of throwing path-not-found on
    * the latest version directory.
    */
  private def chainStats(
      spark: SparkSession, path: String, segs: Seq[graft.sources.IndexIO.Segment]): DataFrame =
    segs.reverseIterator.filter(_.holds("stats"))
      .flatMap(s => graft.sources.IndexIO.readTableIfExists(spark, s"${s.dir}/stats"))
      .nextOption().getOrElse(throw new IllegalStateException(
        s"index at $path has no stats table"))

  /** [[chainStats]]' one row, read on the driver with no Spark job — for
    * the maintenance paths that correct the stats and write them back.
    */
  private def chainStatsRow(
      spark: SparkSession, path: String, segs: Seq[graft.sources.IndexIO.Segment])
      : org.apache.spark.sql.Row =
    segs.reverseIterator.filter(_.holds("stats"))
      .flatMap(s => graft.sources.IndexIO.readRowsIfExists(spark, s"${s.dir}/stats"))
      .nextOption().flatMap(_.headOption).getOrElse(throw new IllegalStateException(
        s"index at $path has no stats table"))

  private val StatsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "n_docs BIGINT NOT NULL, total_dl BIGINT NOT NULL")

  /** The one-row `stats` table of a new version, written on the driver. */
  private def writeStats(spark: SparkSession, vdir: String, nDocs: Long, totalDl: Long): Unit =
    graft.sources.IndexIO.writeRows(spark, s"$vdir/stats", StatsSchema,
      Seq(org.apache.spark.sql.Row(nDocs, totalDl)))

  /** Serve a BM25 top-k from a [[buildBm25Index]] (or
    * [[buildLexicalIndex]] — column pruning drops the positions) index.
    * The postings scan carries a pushed-down `term IN (…)` filter
    * (row-group min/max skips non-matching buckets' files outright);
    * scoring arithmetic is identical to [[bm25TopK]]. Postings and
    * lengths read through the tombstone chain; stats come from the
    * newest segment (corrected at delete time).
    */
  def bm25SearchIndex(
      spark: SparkSession,
      path: String,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25SearchIndex: empty query")
    val terms = queryTerms.distinct
    // ONE resolve: postings, tombstones and stats all come from this
    // version's chain, so a publish (or a compaction that drops the
    // tombstone segments) landing mid-call cannot pair one version's
    // postings with another's tombstones and resurrect deleted docs
    val segs = graft.sources.IndexIO.chain(spark, path)
    val postings = graft.sources.IndexIO.liveTable(spark, segs, "postings", "doc_id")
      .getOrElse(throw new IllegalStateException(s"BM25 index at $path has no postings table"))
      .filter(col("term").isin(terms: _*))
    // lengths is BY-NAME into the scorer: the current layout carries dl
    // in every posting row, so resolving the corpus-sized lengths chain
    // (one listing + footer read per segment, per query) only happens
    // for pre-denormalization artifacts that actually join it
    def lengths = liveLengths(spark, path, segs)
    val stats = chainStats(spark, path, segs)
    bm25ScoreIndexed(postings, lengths, stats, k, k1, b)
  }

  /** The [[bm25SearchIndex]] scoring core over already-resolved
    * `(doc_id, term, tf)` postings, `(doc_id, dl)` lengths and the
    * one-row stats — shared with [[hybridLexicalPhraseTopK]], whose
    * single artifact probe feeds this AND the phrase leg.
    */
  private def bm25ScoreIndexed(
      postings: DataFrame, lengths: => DataFrame, stats: DataFrame,
      k: Int, k1: Double, b: Double): DataFrame = {
    val dfs = postings.groupBy("term").agg(count(lit(1)).as("df"))
    // current layout carries dl in the postings rows — serving never
    // touches the corpus-sized lengths table; pre-denormalization
    // artifacts fall back to the doc_id join
    val withDl =
      if (postings.columns.contains("dl")) postings
      else postings.join(lengths, "doc_id")
    withDl
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        floor(log(
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            + lit(1.0)) * lit(10000.0)) / lit(10000.0))
      .withColumn("__avgdl", col("total_dl") * lit(1.0) / col("n_docs"))
      .withColumn("__contrib",
        floor(col("__idf") * (col("tf") * lit(k1 + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
          * lit(100000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("__contrib")).as("__scaled"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("__scaled").desc, col("doc_id").asc)
      .limit(k)
      .select(
        col("doc_id"),
        (col("__scaled") / lit(100000000.0)).as("score"),
        col("n_terms_hit"))
  }

  /** BM25 for a BATCH of queries in one corpus pass — the serving shape
    * for retrieval workloads (decontamination-by-retrieval, hard-negative
    * mining) where thousands of queries hit the same snapshot and
    * per-query [[bm25TopK]] calls would rescan the corpus per query.
    * `queries` carries `(<queryIdCol>, <termsCol>: array<string>)`;
    * output is `(<queryIdCol>, <idCol>, score, n_terms_hit)` — the top
    * `k` docs PER QUERY, score descending, doc id ascending on ties.
    *
    * Scoring is identical to [[bm25TopK]] (floor-4 idf, 1e-8-grid long
    * contributions); a duplicated term inside one query's array counts
    * once, like `queryTerms.distinct` there.
    *
    * Scale: corpus postings filter against the DISTINCT term set of the
    * whole batch (broadcast semi-join — the term vocabulary of a query
    * batch is tiny next to the corpus) before any shuffle, exactly like
    * the single-query plan's `isin`. The scoring join then fans each
    * matching posting out only to the queries containing its term, and
    * per-query top-k is a rank window over `(query)` — Spark's
    * rank-limit pushdown (`WindowGroupLimit`) caps every partition at k
    * rows per query before the shuffle, so no query ever materializes
    * its full match list.
    */
  def bm25TopKBatch(
      docs: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      queryIdCol: String,
      termsCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k > 0, s"bm25TopKBatch: k must be positive, got $k")
    // (query, term) pairs, deduped within each query; a null/empty
    // terms array FAILS LOUDLY (data-side raise_error — matching
    // bm25TopK's empty-query require) instead of silently vanishing in
    // the explode, so callers can always distinguish "no matches" from
    // "never scored"
    val checkedTerms = when(
        col(termsCol).isNotNull && size(col(termsCol)) > 0,
        array_distinct(col(termsCol)))
      .otherwise(raise_error(concat(
        lit("bm25TopKBatch: query "), col(queryIdCol).cast("string"),
        lit(" has a null/empty terms array"))))
    val qTerms = queries.select(
        col(queryIdCol).as("__q"),
        explode(checkedTerms).as("__t"))
    val batchTerms = qTerms.select("__t").distinct()

    val lengths = docs.select(
        col(idCol).as("__id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("__dl"))
      .filter(col("__dl") > 0)
    val postings = docs
      .select(col(idCol).as("__id"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("__dl"),
        explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .join(broadcast(batchTerms), "__t") // restrict BEFORE the tf shuffle
      .groupBy("__id", "__dl", "__t")
      .agg(count(lit(1)).as("__tf"))

    val stats = lengths.agg(
      count(lit(1)).as("__n_docs"),
      sum(col("__dl")).as("__total_dl"))
    val dfs = postings.groupBy("__t").agg(count(lit(1)).as("__df"))

    val scored = postings
      .join(broadcast(qTerms), "__t") // fan out to the queries carrying the term
      .join(broadcast(dfs), "__t")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        floor(log(
          (col("__n_docs") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))
            + lit(1.0)) * lit(10000.0)) / lit(10000.0))
      .withColumn("__avgdl", col("__total_dl") * lit(1.0) / col("__n_docs"))
      .withColumn("__contrib",
        floor(col("__idf") * (col("__tf") * lit(k1 + 1.0)
          / (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
          * lit(100000000.0)).cast("long"))

    val perQueryDoc = scored
      .groupBy(col("__q"), col("__id"))
      .agg(
        sum(col("__contrib")).as("__scaled"),
        count(lit(1)).as("n_terms_hit"))
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("__scaled").desc, col("__id").asc)
    perQueryDoc
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(
        col("__q").as(queryIdCol),
        col("__id").as(idCol),
        (col("__scaled") / lit(100000000.0)).as("score"),
        col("n_terms_hit"))
  }

  /** Reciprocal Rank Fusion of N named ranked lists: each input carries
    * `(<idCol>, <rankCol>)` with 1-based integer ranks; the fused score
    * is `Σ 1/(rrfK + rank)` over the lists the id appears in. Output:
    * `(<idCol>, rrf_score, <name>_rank …)` — the `k` best ids, fused
    * score descending, id ascending on ties; an id absent from a list
    * has a null `<name>_rank` and contributes nothing for it.
    *
    * Rank-based fusion never needs score calibration, which is why it
    * is the standard way to combine heterogeneous retrievers (BM25 +
    * dense + recency + quality priors, …) — [[hybridRrfTopK]] and
    * [[hybridRrfTopKIndexed]] both fuse through here. Determinism: the
    * fused score is IEEE arithmetic on small integer ranks, floored
    * onto the 1e-6 grid (floor, not round — round() is engine-divergent
    * on trailing-5 decimals) — identical on any engine.
    *
    * Scale: inputs are top-`fetchK` lists by construction (bounded),
    * so the N−1 full-outer joins and the final top-k all run on
    * ≤ N·fetchK rows.
    */
  def rrfFuse(
      lists: Seq[(String, DataFrame)],
      idCol: String,
      k: Int,
      rrfK: Int = 60,
      rankCol: String = "rank"): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no lists")
    require(lists.map(_._1).distinct.length == lists.length,
      s"rrfFuse: duplicate list names in ${lists.map(_._1)}")
    require(k > 0 && rrfK >= 0, s"rrfFuse: need k > 0 and rrfK >= 0, got k=$k rrfK=$rrfK")
    val outCols = "rrf_score" +: lists.map { case (name, _) => s"${name}_rank" }
    require(!outCols.contains(idCol),
      s"rrfFuse: id column $idCol collides with an output column ($outCols)")
    lists.foreach { case (name, df) =>
      require(df.columns.contains(idCol) && df.columns.contains(rankCol),
        s"rrfFuse: list '$name' must carry columns ($idCol, $rankCol), has " +
          df.columns.mkString("(", ", ", ")"))
    }
    val named = lists.map { case (name, df) =>
      df.select(col(idCol).as("__id"), col(rankCol).as(s"${name}_rank"))
    }
    val joined = named.reduce((a, b) => a.join(b, Seq("__id"), "full_outer"))
    val score = lists.map { case (name, _) =>
      coalesce(lit(1.0) / (lit(rrfK) + col(s"${name}_rank")), lit(0.0))
    }.reduce(_ + _)
    joined
      .withColumn("__rrf", score)
      .orderBy(col("__rrf").desc, col("__id").asc)
      .limit(k)
      .select(
        (col("__id").as(idCol) +:
          (floor(col("__rrf") * lit(1000000.0)) / lit(1000000.0)).as("rrf_score") +:
          lists.map { case (name, _) => col(s"${name}_rank") }): _*)
  }

  /** Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion:
    * BM25 top-`fetchK` over `docs` for `queryTerms`, cosine top-`fetchK`
    * over `candidates` against the literal `queryVec`, fused per doc as
    * `Σ 1/(rrfK + rank)` over the lists the doc appears in (the standard
    * RRF rule — rank-based, so the two score scales never need
    * calibration). Returns the `k` best
    * `(<docIdCol>, rrf_score, lex_rank, vec_rank)` rows, fused score
    * descending, id ascending on ties; a doc missing from one list has
    * a null rank there and contributes only the other list's term.
    *
    * Ids must be shared between `docs.<docIdCol>` and
    * `candidates.<vecIdCol>` (the embedding table keyed by doc id).
    * Callers retrieving "more like doc X" should filter X out of
    * `candidates` — a self-match is cosine ≈ 1 and pins rank 1.
    * Zero-norm candidate vectors are EXCLUDED from the dense list
    * (cosine is 0/0 there; without the filter the NaN would floor-cast
    * to 0 and rank a degenerate vector above every negative-cosine
    * doc), mirroring the non-zero require on the query side.
    *
    * Scale: the lexical side is [[bm25TopK]] (postings filtered to the
    * query terms before any shuffle); the dense side is ONE candidate
    * scan with `TakeOrderedAndProject` (per-partition heaps, no global
    * sort). Only the two ≤ `fetchK`-row lists reach the rank windows
    * and the fusion join, so the single-partition windows are bounded
    * by construction, not by data size.
    *
    * Determinism (oracle contract): lexical ranks order by BM25's exact
    * 1e-8-grid longs; dense ranks order by the cosine FLOORED onto the
    * 1e-4 grid as a long (`floor(cos·10⁴)`) with id tie-break, so a
    * last-ulp difference between two engines' float-sum orders cannot
    * flip a rank; the fused score is IEEE arithmetic on the resulting
    * small-integer ranks — identical on both sides.
    */
  def hybridRrfTopK(
      docs: DataFrame,
      candidates: DataFrame,
      docIdCol: String,
      textCol: String,
      vecIdCol: String,
      vecCol: String,
      queryTerms: Seq[String],
      queryVec: Array[Double],
      k: Int,
      fetchK: Int = 50,
      rrfK: Int = 60): DataFrame = {
    require(queryVec.nonEmpty, "hybridRrfTopK: empty query vector")
    require(queryVec.forall(v => !v.isNaN && !v.isInfinite),
      "hybridRrfTopK: query vector must be finite")
    require(k > 0 && fetchK > 0, s"hybridRrfTopK: need k > 0 and fetchK > 0, got k=$k fetchK=$fetchK")
    require(rrfK >= 0, s"hybridRrfTopK: rrfK must be >= 0, got $rrfK")
    require(!Seq("rrf_score", "lex_rank", "vec_rank").contains(docIdCol),
      s"hybridRrfTopK: doc id column $docIdCol collides with an output column")
    val qNorm = math.sqrt(queryVec.map(x => x * x).sum)
    require(qNorm > 0, "hybridRrfTopK: query vector must be non-zero")

    // lexical list: BM25 already returns <= fetchK rows ordered by the
    // exact scaled-long score — the rank window runs over that bounded
    // result only
    val lexRanked = lexicalRanked(docs, docIdCol, textCol, queryTerms, fetchK)

    // dense list: one scan of the candidates, cosine vs the literal
    // query vector floored onto the 1e-4 grid, per-partition top-k
    // heaps; zero-norm vectors drop BEFORE the grid (0/0 would NaN)
    val qvCol = array(queryVec.toIndexedSeq.map(lit): _*)
    val dense = candidates.select(
        col(vecIdCol).as("__id"),
        VectorFunctions.norm(col(vecCol)).as("__cn"),
        VectorFunctions.dot(qvCol, VectorFunctions.asDouble(col(vecCol))).as("__dp"))
      .filter(col("__cn") > 0)
      .select(col("__id"),
        floor(col("__dp") / (lit(qNorm) * col("__cn")) * lit(10000.0))
          .cast("long").as("__cg"))

    rrfFuse(Seq("lex" -> lexRanked, "vec" -> gridRanked(dense, fetchK)), "__id", k, rrfK)
      .withColumnRenamed("__id", docIdCol)
  }

  /** BM25 top-`fetchK` as a `(__id, rank)` list — the shared lexical
    * leg of the hybrid retrievers.
    */
  private def lexicalRanked(
      docs: DataFrame, docIdCol: String, textCol: String,
      queryTerms: Seq[String], fetchK: Int): DataFrame =
    scoreRanked(bm25TopK(docs, docIdCol, textCol, queryTerms, fetchK)
      .select(col(docIdCol).as("__id"), col("score").as("__s")))

  /** Rank a bounded `(__id, __s)` score list 1..n, score desc with id
    * tie-break. The input is a top-k result, so the single-partition
    * window is bounded by construction.
    */
  private def scoreRanked(scored: DataFrame): DataFrame =
    scored
      .withColumn("rank",
        row_number().over(Window.orderBy(col("__s").desc, col("__id").asc)))
      .select("__id", "rank")

  /** Rank a `(__id, __cg)` grid-scored list: top rows by grid value
    * descending with id tie-break, cut BY THE GRID (so the cut agrees
    * with any engine ordering by the same grid), 1-based ranks. The
    * input must already be bounded (a top-k result or a pre-limited
    * scan) — the rank window is single-partition.
    */
  private def gridRanked(scored: DataFrame, fetchK: Int = 0): DataFrame = {
    val cut =
      if (fetchK > 0) scored.orderBy(col("__cg").desc, col("__id").asc).limit(fetchK)
      else scored.orderBy(col("__cg").desc, col("__id").asc)
    cut
      .withColumn("rank",
        row_number().over(Window.orderBy(col("__cg").desc, col("__id").asc)))
      .select("__id", "rank")
  }

  /** [[hybridRrfTopK]] with the dense leg served from a PERSISTED
    * IVF×PQ index ([[SimilaritySearch.buildIvfPqIndex]]) instead of a
    * full candidate scan: the ADC shortlist resolves from the index's
    * probed cells and the exact rescore from its vectors side-file
    * ([[SimilaritySearch.searchIvfPqRerank]]) — the float corpus is
    * NEVER scanned on the serving path. At 10B vectors the scan form's
    * dense leg reads the whole embedding table per query; this form
    * reads `nProbe` cells' code bytes plus `kShortlist` raw vectors.
    *
    * Semantics vs [[hybridRrfTopK]]: with exhaustive probing
    * (`nProbe` ≥ the index's centroid count) and a `kShortlist` wide
    * enough that ADC error cannot push a true top-`fetchK` neighbor
    * off the shortlist, the dense list — exact cosines floored onto
    * the same 1e-4 grid, same id tie-break — is IDENTICAL to the scan
    * form's, so the fused output is too (the suite pins that equality;
    * it is also the gate oracle, same trick as stream_embedding_dedup).
    * At serving `nProbe` the usual IVF recall trade applies. The
    * returned rescore cosines treat zero-norm stored vectors as 0.0
    * (they cannot spuriously out-rank positive matches, unlike the
    * NaN-floor hazard the scan form filters).
    *
    * `excludeIds` drops ids from the dense list BEFORE the `fetchK`
    * cut ("more like doc X" excludes X itself — a self-match is
    * cosine ≈ 1 and pins rank 1); the dense fetch over-fetches by
    * `excludeIds.size` plus a `fetchK` margin so a grid-boundary tie
    * band cannot starve the cut.
    *
    * `queryId` labels the synthetic one-row query frame. The index
    * search path drops `query_id == neighbor_id` (its self-match
    * convention), so the sentinel must NOT collide with a corpus id —
    * the default `Long.MinValue` never does for non-adversarial id
    * spaces; pass another value if yours somehow uses it.
    */
  def hybridRrfTopKIndexed(
      spark: SparkSession,
      docs: DataFrame,
      indexDir: String,
      docIdCol: String,
      textCol: String,
      queryTerms: Seq[String],
      queryVec: Array[Double],
      k: Int,
      fetchK: Int = 50,
      rrfK: Int = 60,
      nProbe: Int = 4,
      kShortlist: Int = 0,
      excludeIds: Seq[Long] = Nil,
      queryId: Long = Long.MinValue): DataFrame = {
    require(queryVec.nonEmpty, "hybridRrfTopKIndexed: empty query vector")
    require(queryVec.forall(v => !v.isNaN && !v.isInfinite),
      "hybridRrfTopKIndexed: query vector must be finite")
    require(k > 0 && fetchK > 0,
      s"hybridRrfTopKIndexed: need k > 0 and fetchK > 0, got k=$k fetchK=$fetchK")
    require(rrfK >= 0, s"hybridRrfTopKIndexed: rrfK must be >= 0, got $rrfK")
    require(!Seq("rrf_score", "lex_rank", "vec_rank").contains(docIdCol),
      s"hybridRrfTopKIndexed: doc id column $docIdCol collides with an output column")
    require(math.sqrt(queryVec.map(x => x * x).sum) > 0,
      "hybridRrfTopKIndexed: query vector must be non-zero")

    val lexRanked = lexicalRanked(docs, docIdCol, textCol, queryTerms, fetchK)
    val dense = indexedDenseGrid(spark, indexDir, queryVec, fetchK,
      nProbe, kShortlist, excludeIds, queryId)
    rrfFuse(Seq("lex" -> lexRanked, "vec" -> gridRanked(dense, fetchK)), "__id", k, rrfK)
      .withColumnRenamed("__id", docIdCol)
  }

  /** The index-served dense leg shared by [[hybridRrfTopKIndexed]] and
    * [[hybridRrfTopKBothIndexed]]: ADC shortlist + exact rescore from
    * the IVF×PQ artifact, exclusions dropped BEFORE the `fetchK` cut,
    * cosines floored onto the scan form's 1e-4 grid as `(__id, __cg)`.
    */
  private def indexedDenseGrid(
      spark: SparkSession, indexDir: String, queryVec: Array[Double],
      fetchK: Int, nProbe: Int, kShortlist: Int,
      excludeIds: Seq[Long], queryId: Long): DataFrame = {
    import spark.implicits._
    val qdf = Seq(Tuple2(queryId, queryVec.toSeq)).toDF("__hq_id", "__hq_vec")
    val denseFetch = 2 * fetchK + excludeIds.size
    val served = SimilaritySearch.searchIvfPqRerank(
      spark, indexDir, qdf, "__hq_id", "__hq_vec", k = denseFetch,
      kShortlist = kShortlist, nProbe = nProbe)
    val kept =
      if (excludeIds.isEmpty) served
      else served.filter(!col("neighbor_id").isin(excludeIds: _*))
    kept.select(
      col("neighbor_id").as("__id"),
      floor(col("cosine") * lit(10000.0)).cast("long").as("__cg"))
  }

  /** FULLY index-served hybrid retrieval — BOTH legs resolve from
    * persisted artifacts, the corpus is NEVER scanned on the query
    * path: the lexical leg ranks via [[bm25SearchIndex]] (postings
    * buckets behind a pushed `term IN` filter, tombstone chain
    * applied, ≤ |query| df rows + one stats row broadcast) and the
    * dense leg via the IVF×PQ ADC shortlist + vectors-side-file
    * rescore ([[indexedDenseGrid]]). This closes the serving story
    * [[hybridRrfTopKIndexed]] left half-open: that form still ran
    * [[bm25TopK]] over the full corpus text per query — at 100 TB the
    * per-query cost was one corpus tokenize+shuffle; this form's is
    * `nProbe` cells of code bytes plus a handful of posting buckets.
    *
    * Semantics: with the BM25 index built over the same live corpus,
    * the lexical list is IDENTICAL to the scan form's (exact grid
    * scoring either way); with exhaustive probing and a covering
    * shortlist the dense list is too — so the fused output equals
    * [[hybridRrfTopK]]'s, which is the gate's oracle claim. Output
    * `(doc_id, rrf_score, lex_rank, vec_rank)` (the index's stored id
    * name).
    */
  def hybridRrfTopKBothIndexed(
      spark: SparkSession,
      bm25IndexDir: String,
      annIndexDir: String,
      queryTerms: Seq[String],
      queryVec: Array[Double],
      k: Int,
      fetchK: Int = 50,
      rrfK: Int = 60,
      nProbe: Int = 4,
      kShortlist: Int = 0,
      excludeIds: Seq[Long] = Nil,
      queryId: Long = Long.MinValue,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryVec.nonEmpty, "hybridRrfTopKBothIndexed: empty query vector")
    require(queryVec.forall(v => !v.isNaN && !v.isInfinite),
      "hybridRrfTopKBothIndexed: query vector must be finite")
    require(k > 0 && fetchK > 0,
      s"hybridRrfTopKBothIndexed: need k > 0 and fetchK > 0, got k=$k fetchK=$fetchK")
    require(rrfK >= 0, s"hybridRrfTopKBothIndexed: rrfK must be >= 0, got $rrfK")
    require(math.sqrt(queryVec.map(x => x * x).sum) > 0,
      "hybridRrfTopKBothIndexed: query vector must be non-zero")
    val lexRanked = scoreRanked(
      bm25SearchIndex(spark, bm25IndexDir, queryTerms, fetchK, k1, b)
        .select(col("doc_id").as("__id"), col("score").as("__s")))
    val dense = indexedDenseGrid(spark, annIndexDir, queryVec, fetchK,
      nProbe, kShortlist, excludeIds, queryId)
    rrfFuse(Seq("lex" -> lexRanked, "vec" -> gridRanked(dense, fetchK)), "__id", k, rrfK)
      .withColumnRenamed("__id", "doc_id")
  }

  // ---- phrase (positional) retrieval --------------------------------------

  /** Exact quoted-phrase search: the `k` docs containing the token
    * sequence `phrase` most often, as `(<idCol>, n_matches)` —
    * match count descending, doc id ascending on ties. The match rule
    * is exact token adjacency under [[TextFunctions.tokens]] (the
    * attribution query against a training corpus BM25's bag-of-words
    * scoring cannot express).
    *
    * Shape: each posting `(doc, pos, term)` matching ANY phrase slot
    * `i` votes for candidate start `pos − i`; a start having ALL
    * `|phrase|` DISTINCT slots is a match. ONE scan, the explode
    * restricted to the phrase's terms (broadcast join) BEFORE any
    * shuffle — so the only shuffled rows are phrase-term postings,
    * exactly [[bm25TopK]]'s scale contract — then one `(doc, start)`
    * aggregate and one per-doc count. Repeated phrase tokens ("the …
    * the") work: the distinct-slot count is per start, not per term.
    * Final top-k is TakeOrderedAndProject (per-partition heaps).
    */
  def phraseTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String],
      k: Int): DataFrame = {
    require(phrase.nonEmpty, "phraseTopK: empty phrase")
    require(k > 0, s"phraseTopK: k must be positive, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val m = phrase.length
    val slots = phrase.zipWithIndex.map { case (t, i) => (i, t) }.toDF("__pi", "__t")
    val votes = docs
      .select(col(idCol).as("__id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__pos", "__t")))
      .join(broadcast(slots), "__t")
    phraseAgg(votes, m, k, idCol)
  }

  /** PSEUDO-RELEVANCE-FEEDBACK expansion (Rocchio-style PRF): run the
    * query, treat the top `feedbackK` documents as relevant, add the
    * `expandTerms` terms most frequent across them (distinct-document
    * frequency — a term spamming one doc doesn't win; ties to the
    * lexicographically smaller term; original terms excluded), and
    * re-score with the expanded query. Recovers documents phrased
    * with the corpus's OWN vocabulary that the raw keywords miss —
    * the classic recall lever of lexical retrieval.
    *
    * Deterministic end to end: both rounds are [[bm25TopK]]'s exact
    * grid scoring, and term selection is pure integer counts — the
    * oracle replays the whole chain. The expansion collect is
    * `expandTerms` strings (a bounded scalar probe, like the IVF
    * centroid table).
    */
  def bm25TopKPrf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int,
      feedbackK: Int = 10,
      expandTerms: Int = 3,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(feedbackK >= 1 && expandTerms >= 0,
      s"bm25TopKPrf: need feedbackK >= 1, expandTerms >= 0; " +
        s"got $feedbackK, $expandTerms")
    val orig = queryTerms.distinct
    val feedback = bm25TopK(docs, idCol, textCol, orig, feedbackK, k1, b)
      .select(col(idCol))
    val expansion =
      if (expandTerms == 0) Array.empty[String]
      else docs.join(feedback, Seq(idCol), "left_semi")
        .select(explode(array_distinct(
          TextFunctions.tokens(col(textCol)))).as("__t"))
        .filter(!col("__t").isin(orig: _*))
        .groupBy("__t").agg(count(lit(1)).as("__df"))
        .orderBy(col("__df").desc, col("__t").asc)
        .limit(expandTerms)
        .collect().map(_.getString(0))
    bm25TopK(docs, idCol, textCol, orig ++ expansion, k, k1, b)
  }

  /** BATCHED phrase retrieval — many quoted phrases against the corpus
    * in ONE scan ([[bm25TopKBatch]]'s shape for the positional
    * retriever): the slot table explodes every query's phrase to
    * `(query, slot, term)` rows, broadcast onto the corpus token
    * stream, and the start-vote aggregate runs keyed by
    * `(query, doc, start)` with each query's OWN phrase length as the
    * all-slots test (repeated tokens inside a phrase count distinct
    * slots, exactly like the single-phrase form). Per-query top-k is
    * a rank window (WindowGroupLimit prunes map-side). A null/empty
    * phrase FAILS LOUDLY (data-side raise_error — [[bm25TopKBatch]]'s
    * contract), so callers can distinguish "no matches" from "never
    * searched". Output `(queryIdCol, idCol, n_matches)`.
    */
  def phraseTopKBatch(
      docs: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      queryIdCol: String,
      phraseCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"phraseTopKBatch: k must be positive, got $k")
    val checkedPhrase = when(
        col(phraseCol).isNotNull && size(col(phraseCol)) > 0,
        col(phraseCol))
      .otherwise(raise_error(concat(
        lit("phraseTopKBatch: query "), col(queryIdCol).cast("string"),
        lit(" has a null/empty phrase"))))
    val slots = queries.select(
      col(queryIdCol).as("__q"),
      size(checkedPhrase).as("__m"),
      posexplode(checkedPhrase).as(Seq("__pi", "__t")))
    val votes = docs
      .select(col(idCol).as("__id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__pos", "__t")))
      .join(broadcast(slots), "__t")
    phraseAggBatch(votes, k, queryIdCol, idCol)
  }

  /** [[phraseTopKBatch]] served from a persisted
    * [[buildPositionalIndex]] artifact: the probe reads ONLY the
    * batch's term buckets (literal `term IN` pushed to the postings
    * scan — the batch vocabulary is collected driver-side, bounded by
    * the broadcast-sized query table the batch contract already
    * assumes), tombstoned docs anti-joined, and the same per-query
    * start-vote aggregate runs over the stored position lists. Must
    * equal the inline scan exactly — that identity is the gate claim.
    */
  def phraseSearchIndexBatch(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      queryIdCol: String,
      phraseCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"phraseSearchIndexBatch: k must be positive, got $k")
    val checkedPhrase = when(
        col(phraseCol).isNotNull && size(col(phraseCol)) > 0,
        col(phraseCol))
      .otherwise(raise_error(concat(
        lit("phraseSearchIndexBatch: query "), col(queryIdCol).cast("string"),
        lit(" has a null/empty phrase"))))
    val slots = queries.select(
        col(queryIdCol).as("__q"),
        size(checkedPhrase).as("__m"),
        posexplode(checkedPhrase).as(Seq("__pi", "__t")))
      .localCheckpoint(true) // scanned for the term set AND the join
    val terms = slots.select("__t").distinct().collect().map(_.getString(0))
    val postings = graft.sources.IndexIO.liveTable(spark, path, "postings", "doc_id")
      .filter(col("term").isin(terms.toIndexedSeq: _*))
    val votes = postings
      .select(col("doc_id").as("__id"), col("term").as("__t"),
        explode(col("positions")).as("__pos"))
      .join(broadcast(slots), "__t")
    phraseAggBatch(votes, k, queryIdCol, "doc_id")
  }

  /** Shared per-query start-vote aggregation of the BATCH phrase
    * retrievers: votes carry `(__q, __m, __id, __pos, __pi)`; a start
    * with all of its query's `__m` distinct slots is a match; per-query
    * top-k rides the rank window's map-side prune.
    */
  private def phraseAggBatch(votes: DataFrame, k: Int,
      queryIdCol: String, outId: String): DataFrame = {
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("n_matches").desc, col("__id").asc)
    votes
      .select(col("__q"), col("__m"), col("__id"),
        (col("__pos") - col("__pi")).as("__start"), col("__pi"))
      .filter(col("__start") >= 0)
      .groupBy("__q", "__m", "__id", "__start")
      .agg(countDistinct(col("__pi")).as("__hit"))
      .filter(col("__hit") === col("__m"))
      .groupBy("__q", "__id")
      .agg(count(lit(1)).as("n_matches"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("__q").as(queryIdCol), col("__id").as(outId),
        col("n_matches"))
  }

  /** SNIPPET extraction for phrase hits — the attribution view: every
    * matching document's FIRST phrase occurrence with `context` tokens
    * of surrounding text, `(idCol, first_start, n_matches, snippet)`.
    * One token scan finds the all-slots starts (the [[phraseTopK]]
    * vote), the min start per doc joins back to the doc row, and the
    * snippet is a row-local `slice` + `array_join` over the token
    * array — no second corpus pass, no per-row UDF. `first_start` is
    * the 0-based token index of the phrase.
    */
  def phraseSnippets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String],
      context: Int = 3): DataFrame = {
    require(phrase.nonEmpty, "phraseSnippets: empty phrase")
    require(context >= 0, s"phraseSnippets: context must be >= 0, got $context")
    val spark = docs.sparkSession
    import spark.implicits._
    val m = phrase.length
    val slots = phrase.zipWithIndex.map { case (t, i) => (i, t) }.toDF("__pi", "__t")
    val starts = docs
      .select(col(idCol).as("__id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__pos", "__t")))
      .join(broadcast(slots), "__t")
      .select(col("__id"), (col("__pos") - col("__pi")).as("__start"), col("__pi"))
      .filter(col("__start") >= 0)
      .groupBy("__id", "__start")
      .agg(countDistinct(col("__pi")).as("__hit"))
      .filter(col("__hit") === m)
      .groupBy("__id")
      .agg(min(col("__start")).as("first_start"),
        count(lit(1)).as("n_matches"))
    val toks = TextFunctions.tokens(col(textCol))
    val from0 = greatest(col("first_start") - context, lit(0))
    docs.select(col(idCol).as("__id"), toks.as("__toks"))
      .join(starts, "__id")
      .select(col("__id").as(idCol),
        col("first_start").cast("long").as("first_start"), col("n_matches"),
        array_join(
          slice(col("__toks"), from0 + lit(1),
            col("first_start") + lit(m + context) - from0),
          " ").as("snippet"))
  }

  /** Shared start-vote aggregation of the phrase retrievers: candidate
    * start = pos − slot, a start with all `m` distinct slots is a
    * match, per-doc match counts cut to top-k.
    */
  private def phraseAgg(votes: DataFrame, m: Int, k: Int, outId: String): DataFrame =
    votes
      .select(col("__id"), (col("__pos") - col("__pi")).as("__start"), col("__pi"))
      .filter(col("__start") >= 0)
      .groupBy("__id", "__start")
      .agg(countDistinct(col("__pi")).as("__hit"))
      .filter(col("__hit") === m)
      .groupBy("__id")
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("n_matches").desc, col("__id").asc)
      .limit(k)
      .select(col("__id").as(outId), col("n_matches"))

  /** Persist POSITIONAL postings `(term, doc_id, positions:
    * array<int>)` bucketed by term — the classic positional inverted
    * index, published atomically. [[phraseSearchIndex]] answers
    * quoted-phrase queries from it touching only the phrase terms'
    * buckets; [[deleteFromBm25Index]]-style tombstone deltas apply
    * (readers anti-join the tombstone chain on doc_id).
    */
  def buildPositionalIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit = {
    graft.sources.IndexIO.publish(docs.sparkSession, path) { vdir =>
      val postings = docs
        .select(col(idCol).cast("long").as("doc_id"),
          explode(TextFunctions.termPostings(col(textCol),
            withPositions = true)).as("__p"))
        .select(col("__p.term").as("term"), col("doc_id"),
          col("__p.positions").as("positions"))
      writeByTerm(postings, vdir)
    }
    ()
  }

  /** Append NEW documents' positional postings to a
    * [[buildPositionalIndex]] index — the same immutable-segment
    * lifecycle as [[appendToBm25Index]] (phrase retrieval previously
    * forced a full rebuild per crawl batch). Stateless artifact: the
    * positional index carries no corpus stats, so the delta segment is
    * just the new `(term, doc_id, positions)` rows; readers union the
    * chain and tombstones apply log-ordered. Same caller contract:
    * batch ids must not already be live; re-appending a tombstoned id
    * resurrects it; an empty batch is a no-op.
    */
  def appendToPositionalIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    graft.sources.IndexIO.resolve(spark, path) // fail loudly on no base
    val postings = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextFunctions.termPostings(col(textCol),
          withPositions = true)).as("__p"))
      .select(col("__p.term").as("term"), col("doc_id"),
        col("__p.positions").as("positions"))
      .localCheckpoint(true) // probed for emptiness, then written
    if (postings.isEmpty) return
    graft.sources.IndexIO.publishDelta(spark, path) { seg =>
      writeByTerm(postings, seg)
    }
    ()
  }

  /** The tombstone layout of a [[buildPositionalIndex]] index: its
    * term-clustered postings keyed by `doc_id`; no model tables.
    */
  private val PositionalLayout =
    graft.sources.IndexIO.TombstoneLayout(Seq(PostingsByTerm), Nil, "doc_id")

  /** Tombstone-delete docs from a [[buildPositionalIndex]] index — a
    * tombstone-only delta segment, no stats to correct (the positional
    * index carries none): readers ([[phraseSearchIndex]],
    * [[phraseSearchIndexBatch]]) anti-join the chain log-ordered.
    */
  def deleteFromPositionalIndex(
      spark: SparkSession, path: String, ids: DataFrame, idCol: String): Unit =
    graft.sources.IndexIO.delete(spark, path, PositionalLayout,
      ids.select(col(idCol).cast("long").as("doc_id")), None)(_ => ())

  /** Collapse an appended/tombstoned [[buildPositionalIndex]] chain to
    * ONE segment of live rows, re-bucketed by term — identical serving
    * results by construction ([[graft.sources.IndexIO.compact]]).
    */
  def compactPositionalIndex(spark: SparkSession, path: String): Unit =
    graft.sources.IndexIO.compact(spark, path, PositionalLayout)

  /** Serve [[phraseTopK]] from a [[buildPositionalIndex]] index: the
    * postings scan carries a pushed-down `term IN (…)` filter (row-
    * group min/max skips other buckets' files), the stored position
    * arrays re-explode into the same start-vote aggregation, and the
    * tombstone chain applies — identical results to the inline scan
    * over the live corpus by construction.
    */
  def phraseSearchIndex(
      spark: SparkSession,
      path: String,
      phrase: Seq[String],
      k: Int): DataFrame = {
    require(phrase.nonEmpty, "phraseSearchIndex: empty phrase")
    require(k > 0, s"phraseSearchIndex: k must be positive, got $k")
    import spark.implicits._
    val m = phrase.length
    val slots = phrase.zipWithIndex.map { case (t, i) => (i, t) }.toDF("__pi", "__t")
    val postings = graft.sources.IndexIO.liveTable(spark, path, "postings", "doc_id")
      .filter(col("term").isin(phrase.distinct: _*))
    val votes = postings
      .select(col("doc_id").as("__id"), col("term").as("__t"),
        explode(col("positions")).as("__pos"))
      .join(broadcast(slots), "__t")
    phraseAgg(votes, m, k, "doc_id")
  }

  // ---- unified lexical index (BM25 + positions in one artifact) -----------

  /** Build the UNIFIED lexical index: one postings table
    * `(term, doc_id, tf, positions)` bucketed by term, plus the BM25
    * `lengths`/`stats` side tables — so BM25 ranking
    * ([[bm25SearchIndex]], which column-prunes the positions away),
    * phrase retrieval ([[phraseSearchIndex]]/[[phraseSearchIndexBatch]],
    * which prune `tf`) and the combined [[hybridLexicalPhraseTopK]] all
    * serve from ONE artifact — one build pass, one bucket layout, one
    * tombstone chain, instead of maintaining two parallel indexes over
    * the same tokens. One tokenize of the corpus: tf and the sorted
    * position list come out of the same aggregate.
    */
  def buildLexicalIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      marker: Option[String] = None): Unit = {
    val id = col(idCol).cast("long")
    graft.sources.IndexIO.publish(docs.sparkSession, path, marker) { vdir =>
      writeByTerm(docPostings(docs, id, textCol, withDl = true, withPositions = true), vdir)
      writeLengthsAndStats(docs.sparkSession, docLengths(docs, id, textCol), vdir)
    }
    ()
  }

  /** Append NEW documents to a [[buildLexicalIndex]] artifact — the
    * [[appendToBm25Index]] lifecycle (additive stats, chain-resolved
    * df) with the positional payload riding the same postings rows.
    * Same caller contract: batch ids must not already be live.
    */
  def appendToLexicalIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      marker: Option[String] = None): Unit =
    // match the BASE chain's postings layout (see appendToBm25Index): a
    // pre-denormalization lexical artifact keeps appending without dl so
    // the chain union stays schema-consistent
    appendToIndex(docs, col(idCol).cast("long"), textCol, path, marker, withPositions = true)

  /** MERGE a [[buildBm25Index]] chain and a [[buildPositionalIndex]]
    * chain over the SAME live corpus into one [[buildLexicalIndex]]
    * artifact at `outPath` — the consolidation compact after separate
    * append histories: live positional postings carry the position
    * lists (tf is their size — same tokenizer, so it equals the BM25
    * tf by construction), lengths and corrected stats come from the
    * BM25 chain, and the result is a single-segment co-bucketed
    * artifact both retrievers probe. Caller contract: both inputs
    * index the same live document set (they were built/appended/
    * deleted in lockstep); a mismatch is detected against the BM25
    * stats and fails loudly rather than publishing a skewed index.
    */
  def compactToLexicalIndex(
      spark: SparkSession,
      bm25Path: String,
      positionalPath: String,
      outPath: String): Unit = {
    val bm25Segs = graft.sources.IndexIO.chain(spark, bm25Path)
    val lengths = liveLengths(spark, bm25Path, bm25Segs)
    val posBare = graft.sources.IndexIO.liveTable(spark, positionalPath, "postings", "doc_id")
      .select(col("term"), col("doc_id"),
        size(col("positions")).cast("long").as("tf"), col("positions"))
    // dl joins in ONCE here (a compact is a build-time job) so the
    // merged artifact serves BM25 from its postings rows alone; the
    // divergence check below counts the PRE-join doc set, so the inner
    // join can never mask a positional-only doc by dropping it
    val posLive = posBare.join(lengths, "doc_id")
    val stats = chainStatsRow(spark, bm25Path, bm25Segs)
    val nDocs = stats.getLong(0)
    // SET comparison, not count comparison: one delete applied to each
    // chain but to DIFFERENT ids leaves the counts equal while the doc
    // sets diverge — the inner lengths join would then silently drop
    // the positional-only docs and the published stats would be skewed.
    // A full-outer join of the two distinct-id sets counts both
    // divergence directions in one pass (still pair-scaled: ids only).
    val posIds = posBare.select(col("doc_id")).distinct()
    val lenIds = lengths.select(col("doc_id")).distinct()
    val mism = posIds.withColumn("__p", lit(1))
      .join(lenIds.withColumn("__l", lit(1)), Seq("doc_id"), "full_outer")
      .filter(col("__p").isNull || col("__l").isNull)
      .count()
    val nPos = posIds.count()
    require(mism == 0L && nPos == nDocs,
      s"compactToLexicalIndex: the two chains have diverged — positional " +
        s"covers $nPos live docs, BM25 stats say $nDocs, and $mism doc ids " +
        s"are in one chain but not the other; rebuild instead")
    graft.sources.IndexIO.publish(spark, outPath) { nv =>
      writeByTerm(posLive, nv)
      lengths.write.mode("overwrite").parquet(s"$nv/lengths")
      writeStats(spark, nv, nDocs, stats.getLong(1))
    }
    ()
  }

  /** Combined BM25 + quoted-phrase retrieval from ONE
    * [[buildLexicalIndex]] probe, RRF-fused: `(doc_id, rrf_score,
    * lex_rank, phrase_rank)` — the attribution-aware search shape
    * ("rank by keywords, but exact-phrase carriers surface") that two
    * separate indexes would answer with two artifact probes. The live
    * postings for `queryTerms ∪ phrase` are materialized ONCE (a
    * single pushdown-pruned bucket scan) and feed BOTH legs; the BM25
    * leg column-prunes positions, the phrase leg re-explodes them into
    * the start-vote aggregate; each leg ranks its top-`fetchK` and
    * [[rrfFuse]] combines. Exact grid arithmetic end to end (BM25
    * scaled longs; integer match counts), so the whole fusion is
    * oracle-replayable.
    */
  def hybridLexicalPhraseTopK(
      spark: SparkSession,
      path: String,
      queryTerms: Seq[String],
      phrase: Seq[String],
      k: Int,
      fetchK: Int = 50,
      rrfK: Int = 60,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "hybridLexicalPhraseTopK: empty query terms")
    require(phrase.nonEmpty, "hybridLexicalPhraseTopK: empty phrase")
    require(k > 0 && fetchK > 0,
      s"hybridLexicalPhraseTopK: need k > 0 and fetchK > 0, got k=$k fetchK=$fetchK")
    require(rrfK >= 0, s"hybridLexicalPhraseTopK: rrfK must be >= 0, got $rrfK")
    import spark.implicits._
    val lexTerms = queryTerms.distinct
    val allTerms = (lexTerms ++ phrase).distinct
    // ONE probe of the artifact: the union term set is pushed to the
    // bucket scan, and the eager checkpoint pins the single read that
    // both legs consume
    val segs = graft.sources.IndexIO.chain(spark, path)
    val postings = graft.sources.IndexIO.liveTable(spark, segs, "postings", "doc_id")
      .getOrElse(throw new IllegalStateException(
        s"lexical index at $path has no postings table"))
      .filter(col("term").isin(allTerms: _*))
      .localCheckpoint(true)
    // by-name into the scorer (see bm25SearchIndex): only resolved for
    // pre-denormalization artifacts whose postings lack dl
    def lengths = liveLengths(spark, path, segs)
    val stats = chainStats(spark, path, segs)

    val lexCols =
      if (postings.columns.contains("dl")) Seq("doc_id", "term", "tf", "dl")
      else Seq("doc_id", "term", "tf")
    val lexRanked = scoreRanked(
      bm25ScoreIndexed(
          postings.filter(col("term").isin(lexTerms: _*))
            .select(lexCols.map(col): _*),
          lengths, stats, fetchK, k1, b)
        .select(col("doc_id").as("__id"), col("score").as("__s")))

    val slots = phrase.zipWithIndex.map { case (t, i) => (i, t) }.toDF("__pi", "__t")
    val votes = postings.filter(col("term").isin(phrase.distinct: _*))
      .select(col("doc_id").as("__id"), col("term").as("__t"),
        explode(col("positions")).as("__pos"))
      .join(broadcast(slots), "__t")
    val phraseRanked = scoreRanked(
      phraseAgg(votes, phrase.length, fetchK, "doc_id")
        .select(col("doc_id").as("__id"), col("n_matches").as("__s")))

    rrfFuse(Seq("lex" -> lexRanked, "phrase" -> phraseRanked), "__id", k, rrfK)
      .withColumnRenamed("__id", "doc_id")
  }

  /** Per-group distinctive terms — TF-IDF keyword extraction on EXACT
    * integer arithmetic: the top `topK` lowercased whitespace tokens of
    * each group (source, domain, language) ranked by
    * `score = (tf_in_group · 10⁶) div df_docs`, where `tf_in_group` is
    * the token's occurrence count inside the group and `df_docs` its
    * corpus-wide distinct-document frequency. Within one group the
    * classic tf·idf ordering is monotone in tf/df (idf's log is
    * monotone in 1/df and N is constant per corpus), so integral
    * division on a 10⁶ grid reproduces the ranking with zero float
    * anywhere — the score itself is engine-exact, not just the order.
    * Ties: score desc, then term asc (terms are unique per group).
    *
    * The data-curation use: a per-source vocabulary card — which terms
    * make this crawl slice different from the corpus — and a drift
    * check between snapshot cards (same shape as
    * [[graft.operators.CorpusDiff]]).
    *
    * Scale shape: two partial-aggregable token aggregations off one
    * explode (group-term counts; distinct-doc counts over the
    * pre-distinct `(doc, term)` projection), an equi-join on term, and
    * a rank window that plans `WindowGroupLimit` — each shuffle
    * partition keeps ≤ topK rows per group before the final window, so
    * vocabulary size never reaches the sort. `minTf` prunes the
    * singleton-token long tail at the first aggregate (HAVING over the
    * partial counts), which is where a 100 TB crawl's hapax flood dies.
    * Caller contract: `tf · 10⁶` must fit a signed 64-bit long —
    * tf ≤ ~9.2·10¹², i.e. past any single group's plausible count.
    */
  def distinctiveTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      topK: Int = 10,
      minTf: Long = 2L): DataFrame = {
    require(topK > 0, s"distinctiveTerms: topK must be positive, got $topK")
    require(minTf >= 1, s"distinctiveTerms: minTf must be >= 1, got $minTf")
    val tok = docs.select(col(idCol).as("__id"), col(groupCol).as("__g"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("__t"))
    val tf = tok.groupBy(col("__g"), col("__t"))
      .agg(count(lit(1)).as("tf"))
      .filter(col("tf") >= minTf)
    val dfDocs = tok.select(col("__id"), col("__t")).distinct()
      .groupBy(col("__t")).agg(count(lit(1)).as("df_docs"))
    val scored = tf.join(dfDocs, "__t")
      .withColumn("score", expr("(tf * 1000000L) div df_docs"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("score").desc, col("__t").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col("__g").as(groupCol), col("__t").as("term"),
        col("tf"), col("df_docs"), col("score"))
  }
}
