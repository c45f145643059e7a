package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>` / `array<double>`). Two strategies:
  *
  *  - [[bruteForceTopK]] — exact: broadcast the query set, scan the
  *    corpus once, codegen'd dot product, per-query top-k via window.
  *    The correctness baseline, and the right plan whenever
  *    |queries| × |corpus| FLOPs fit the cluster (corpus is scanned
  *    exactly once regardless of query count).
  *  - [[lshTopK]] — random-hyperplane LSH bucketing: corpus and queries
  *    hashed to sign signatures; candidates = corpus vectors sharing at
  *    least one signature band with the query; exact rescore + top-k on
  *    candidates only. Recall < 1 by design, cost ~ bucket sizes instead
  *    of |corpus| per query — the 100 TB path (an IVF variant would swap
  *    the hash for learned centroids; same join skeleton).
  */
object SimilaritySearch {

  /** Publish a TOMBSTONE segment deleting `ids` from ANY persisted ANN
    * index ([[buildIvfIndex]], [[buildIvfSq8Index]], [[buildPqIndex]],
    * [[buildIvfPqIndex]]) — the takedown/revocation path, WITHOUT a
    * rebuild: data segments stay immutable; searches anti-join the
    * (tiny, broadcast) tombstone set; the index's compact drops dead
    * rows physically. Log-structured semantics
    * ([[graft.sources.IndexIO.withoutTombstoned]]): the delete covers
    * vectors indexed BEFORE it; a later append of the same id
    * resurrects it. The current version's model tables (centroids /
    * codebook / meta — whichever the index carries) are copied forward
    * so append/search keep resolving them from the newest segment.
    */
  def deleteFromAnnIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      ids: DataFrame, idCol: String,
      marker: Option[String] = None): Unit = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    graft.sources.IndexIO.publishDelta(spark, indexDir, marker) { seg =>
      for (t <- Seq("centroids", "codebook", "meta"))
        graft.sources.IndexIO.copyRowsIfExists(spark, s"$vdir/$t", s"$seg/$t")
      graft.sources.IndexIO.writeTombstones(ids.select(col(idCol).as("neighbor_id")), seg)
    }
    ()
  }

  /** Union of a persisted ANN chain's `name` table with tombstoned rows
    * filtered out ([[graft.sources.IndexIO.withoutTombstoned]] — the
    * log-ordered anti-join). All index-family searches and compactions
    * read their cells/codes through this, so a [[deleteFromAnnIndex]]
    * takes effect on every path without per-index plumbing.
    */
  private def liveChain(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      name: String): DataFrame = {
    val data = graft.sources.IndexIO.chainTable(spark, indexDir, name).getOrElse(
      throw new IllegalStateException(s"ANN index at $indexDir has no $name table"))
    graft.sources.IndexIO.withoutTombstoned(
      data, graft.sources.IndexIO.chainTable(spark, indexDir, "tombstones"),
      "neighbor_id")
  }

  /** True when the query side's estimated size exceeds the session
    * broadcast threshold — the foot-gun guard for [[bruteForceTopK]],
    * which broadcasts the query set with a non-equi condition.
    */
  def querySideOversized(queries: DataFrame): Boolean =
    querySideOversized(queries, 0L)

  /** Width-aware variant for plans that attach per-row payload the
    * optimizer's stats can't see — PQ ADC tables (m×kCodes doubles per
    * query), probe fan-out (nProbe rows per query), shortlist×vector
    * expansion. `extraBytesPerRow` is charged for every estimated input
    * row before comparing against the broadcast threshold, so a 100k-row
    * query frame that LOOKS like 2 MB of ids but becomes gigabytes of
    * ADC tables still trips the guard.
    */
  def querySideOversized(queries: DataFrame, extraBytesPerRow: Long): Boolean = {
    val conf = queries.sparkSession.sessionState.conf
    // threshold <= 0 means the user disabled broadcasting entirely —
    // the strongest signal they fear large broadcasts, so fall back to
    // the stock 10 MB default as the warn cap instead of going silent
    val cap =
      if (conf.autoBroadcastJoinThreshold > 0) conf.autoBroadcastJoinThreshold
      else 10L << 20
    val stats = queries.queryExecution.optimizedPlan.stats
    // exact rowCount needs CBO stats the session rarely has; the
    // 32-byte floor per row is conservative (an id + a vector pointer
    // can't be smaller), so wide derived payloads still register
    val rows =
      stats.rowCount.getOrElse((stats.sizeInBytes / 32).max(BigInt(1)))
    if (stats.sizeInBytes + rows * BigInt(extraBytesPerRow) <= BigInt(cap))
      return false
    // The estimate tripped — but without CBO it ignores filter
    // selectivity entirely (a 20-row `vec_id < 20` slice of a vector
    // table reports the WHOLE table's bytes) and the 32-byte row floor
    // inflates row counts ~17x on wide vector rows, so "oversized" here
    // is routinely a false alarm that silently degrades a trivially
    // broadcastable query set to a full shuffle of the corpus (guide
    // §3.1: estimates are often badly wrong after filters — confirm
    // before refusing). Confirm with a BOUNDED exact probe over at most
    // capRows+1 rows of the query frame (the scan stops feeding past
    // the limit), where capRows is how many of the narrowest possible
    // rows (an 8-byte null bitmap plus one 8-byte slot) fit under the
    // threshold with the charged payload: the probe sums the MEASURED
    // unsafe-row size of every row it sees, so a frame of wide vector
    // rows trips on its real width, not on a fixed per-row floor.
    // Streaming frames can't run the probe job; they keep the
    // conservative estimate.
    if (queries.isStreaming) return true
    val capRows = math.min(cap / (extraBytesPerRow + 16L), 4L << 20)
    val (n, bytes) = rowsAndBytes(queries.limit((capRows + 1).toInt))
    n > capRows || bytes + n * extraBytesPerRow > cap
  }

  /** Row count and total unsafe-row bytes of `df`, in one job. */
  private def rowsAndBytes(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      var n, bytes = 0L
      rows.foreach { r =>
        n += 1
        bytes += (r match {
          case u: UnsafeRow => u.getSizeInBytes
          case other => toUnsafe(other).getSizeInBytes
        })
      }
      Iterator.single((n, bytes))
    }.fold((0L, 0L)) { case ((n1, b1), (n2, b2)) => (n1 + n2, b1 + b2) }
  }

  /** Broadcast `df` unless the caller's guard tripped: the oversized
    * path keeps the SAME declarative join (equi probes degrade to a
    * shuffle join, the flat non-equi scan to a partitioned cartesian)
    * instead of forcing a multi-GB driver collect — correctness
    * identical, Catalyst picks the distribution.
    */
  private def maybeBroadcast(df: DataFrame, oversized: Boolean, what: String): DataFrame =
    if (oversized) {
      System.err.println(
        s"[graft] WARN: $what query-side relation exceeds the broadcast " +
          "threshold; using a non-broadcast (shuffle) join instead.")
      df
    } else broadcast(df)

  /** Exact top-k neighbors per query by cosine. `queries`/`corpus` carry
    * `(idCol, vecCol)`. Output: `(query_id, neighbor_id, cosine)`,
    * `k` rows per query, self-matches excluded, deterministic tie-break
    * (higher cosine first, then smaller neighbor id).
    *
    * The plan broadcasts the QUERY side and scans the corpus exactly
    * once, so it is sized for `|queries| <<` broadcast threshold. A
    * larger query set still computes correctly but ships the whole set
    * to every corpus partition — the call warns ([[querySideOversized]])
    * and the caller should switch to [[lshTopK]] (or join per-batch).
    * Exactness is never silently traded for speed: the auto-route is
    * the caller's decision.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    if (querySideOversized(queries))
      System.err.println(
        "[graft] WARN: bruteForceTopK query side exceeds the broadcast " +
          "threshold; every corpus partition receives the full query set. " +
          "Consider lshTopK (approximate) or batching the queries.")
    val q = queries.select(
      col(idCol).as("query_id"),
      VectorFunctions.asDouble(col(vecCol)).as("__qv"),
      VectorFunctions.norm(col(vecCol)).as("__qn"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      VectorFunctions.asDouble(col(vecCol)).as("__cv"),
      VectorFunctions.norm(col(vecCol)).as("__cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        (VectorFunctions.dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn"))).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** HARD-NEGATIVE mining for contrastive training: for each query
    * row, the top-k most similar corpus rows carrying a DIFFERENT
    * label — the examples an embedder most confuses across class
    * boundaries, the data-generation step of contrastive fine-tuning
    * (in-batch negatives are easy; these are the hard ones). Exact
    * brute baseline: [[bruteForceTopK]]'s shape with the label
    * inequality as the join predicate (a query's own row shares its
    * label, so self-matches are excluded for free). Output
    * `(query_id, neighbor_id, neighbor_label, cosine)`.
    */
  def mineHardNegatives(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"mineHardNegatives: k must be >= 1, got $k")
    if (querySideOversized(queries))
      System.err.println(
        "[graft] WARN: mineHardNegatives query side exceeds the broadcast " +
          "threshold; consider mineHardNegativesIvf or batching the queries.")
    val q = queries.select(
      col(idCol).as("query_id"),
      col(labelCol).as("__ql"),
      VectorFunctions.asDouble(col(vecCol)).as("__qv"),
      VectorFunctions.norm(col(vecCol)).as("__qn"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"),
      VectorFunctions.asDouble(col(vecCol)).as("__cv"),
      VectorFunctions.norm(col(vecCol)).as("__cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q)
      .join(c, col("__ql") =!= col("neighbor_label"))
      .select(
        col("query_id"), col("neighbor_id"), col("neighbor_label"),
        (VectorFunctions.dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn"))).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** The SCALE path of [[mineHardNegatives]]: probe `fetchK`
    * same-or-different-label candidates through [[ivfTopK]] (cells ×
    * nProbe instead of the whole corpus), attach labels, drop
    * same-label rows, re-rank to `k`. `fetchK` oversamples so the
    * label filter still leaves k rows when same-label neighbors
    * dominate the shortlist — recall vs the exact form is the gate's
    * measured constant, like every approximate operator here. The
    * fetched shortlist is |Q|·fetchK rows (broadcast-sized); corpus
    * labels come in on an equi-join against it, never a second scan
    * of the vectors.
    */
  def mineHardNegativesIvf(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      fetchK: Int = 25,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 5): DataFrame = {
    require(fetchK >= k && k >= 1,
      s"mineHardNegativesIvf: need fetchK >= k >= 1, got fetchK=$fetchK k=$k")
    val fetched = ivfTopK(queries, corpus, idCol, vecCol, fetchK,
      nCentroids, nProbe, iters)
    val ql = queries.select(col(idCol).as("query_id"), col(labelCol).as("__ql"))
    val cl = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cl.join(broadcast(fetched.join(broadcast(ql), Seq("query_id"))),
        Seq("neighbor_id"))
      .filter(col("neighbor_label") =!= col("__ql"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("cosine"))
  }

  /** [[mineHardNegativesIvf]] served from a PERSISTED [[buildIvfIndex]]
    * artifact — the production mining shape: the in-query form trains
    * centroids per call (the r13 bench's #3 row was exactly that
    * training cost); a nightly mining job over a fixed corpus should
    * pay training once at build time and probe the stored cells, like
    * every other ANN consumer here. `labels` carries
    * `(<idCol>, <labelCol>)` for both queries and corpus rows (the
    * float IVF index stores no attributes — pass the corpus table's id/
    * label projection; only the label columns ride the broadcast join).
    *
    * Shape: [[searchIvf]] probes `nProbe` cells per query for `fetchK`
    * exact-cosine candidates (partition-pruned cell scan, float corpus
    * only inside probed cells), labels join onto the broadcast-sized
    * shortlist, same-label rows drop, re-rank to `k`. With
    * `nProbe = nCentroids` the probe is exhaustive and — the trainer
    * being deterministic and seedless — the output is IDENTICAL to
    * [[mineHardNegativesIvf]] at the same `fetchK`: that equality is
    * the gate's claim (recall exactly 1.0).
    */
  def mineHardNegativesFromIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, labels: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      fetchK: Int = 25, nProbe: Int = 4): DataFrame = {
    require(fetchK >= k && k >= 1,
      s"mineHardNegativesFromIndex: need fetchK >= k >= 1, got fetchK=$fetchK k=$k")
    val fetched = searchIvf(spark, indexDir, queries, idCol, vecCol, fetchK, nProbe)
    val ql = labels.select(col(idCol).as("query_id"), col(labelCol).as("__ql"))
    val cl = labels.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // a query id absent from `labels` must FAIL, not silently vanish:
    // an inner join here would drop that query's whole shortlist and
    // the nightly mining job would under-produce with no signal (the
    // in-query form takes labels from the queries frame itself, so it
    // cannot lose queries — the identity claim needs the same totality)
    val labeled = fetched.join(broadcast(ql), Seq("query_id"), "left")
      .withColumn("__ql",
        when(col("__ql").isNotNull, col("__ql")).otherwise(raise_error(
          concat(lit("mineHardNegativesFromIndex: no label for query_id "),
            col("query_id")))))
    cl.join(broadcast(labeled), Seq("neighbor_id"))
      .filter(col("neighbor_label") =!= col("__ql"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("cosine"))
  }

  /** MMR (maximal marginal relevance) diversified re-rank — the step
    * between retrieval and presentation that keeps the top-k from
    * being k paraphrases of one document: greedily pick the candidate
    * maximizing `λ·relevance − (1−λ)·max-similarity-to-already-picked`.
    *
    * EXACT integer arithmetic end to end, so the selection is
    * engine-reproducible with zero knife edges: `scoreGridCol` is the
    * caller's relevance on the 1e-4 integer grid (BM25's scaled score
    * `div 10000`), similarity is the 1e-4-grid integer cosine
    * ([[graft.functions.GridSumAggregator.cosGrid]] over 1e-7-grid
    * vectors), λ enters as the rational `lambdaNum/lambdaDen`, and the
    * greedy compares `lambdaNum·score − (lambdaDen−lambdaNum)·maxSim`
    * (the objective × lambdaDen — same argmax, all longs). Ties break
    * to the smaller id.
    *
    * The greedy is inherently sequential in k, so it runs driver-side
    * over the COLLECTED candidate set — bounded by contract
    * (`maxCandidates`, default 1000; re-ranking feeds from a top-k
    * retriever, so the set is k'-sized, not corpus-sized — the same
    * bounded-collect contract as the IVF centroid table). Output:
    * `(idCol, rank)`, rank 1..k in selection order.
    */
  def mmrRerank(
      candidates: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, scoreGridCol: String, k: Int,
      lambdaNum: Int = 1, lambdaDen: Int = 2,
      maxCandidates: Int = 1000): DataFrame = {
    require(k >= 1, s"mmrRerank: k must be >= 1, got $k")
    require(lambdaDen >= 1 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"mmrRerank: need 0 <= lambdaNum/lambdaDen <= 1, got $lambdaNum/$lambdaDen")
    val spark = candidates.sparkSession
    import spark.implicits._
    val grid = transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(1.0e7)))
    // ONE collect validates AND fetches: a LEFT join keeps candidates
    // the corpus lacks visible (null vector — the inner join would
    // silently shrink the result below k), a null id or score would NPE
    // opaquely in the greedy, and a duplicate id would be picked twice
    // — each fails loudly here instead
    val joined = candidates
      .join(corpus.select(col(idCol), grid.as("__gv")), Seq(idCol), "left")
      .select(col(idCol).cast("long"), col(scoreGridCol).cast("long"),
        col("__gv"))
      .collect()
    require(joined.length <= maxCandidates,
      s"mmrRerank: ${joined.length} candidates exceed maxCandidates=" +
        s"$maxCandidates — re-rank a top-k retriever's output, not a corpus")
    require(joined.forall(!_.isNullAt(0)),
      s"mmrRerank: candidate frame has a null $idCol")
    joined.find(_.isNullAt(2)).foreach { r =>
      throw new IllegalArgumentException(
        s"mmrRerank: candidate id ${r.getLong(0)} is absent from the corpus " +
          "— an inner join would silently drop it")
    }
    joined.find(_.isNullAt(1)).foreach { r =>
      throw new IllegalArgumentException(
        s"mmrRerank: candidate ${r.getLong(0)} has a null $scoreGridCol " +
          "relevance score")
    }
    val rows = joined.map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val ids = rows.map(_._1)
    require(ids.distinct.length == ids.length,
      s"mmrRerank: duplicate candidate ids " +
        ids.groupBy(identity).collect { case (id, g) if g.length > 1 => id }
          .take(5).mkString("(", ", ", ", …)"))
    val byId = rows.sortBy(_._1)
    val n = byId.length
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pickedIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    val maxSim = Array.fill(n)(Long.MinValue)
    var step = 0
    while (step < math.min(k, n)) {
      var best = -1
      var bestObj = Long.MinValue
      var i = 0
      while (i < n) {
        if (!pickedIdx.contains(i)) {
          val penalty = if (step == 0) 0L else (lambdaDen - lambdaNum) * maxSim(i)
          val obj = lambdaNum * byId(i)._2 - penalty
          if (obj > bestObj || (obj == bestObj && best >= 0 &&
              byId(i)._1 < byId(best)._1)) {
            best = i
            bestObj = obj
          }
        }
        i += 1
      }
      picked += byId(best)._1
      pickedIdx += best
      var j = 0
      while (j < n) {
        if (!pickedIdx.contains(j)) {
          val s = graft.functions.GridSumAggregator.cosGrid(
            byId(j)._3.toSeq, byId(best)._3.toSeq)
          if (s > maxSim(j)) maxSim(j) = s
        }
        j += 1
      }
      step += 1
    }
    picked.zipWithIndex.map { case (id, r) => (id, (r + 1).toLong) }
      .toSeq.toDF(idCol, "rank")
  }

  /** K-MEANS clustering exposed as a first-class operator — the
    * semantic grouping step of corpus curation (topic buckets for
    * mixing recipes, per-cluster dedup/caps, SemDeDup-style pruning):
    * the IVF trainer's cosine-metric Lloyd iterations (seedless
    * md5-order init, empty cells keep their centroid, ties to the
    * smaller cluster id — [[ivfTopK]]'s cells ARE this clustering) run
    * to `iters`, then every row is assigned by the row-local
    * expression argmax (k×dim doubles folded into the plan: NO udf,
    * NO join, NO shuffle on the assignment pass). Output:
    * `(<idCol>, cluster)` — deterministic across runs and
    * partitioning; sizes/rollups are one groupBy downstream.
    */
  def clusterEmbeddings(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    require(k >= 2, s"clusterEmbeddings: k must be >= 2, got $k")
    val c = prepared(df, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .localCheckpoint(true) // scanned once per Lloyd iteration + assign
    val centroids = trainCentroids(c, k, iters)
    c.withColumn("__cell", bestCellExpr(col("__cv"), centroids))
      .select(col("neighbor_id").as(idCol), col("__cell").as("cluster"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): semantic near-dup
    * pruning that scales by confining the quadratic pair search to
    * k-means clusters — cluster the embeddings ([[clusterEmbeddings]]'
    * deterministic seedless Lloyd trainer), find cosine-≥-`threshold`
    * pairs ONLY within each cluster, group duplicates by connected
    * components, and from every duplicate group KEEP the member with
    * the LOWEST cosine to its cluster centroid (the paper's rule: the
    * most atypical example survives, the redundant core is pruned).
    *
    * Returns one row per embedding: `(<idCol>, cluster, centroid_cos,
    * component, kept)` — `component` is null for docs in no duplicate
    * pair (trivially kept), `kept = false` marks the rows a curation
    * pipeline drops. Cross-cluster near-duplicates are NOT found —
    * that is the method's documented approximation (the clustering is
    * the blocking structure), same contract as the banded-LSH dedups.
    *
    * Scale design: assignment and centroid cosine are one row-local
    * expression pass (k×dim centroid literal, no join); the pair
    * search shuffles by cluster id and compares within blocks, so cost
    * is Σ|cluster|² — size k so clusters stay ~constant (the paper
    * uses k ≈ √n·c); components/representatives are pair-scaled,
    * never corpus-scaled. The keep rule compares exact 1e-4-grid longs
    * (floor(cos·1e4), id tiebreak), so the pruned set is deterministic
    * and engine-reproducible.
    */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double, iters: Int = 5,
      maxCellSize: Int = 0,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 2, s"semDeDup: k must be >= 2, got $k")
    // the same fault-tolerance option as Dedup.connectedComponents:
    // this operator ITERATES (Lloyd passes, hierarchical splitting,
    // the component contraction) over the full embedding corpus — on a
    // cluster, pass a durable dir so an executor loss replays at most
    // one round instead of killing the job (see [[RoundSpiller]])
    val spiller = new graft.operators.RoundSpiller(
      df.sparkSession, checkpointDir, "semdedup-spill")
    val c = spiller.keep( // scanned per Lloyd iteration + twice below
      prepared(df, idCol, vecCol, "neighbor_id", "__cv", "__cn"))
    val centroids = trainCentroids(c, k, iters)
    // maxCellSize > 0 arms the paper's hierarchical fallback: cells the
    // Lloyd pass left oversized re-cluster recursively before the
    // Σ|cell|² pair search (see [[splitOversizedCells]]); the default
    // keeps the flat blocking and only WARNS on a degenerate histogram,
    // so existing results are byte-stable
    val state =
      if (maxCellSize <= 0) semDeDupState(c, centroids, threshold, checkpointDir)
      else {
        val assigned = assignSemDedupCells(c, centroids)
        semDeDupResolve(
          splitOversizedCells(assigned, maxCellSize, iters, spiller),
          threshold, checkpointDir)
      }
    state
      .select(col("__id").as(idCol), col("cluster"),
        (col("__ccos") / lit(10000.0)).as("centroid_cos"),
        col("component"), col("kept"))
  }

  /** [[semDeDup]]'s core with the CENTROIDS GIVEN (the blocking model
    * frozen): assign, pair within cells, contract to components, apply
    * the keep-the-atypical rule. Returns the rich state frame
    * `(__id, __cv, __cn, cluster, __ccos, component, kept)` — the
    * batch operator projects it down, the persisted index
    * ([[buildSemDedupIndex]]) stores it. Everything downstream of a
    * fixed centroid set is deterministic, which is exactly what makes
    * the incremental form's identity contract provable: incremental
    * maintenance and a one-shot run over the same corpus with the same
    * centroids produce equal state by construction.
    */
  private def semDeDupState(c: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, checkpointDir: Option[String] = None): DataFrame = {
    val assigned = assignSemDedupCells(c, centroids)
    warnDegeneratePairSearch(assigned)
    semDeDupResolve(assigned, threshold, checkpointDir)
  }

  /** The assignment half of [[semDeDupState]]: every row gets its best
    * cell and grid centroid cosine in one row-local expression pass.
    * Checkpointed — the resolve half self-joins it.
    */
  private def assignSemDedupCells(
      c: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    c.withColumn("__best", bestCellStructExpr(col("__cv"), centroids))
      .select(col("neighbor_id").as("__id"), col("__cv"), col("__cn"),
        col("__best").getField("cell").as("cluster"),
        floor(col("__best").getField("score") * lit(10000.0)).cast("long")
          .as("__ccos"))
      .localCheckpoint(true) // self-joined: don't assign twice

  /** The pair-search cost contract of SemDeDup is Σ|cell|² — a
    * degenerate clustering (one cell holding most of a skewed corpus)
    * silently reverts it to ~n². This guard MEASURES the realized cost
    * on the (≤ k-row) cell histogram and warns loudly when the largest
    * cell blows the balanced budget, naming the numbers — the operator
    * still runs (the result is correct either way), but the cost
    * regression is attributable instead of invisible. Remedies: larger
    * `k`, a rebuild after drift, or [[semDeDup]]'s `maxCellSize`
    * hierarchical re-clustering.
    */
  private def warnDegeneratePairSearch(assigned: DataFrame): Unit = {
    val sizes = assigned.groupBy("cluster").count()
      .select(col("count")).collect().map(_.getLong(0))
    if (sizes.length <= 1) return
    val n = sizes.sum
    val pairCost = sizes.map(s => s * s).sum
    val balanced = n.toDouble * n / sizes.length
    val maxCell = sizes.max
    if (pairCost > 4.0 * balanced && maxCell > 4L * n / sizes.length)
      System.err.println(
        f"[graft] WARN: SemDeDup pair search is degenerate: largest cell " +
          f"holds $maxCell of $n rows across ${sizes.length} occupied cells " +
          f"(measured sum(|cell|^2) = $pairCost%,d vs ~${balanced.toLong}%,d " +
          "balanced). Increase k, rebuild after drift, or pass maxCellSize " +
          "for hierarchical re-clustering.")
  }

  /** The resolve half of [[semDeDupState]]: cosine-≥-threshold pairs
    * WITHIN cells, connected components, keep-the-atypical.
    */
  private def semDeDupResolve(
      assigned: DataFrame, threshold: Double,
      checkpointDir: Option[String] = None): DataFrame = {
    val a = assigned.select(col("cluster"), col("__id").as("id_a"),
      col("__cv").as("__va"), col("__cn").as("__na"))
    val b = assigned.select(col("cluster"), col("__id").as("id_b"),
      col("__cv").as("__vb"), col("__cn").as("__nb"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.dot(col("__va"), col("__vb"))
        / (col("__na") * col("__nb")) >= threshold)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b",
      checkpointDir = checkpointDir.map(_ + "/cc"))
    // representative = argmin (centroid_cos, id) per component
    val reps = comps
      .join(assigned.select(col("__id").as("id"), col("__ccos")), Seq("id"))
      .groupBy(col("component"))
      .agg(min_by(col("id"), struct(col("__ccos"), col("id"))).as("keep_id"))
    assigned
      .join(comps.select(col("id").as("__id"), col("component")),
        Seq("__id"), "left")
      .join(reps, Seq("component"), "left")
      .select(col("__id"), col("__cv"), col("__cn"), col("cluster"),
        col("__ccos"), col("component"),
        coalesce(col("keep_id") === col("__id"), lit(true)).as("kept"))
  }

  /** The hierarchical fallback of the SemDeDup paper for a collapsed
    * clustering: cells larger than `maxCellSize` re-cluster — their
    * members train their OWN sub-centroids (same deterministic Lloyd
    * trainer) and reassign to fresh cluster ids in one chained-`when`
    * expression pass — and the split repeats on still-oversized
    * results up to 3 levels. Inseparable cells (identical vectors
    * cannot split: every member follows the same centroid) are
    * detected by a no-progress check and left intact with the loud
    * Σ|cell|² warning. Driver work per level is bounded: the 64
    * LARGEST oversized cells split per level (the rest warn), each
    * costing one bounded `trainCentroids` over that cell's members.
    * Sub-splitting only ever REMOVES cross-subcell pairs — exactly the
    * approximation the clustering-as-blocking contract already allows.
    */
  private def splitOversizedCells(
      assigned0: DataFrame, maxCellSize: Int, iters: Int,
      spiller: RoundSpiller): DataFrame = {
    var assigned = assigned0
    var depth = 0
    var prevOversizedRows = Long.MaxValue
    var continue = true
    while (continue && depth < 3) {
      val sizes = assigned.groupBy("cluster").count().collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      // cell id breaks count ties: the collect order follows partition
      // order, which is NOT stable across materialization strategies
      // (parquet read-back vs localCheckpoint) — and the split order
      // assigns the fresh sub-cluster id range sequentially
      val oversized = sizes.filter(_._2 > maxCellSize)
        .sortBy { case (cell, n) => (-n, cell) }
      val oversizedRows = oversized.map(_._2).sum
      if (oversized.isEmpty || oversizedRows >= prevOversizedRows) {
        if (oversized.nonEmpty) warnDegeneratePairSearch(assigned)
        continue = false
      } else {
        prevOversizedRows = oversizedRows
        val toSplit = oversized.take(64)
        if (oversized.length > 64)
          System.err.println(
            s"[graft] WARN: SemDeDup maxCellSize guard: ${oversized.length} " +
              "oversized cells; splitting the 64 largest this level")
        var nextId = sizes.map(_._1).max + 1
        val splits = toSplit.map { case (cell, size) =>
          val members = assigned.filter(col("cluster") === cell)
            .select(col("__id").as("neighbor_id"), col("__cv"), col("__cn"))
          val k2 = math.max(2, math.min(256,
            math.ceil(size.toDouble / maxCellSize).toInt))
          val sub = trainCentroids(members, k2, iters)
          val s = (cell, nextId, sub)
          nextId += sub.length
          s
        }
        // one chained-when pass reassigns every split cell's members to
        // its own sub-centroid literal (cell ids pre-shifted into the
        // fresh range); untouched rows keep their cell
        val rebest = splits.foldLeft(lit(null).cast(
            "struct<cell:int,score:double>")) { case (acc, (cell, base, sub)) =>
          when(col("cluster") === cell,
            bestCellStructExpr(col("__cv"), sub, base))
            .otherwise(acc)
        }
        assigned = spiller.cut(assigned
          .withColumn("__rb", rebest)
          .select(col("__id"), col("__cv"), col("__cn"),
            coalesce(col("__rb").getField("cell"), col("cluster")).as("cluster"),
            coalesce(
              floor(col("__rb").getField("score") * lit(10000.0)).cast("long"),
              col("__ccos")).as("__ccos")))
      }
      depth += 1
    }
    if (continue) {
      // depth exhausted with progress still being made: report the
      // residual cost honestly
      warnDegeneratePairSearch(assigned)
    }
    assigned
  }

  /** Persist SemDeDup as an INCREMENTAL artifact — [[semDeDup]] per
    * crawl batch re-trains the centroids and re-pairs the whole
    * corpus; this freezes the blocking model once and lets each batch
    * resolve against it:
    *
    *  - `centroids`: the frozen k-means blocking model (re-training is
    *    a rebuild decision — [[graft.operators.Sketches.embeddingDrift]]
    *    is the signal);
    *  - `members`: `(neighbor_id, vec, norm, cluster, ccos, component)`
    *    — every indexed embedding with its duplicate-component label
    *    AS OF ITS SEGMENT (singletons carry their own id, so later
    *    contraction is uniform);
    *  - `remaps`: `(from, to)` label rewrites published by increments
    *    whose batch BRIDGED previously separate components (labels are
    *    component-min ids, so every rewrite strictly decreases —
    *    applying the chain's remap tables in segment order resolves
    *    any member to its current label);
    *  - `meta`: the pairing threshold, so appends can't diverge.
    *
    * The keep rule is NOT stored: `kept` is a pure function of
    * `(component, ccos, id)` recomputed at read ([[
    * semDedupIndexStatus]]) — so a new batch member with a lower
    * centroid cosine takes over as its group's keeper without
    * rewriting any published segment.
    *
    * EXACT contract (suite-pinned): the chain's state equals a
    * one-shot [[semDeDup]] pass with the SAME centroids over the union
    * corpus — frozen blocking finds cross-batch duplicates through the
    * cells exactly as intra-batch ones, and component contraction is
    * associative. (A one-shot run that RE-TRAINS on the union differs
    * exactly where the method's own contract allows: duplicates that
    * cross cluster boundaries under one of the two clusterings.)
    */
  def buildSemDedupIndex(
      df: DataFrame, idCol: String, vecCol: String, path: String,
      k: Int, threshold: Double, iters: Int = 5,
      marker: Option[String] = None): Unit = {
    require(k >= 2, s"buildSemDedupIndex: k must be >= 2, got $k")
    val spark = df.sparkSession
    val c = prepared(df, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .select(col("neighbor_id").cast("long").as("neighbor_id"),
        col("__cv"), col("__cn"))
      .localCheckpoint(true)
    val centroids = trainCentroids(c, k, iters)
    val state = semDeDupState(c, centroids, threshold)
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      writeCentroids(spark, vdir, centroids)
      state.select(col("__id").as("neighbor_id"), col("__cv").as("vec"),
          col("__cn").as("norm"), col("cluster"), col("__ccos").as("ccos"),
          coalesce(col("component"), col("__id")).as("component"))
        .write.mode("overwrite").parquet(s"$vdir/members")
      graft.sources.IndexIO.writeRows(spark, s"$vdir/meta",
        StructType.fromDDL("threshold DOUBLE NOT NULL"), Seq(Row(threshold)))
    }
    ()
  }

  /** The chain's members with CURRENT component labels: union the
    * member segments, then apply every remap table in chain order — a
    * remap's `from` labels can only name components created before it,
    * so the fold is a no-op on later members and multi-hop rewrites
    * resolve sequentially. Remap tables are merge-sized (one row per
    * bridged component, tiny next to the corpus), so each application
    * is a broadcast join.
    */
  private def resolvedSemDedupMembers(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    // takedowns ([[deleteFromSemDedupIndex]]) anti-join here, BEFORE
    // the remap fold and the keeper recompute: a removed member leaves
    // every downstream view (status, compaction, the batch×member pair
    // search), and the keep-the-atypical rule re-elects among the
    // survivors with no segment rewrite. Log-ordered like every chain
    // tombstone: re-appending an id later resurrects it.
    val members = graft.sources.IndexIO.withoutTombstoned(
      graft.sources.IndexIO.chainTable(spark, path, "members")
        .getOrElse(throw new IllegalStateException(
          s"SemDeDup index at $path has no members table")),
      graft.sources.IndexIO.chainTable(spark, path, "tombstones"),
      "neighbor_id")
    val remaps = graft.sources.IndexIO.segments(spark, path).flatMap(s =>
      graft.sources.IndexIO.readTableIfExists(spark, s"$s/remaps"))
    remaps.foldLeft(members) { (acc, r) =>
      acc.join(
          broadcast(r.select(col("from").as("__rf"), col("to").as("__rt"))),
          acc("component") === col("__rf"), "left")
        .withColumn("component", coalesce(col("__rt"), col("component")))
        .drop("__rf", "__rt")
    }
  }

  /** Resolve ONE new batch against a [[buildSemDedupIndex]] artifact
    * WITHOUT re-training or re-pairing the corpus: the frozen
    * centroids assign the batch in-row (k×dim literal — no join, no
    * shuffle), duplicate edges are searched ONLY between the batch and
    * its own cells (batch×members within the cell, batch×batch within
    * the cell — per-batch cost Σ|cell∩batch|·|cell|, never corpus²),
    * existing components enter the contraction as single label nodes,
    * and the result publishes as one immutable segment (+ remap rows
    * where the batch bridged components). Returns the UPDATED full
    * state ([[semDedupIndexStatus]]). Caller contract: batch ids must
    * not already be live in the index. Empty batches are a no-op.
    */
  def semDeDupIncremental(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String,
      marker: Option[String] = None): DataFrame = {
    applySemDedupBatch(spark, path, batch, idCol, vecCol, marker)
    semDedupIndexStatus(spark, path)
  }

  /** [[semDeDupIncremental]]'s write half alone: resolve + publish the
    * batch WITHOUT constructing the full-state status — the shape a
    * streaming maintainer wants, where building the status (a chain
    * listing + per-segment remap probes + parquet footer reads, pure
    * driver I/O growing with segment count) would be discarded every
    * micro-batch.
    */
  def applySemDedupBatch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String,
      marker: Option[String] = None): Unit = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    val threshold = graft.sources.IndexIO.readRows(spark, s"$vdir/meta").head
      .getAs[Double]("threshold")
    val cents = readCentroids(spark, vdir)
    val c = prepared(batch, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .select(col("neighbor_id").cast("long").as("neighbor_id"),
        col("__cv"), col("__cn"))
    val newDim = c.select(size(col("__cv"))).limit(1).collect()
      .headOption.map(_.getInt(0))
    if (newDim.isEmpty) return
    require(newDim.get == cents(0).length,
      s"semDeDupIncremental: batch has dim ${newDim.get} but the index at " +
        s"$path was trained on dim ${cents(0).length}")
    val assigned = c
      .withColumn("__best", bestCellStructExpr(col("__cv"), cents))
      .select(col("neighbor_id").as("__id"), col("__cv"), col("__cn"),
        col("__best").getField("cell").as("cluster"),
        floor(col("__best").getField("score") * lit(10000.0)).cast("long")
          .as("__ccos"))
      .localCheckpoint(true)
    val members = resolvedSemDedupMembers(spark, path).localCheckpoint(true)
    // batch × existing members, same cell, contracted to the member's
    // component label; plus batch × batch within the cell
    val bm = assigned.alias("n").join(members.alias("m"),
        col("n.cluster") === col("m.cluster") &&
          VectorFunctions.dot(col("n.__cv"), col("m.vec"))
            / (col("n.__cn") * col("m.norm")) >= threshold)
      .select(col("n.__id").as("id_a"), col("m.component").as("id_b"))
    val aa = assigned.select(col("cluster"), col("__id").as("id_a"),
      col("__cv").as("__va"), col("__cn").as("__na"))
    val bb = assigned.select(col("cluster"), col("__id").as("id_b"),
      col("__cv").as("__vb"), col("__cn").as("__nb"))
    val ebb = aa.join(bb, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.dot(col("__va"), col("__vb"))
        / (col("__na") * col("__nb")) >= threshold)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(bm.union(ebb), "id_a", "id_b")
      .localCheckpoint(true) // consumed twice (labels + remaps)
    val labels = comps.select(col("id").as("__id"), col("component"))
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      graft.sources.IndexIO.copyRows(spark, s"$vdir/centroids", s"$seg/centroids")
      graft.sources.IndexIO.copyRows(spark, s"$vdir/meta", s"$seg/meta")
      assigned.join(labels, Seq("__id"), "left")
        .select(col("__id").as("neighbor_id"), col("__cv").as("vec"),
          col("__cn").as("norm"), col("cluster"), col("__ccos").as("ccos"),
          coalesce(col("component"), col("__id")).as("component"))
        .write.mode("overwrite").parquet(s"$seg/members")
      comps
        .join(members.select(col("component").as("id")).distinct(), Seq("id"),
          "left_semi")
        .filter(col("id") =!= col("component"))
        .select(col("id").as("from"), col("component").as("to"))
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/remaps")
    }
    ()
  }

  /** Serve the chain's CURRENT dedup state: `(idCol, cluster,
    * centroid_cos, component, kept)`, one row per indexed embedding —
    * [[semDeDup]]'s output shape off the artifact. `kept` recomputes
    * per resolved component (argmin (ccos, id) — the paper's
    * keep-the-atypical rule), so keeper transfers caused by later
    * batches are visible without any segment rewrite; components with
    * a single member render as null like the batch operator's.
    */
  def semDedupIndexStatus(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String = "id"): DataFrame = {
    val m = resolvedSemDedupMembers(spark, path)
    val agg = m.groupBy(col("component"))
      .agg(count(lit(1)).as("__n"),
        min_by(col("neighbor_id"),
          struct(col("ccos"), col("neighbor_id"))).as("__keep"))
    m.join(agg, Seq("component"))
      .select(col("neighbor_id").as(idCol), col("cluster"),
        (col("ccos") / lit(10000.0)).as("centroid_cos"),
        when(col("__n") > 1, col("component")).as("component"),
        (col("neighbor_id") === col("__keep")).as("kept"))
  }

  /** Takedown tombstones for a SemDeDup artifact: the deleted ids stop
    * existing in every downstream view — [[semDedupIndexStatus]] drops
    * their rows and RE-ELECTS each affected component's keeper among
    * the survivors (the keep-the-atypical rule recomputes at read, so
    * removing a keeper needs no rewrite), and later
    * [[applySemDedupBatch]] batches no longer pair against them. One
    * immutable tombstone segment; log-ordered, so re-appending an id
    * afterwards resurrects it; [[compactSemDedupIndex]] drops
    * tombstoned members physically and retires the tombstones.
    */
  def deleteFromSemDedupIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String,
      marker: Option[String] = None): Unit = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      // the model tables ride in EVERY segment (the deleteFromAnnIndex
      // rule), so later appends/compactions resolve them from the
      // latest version dir even when that version is this takedown
      for (t <- Seq("centroids", "meta"))
        graft.sources.IndexIO.copyRows(spark, s"$vdir/$t", s"$seg/$t")
      graft.sources.IndexIO.writeTombstones(
        ids.select(col(idCol).cast("long").as("neighbor_id")), seg)
    }
    ()
  }

  /** Collapse a [[semDeDupIncremental]] chain to ONE segment: members
    * rewritten with their RESOLVED labels, remap tables retired,
    * tombstoned members dropped PHYSICALLY (the tombstones retire with
    * them), centroids/meta carried forward. Serving state is identical
    * by construction; applied-batch markers survive (full publish).
    */
  def compactSemDedupIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    if (graft.sources.IndexIO.segments(spark, path).length <= 1) return
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    val m = resolvedSemDedupMembers(spark, path)
    graft.sources.IndexIO.publish(spark, path) { nv =>
      graft.sources.IndexIO.copyRows(spark, s"$vdir/centroids", s"$nv/centroids")
      graft.sources.IndexIO.copyRows(spark, s"$vdir/meta", s"$nv/meta")
      m.write.mode("overwrite").parquet(s"$nv/members")
    }
    ()
  }

  /** Centroid matrix as a literal `array<struct<cell,v,n>>` column — the
    * "broadcast" for per-row cell assignment: k×dim doubles folded into
    * the plan, so assignment is a row-local expression with NO udf, NO
    * join, and NO shuffle (the alternative — crossJoin with a centroid
    * table + re-group per row — would shuffle |corpus|×k rows just to
    * undo its own explode).
    */
  /** Row-local argmax cell (highest cosine, ties to the smaller cell id)
    * over the literal centroid model. Codegen kernel
    * ([[graft.functions.CentroidKernel.bestStruct]]) — same arithmetic,
    * same left-to-right summation order, as the driver-side scoring
    * loop ([[bestCellScalar]] / [[graft.functions.IvfPqKernel.bestCell]]),
    * so expression-assigned cells match driver-computed ones
    * bit-for-bit (the suite pins this). Replaces the interpreted
    * `aggregate`-over-`zip_with` HOF chain, which fell back to
    * per-row interpretation and evaluated every centroid dot twice.
    */
  private def bestCellExpr(vec: Column, centroids: Array[Array[Double]]): Column =
    bestCellStructExpr(vec, centroids).getField("cell")

  /** The full argmax struct `(cell, score)` — [[semDeDup]] needs the
    * winning centroid's cosine, not just its id. Cell ids start at
    * `base` — the sub-centroid models of [[splitOversizedCells]] land
    * in fresh id ranges without a post-assignment shift (the no-winner
    * sentinel stays `-1` regardless of base, matching the HOF form's
    * initial accumulator).
    */
  private def bestCellStructExpr(vec: Column, centroids: Array[Array[Double]],
      base: Int = 0): Column = {
    require(centroids.nonEmpty, "bestCellStructExpr: empty centroid model")
    val (flat, norms, dim) = flatCentroids(centroids)
    org.apache.spark.sql.GraftInternals.toColumn(
      graft.functions.BestCellStructExpr(
        org.apache.spark.sql.GraftInternals.toExpression(vec),
        flat, norms, dim, base))
  }

  /** Deterministic Lloyd k-means over a prepared
    * `(neighbor_id, __cv, __cn)` frame: centroids initialize from the
    * corpus vectors with the smallest md5-derived id hash (seedless,
    * engine-stable) and iterations are plain averages. Centroids live on
    * the driver between iterations (k×dim doubles — that is how IVF
    * training works at any scale; the corpus itself never leaves the
    * executors).
    */
  private def trainCentroids(
      c: DataFrame, nCentroids: Int, iters: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = c
      .withColumn("__h", md5(col("neighbor_id").cast("string")))
      .orderBy(col("__h")).limit(nCentroids)
      .select("__cv").collect().map(_.getSeq[Double](0).toArray)
    val dim = if (centroids.isEmpty) 0 else centroids(0).length
    var it = 0
    while (it < iters) {
      val assigned =
        c.withColumn("__cell", bestCellExpr(col("__cv"), centroids))
      // per-cell mean in ONE map-side-partial aggregation: d component
      // sums + a count per cell (k rows × d+1 columns over the wire),
      // assembled on the driver. The previous form posexploded every
      // vector (n×d rows through the hash aggregate) and paid a second
      // shuffle to re-collect the component rows into arrays — same
      // mean (sum/count, matching avg's evaluate), two shuffles fewer.
      // The d sums + count ride in ONE fixed-size array aggregate
      // (VecSumCountAggregator) instead of d separate `sum` columns:
      // past spark.sql.codegen.maxFields (100) the d-column aggregate
      // drops out of whole-stage codegen and every Lloyd pass over the
      // corpus turns interpreted — measured 3-4x slower per pass at
      // d=768/1536, and the array form is ~2x faster even at d=64
      // (tools/CentroidDimProbe, which also checks the two forms'
      // sums are BIT-IDENTICAL: same adds over the same shuffle).
      val vecSumCount = udaf(new graft.functions.VecSumCountAggregator())
      val means = assigned
        .groupBy(col("__cell"))
        .agg(vecSumCount(col("__cv")).as("__sc"))
        .select(col("__cell"), col("__sc._1").as("__sums"),
          col("__sc._2").as("__n"))
        .collect().map { r =>
          val n = r.getLong(2).toDouble
          val s = r.getSeq[Double](1)
          r.getInt(0) -> Array.tabulate(dim)(i => s(i) / n)
        }.toMap
      // empty cells keep their previous centroid
      centroids = Array.tabulate(centroids.length)(i => means.getOrElse(i, centroids(i)))
      it += 1
    }
    centroids
  }

  private def prepared(df: DataFrame, idCol: String, vecCol: String,
      idAlias: String, vecAlias: String, normAlias: String): DataFrame =
    df.select(
      col(idCol).as(idAlias),
      VectorFunctions.asDouble(col(vecCol)).as(vecAlias),
      VectorFunctions.norm(col(vecCol)).as(normAlias))

  /** Queries annotated with their `nProbe` nearest cells: one batched
    * pass — broadcast crossJoin against the (tiny) centroid table,
    * codegen dot product, window top-nProbe per query. No per-row UDF
    * anywhere on the search path.
    */
  private def probeCells(
      q: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cscore").desc, col("__cell").asc)
    q.crossJoin(broadcast(cents))
      .withColumn("__cscore",
        when(col("__ctn") > 0,
          VectorFunctions.dot(col("__qv"), col("__ctv")) / col("__ctn"))
          .otherwise(lit(0.0)))
      .withColumn("__crn", row_number().over(w))
      .filter(col("__crn") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__cell"))
  }

  /** Candidate join + exact rescore + top-k, shared by the in-memory and
    * persisted IVF paths. `cells` carries
    * `(neighbor_id, __cv, __cn, __cell)`.
    */
  private def ivfSearch(
      probed: DataFrame, cells: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(probed)
      .join(cells, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        (VectorFunctions.dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn"))).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** IVF (inverted-file) approximate top-k — the learned-bucketing scale
    * path the spec pairs with LSH: k-means centroids partition the
    * corpus into `nCentroids` cells; a query probes only its `nProbe`
    * nearest cells and rescores those candidates exactly.
    *
    * Trains in-process on every call — the right shape for ad-hoc use.
    * A production pipeline trains ONCE via [[buildIvfIndex]] and serves
    * queries from the persisted index with [[searchIvf]].
    *
    * Cost per query: `nCentroids` centroid dots + |corpus|·nProbe/
    * nCentroids candidate dots — vs |corpus| for brute force. Recall is
    * approximate at cell boundaries; returned cosines are exact.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 5): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCentroids)
    val c = prepared(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .localCheckpoint(true) // scanned once per Lloyd iteration + search
    val centroids = trainCentroids(c, nCentroids, iters)
    val cells =
      c.withColumn("__cell", bestCellExpr(col("__cv"), centroids))
    val cents = centroidTable(queries.sparkSession, centroids)
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    ivfSearch(probeCells(q, cents, nProbe), cells, k)
  }

  private def centroidTable(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.toIndexedSeq
      .map { case (v, i) => (i, v, math.sqrt(v.map(x => x * x).sum)) }
      .toDF("__cell", "__ctv", "__ctn")
  }

  /** A version's `centroids` table `(cell, centroid, cnorm)`, written on
    * the driver, which trained them.
    */
  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      vdir: String, centroids: Array[Array[Double]]): Unit =
    graft.sources.IndexIO.writeRows(spark, s"$vdir/centroids",
      StructType.fromDDL("cell INT NOT NULL, centroid ARRAY<DOUBLE>, cnorm DOUBLE NOT NULL"),
      centroids.toSeq.zipWithIndex.map { case (v, i) =>
        Row(i, v.toSeq, math.sqrt(v.map(x => x * x).sum)) })

  /** The centroid matrix of a version, in cell order, read on the driver. */
  private def readCentroids(
      spark: org.apache.spark.sql.SparkSession, vdir: String): Array[Array[Double]] =
    graft.sources.IndexIO.readRows(spark, s"$vdir/centroids")
      .sortBy(_.getAs[Int]("cell"))
      .map(_.getAs[Seq[Double]]("centroid").toArray).toArray

  /** A version's one-row PQ `codebook` table `(m, k_codes, sub_dim, cb)`,
    * written on the driver.
    */
  private def writeCodebook(spark: org.apache.spark.sql.SparkSession,
      vdir: String, book: (Int, Int, Int, Array[Double])): Unit =
    graft.sources.IndexIO.writeRows(spark, s"$vdir/codebook",
      StructType.fromDDL(
        "m INT NOT NULL, k_codes INT NOT NULL, sub_dim INT NOT NULL, cb ARRAY<DOUBLE>"),
      Seq(Row(book._1, book._2, book._3, book._4.toSeq)))

  /** `(m, kCodes, subDim, flattened codebooks)` of a version, read on
    * the driver.
    */
  private def readCodebook(spark: org.apache.spark.sql.SparkSession, vdir: String)
      : (Int, Int, Int, Array[Double]) = {
    val meta = graft.sources.IndexIO.readRows(spark, s"$vdir/codebook").head
    (meta.getInt(0), meta.getInt(1), meta.getInt(2), meta.getSeq[Double](3).toArray)
  }

  /** Train an IVF index ONCE and persist it (the index lifecycle a
    * 100 TB ANN deployment needs — [[ivfTopK]] retrains per call):
    *
    *  - `indexDir/centroids` — `(cell, centroid, cnorm)`, k rows.
    *  - `indexDir/cells` — the corpus vectors PARTITIONED BY cell, so a
    *    probe of `nProbe` cells is a partition-pruned scan that never
    *    touches the other `nCentroids − nProbe` directories (dynamic
    *    partition pruning from the broadcast probe join; 15/16 of the
    *    corpus is never read at the defaults).
    *
    * Assignment is the row-local argmax expression — building the index
    * shuffles nothing but the write itself.
    */
  def buildIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      nCentroids: Int = 16, iters: Int = 5,
      marker: Option[String] = None): Unit = {
    val c = prepared(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .localCheckpoint(true)
    val centroids = trainCentroids(c, nCentroids, iters)
    // centroids + cells publish atomically (IndexIO): a probe can never
    // pair one training run's centroids with another's cell assignments
    graft.sources.IndexIO.publish(c.sparkSession, indexDir, marker) { vdir =>
      writeCentroids(c.sparkSession, vdir, centroids)
      c.withColumn("cell", bestCellExpr(col("__cv"), centroids))
        .select(col("neighbor_id"), col("__cv").as("vec"), col("__cn").as("norm"),
          col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$vdir/cells")
    }
    ()
  }

  /** Append new vectors to a [[buildIvfIndex]] index WITHOUT
    * retraining or rewriting: the existing centroids (k×dim, read once
    * to the driver) assign the new vectors to their cells, and the new
    * cell files land in a fresh immutable segment chained via
    * [[graft.sources.IndexIO.publishDelta]] — searches union the
    * chain. The centroid table is copied forward so every version
    * resolves its own. One pass over the NEW vectors only; recall
    * properties are those of the original training (append enough
    * drifted data and a rebuild re-trains — that's a policy decision,
    * not this operator's).
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      newVectors: DataFrame, idCol: String, vecCol: String,
      marker: Option[String] = None): Unit = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val cents = readCentroids(spark, vdir)
    val c = prepared(newVectors, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    // fail loudly on a dimension mismatch: bestCellExpr would otherwise
    // zip the shorter prefix and assign every new vector a garbage cell.
    // An EMPTY batch (quiet crawl window) is a NO-OP, not a crash and
    // not a new version: a partitionBy write of zero rows produces a
    // directory the chain reader cannot infer a schema from
    val newDim = c.select(size(col("__cv"))).limit(1).collect()
      .headOption.map(_.getInt(0))
    if (newDim.isEmpty) return
    require(cents.isEmpty || newDim.get == cents(0).length,
      s"appendToIvfIndex: new vectors have dim ${newDim.get} but the index at " +
        s"$indexDir was trained on dim ${cents(0).length}")
    graft.sources.IndexIO.publishDelta(spark, indexDir, marker) { seg =>
      graft.sources.IndexIO.copyRows(spark, s"$vdir/centroids", s"$seg/centroids")
      c.withColumn("cell", bestCellExpr(col("__cv"), cents))
        .select(col("neighbor_id"), col("__cv").as("vec"), col("__cn").as("norm"),
          col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$seg/cells")
    }
    ()
  }

  /** Compact an IVF append chain to one segment: union the chain's
    * cells and rewrite them as a single cell-partitioned table (one
    * directory per cell again, instead of one per cell per segment),
    * centroids carried forward. Publishes as a fresh single-segment
    * version; pre-flip readers keep their chain. No-op on an unchained
    * index.
    */
  def compactIvfIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit = {
    val segs = graft.sources.IndexIO.segments(spark, indexDir)
    if (segs.length <= 1) return
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    // liveChain: tombstoned rows die physically here, and the fresh
    // single-segment publish carries no tombstone table forward
    val cells = liveChain(spark, indexDir, "cells")
    graft.sources.IndexIO.publish(spark, indexDir) { nv =>
      graft.sources.IndexIO.copyRows(spark, s"$vdir/centroids", s"$nv/centroids")
      cells.write.mode("overwrite").partitionBy("cell").parquet(s"$nv/cells")
    }
    ()
  }

  /** IVF-SQ8 persisted index: same learned cells as [[buildIvfIndex]],
    * but the stored vectors are SQ8-quantized structs — ~8× smaller
    * cells on disk and over the wire, and probe-time scoring runs the
    * codegen'd integer [[graft.functions.ByteDot]] kernel (the classic
    * IVF+SQ combination). Centroids stay float: k×dim doubles, exact
    * cell choice. At 100 TB the cells ARE the index cost — an 8×
    * smaller candidate scan is the difference between memory-bandwidth-
    * bound and disk-bound probes.
    */
  def buildIvfSq8Index(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      nCentroids: Int = 16, iters: Int = 5,
      marker: Option[String] = None): Unit = {
    val c = prepared(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .localCheckpoint(true)
    val centroids = trainCentroids(c, nCentroids, iters)
    graft.sources.IndexIO.publish(c.sparkSession, indexDir, marker) { vdir =>
      writeCentroids(c.sparkSession, vdir, centroids)
      c.withColumn("cell", bestCellExpr(col("__cv"), centroids))
        .select(col("neighbor_id"),
          VectorFunctions.sq8Quantize(col("__cv")).as("qvec"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$vdir/cells")
    }
    ()
  }

  /** Append new vectors to a [[buildIvfSq8Index]] index WITHOUT
    * retraining — the one index family that still forced a rebuild per
    * crawl batch: the stored float centroids assign cells (the
    * assignment runs on the FLOAT vector, so quantization never moves
    * a row to the wrong cell), the new rows SQ8-quantize into a fresh
    * immutable segment, centroids copied forward. Empty batches no-op;
    * dimension mismatches fail loudly ([[appendToIvfIndex]]'s
    * contracts). Deletes ([[deleteFromAnnIndex]]) and
    * [[compactIvfIndex]] already work on the chain (both are
    * cells-schema-agnostic).
    */
  def appendToIvfSq8Index(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      newVectors: DataFrame, idCol: String, vecCol: String,
      marker: Option[String] = None): Unit = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val cents = readCentroids(spark, vdir)
    val c = prepared(newVectors, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val newDim = c.select(size(col("__cv"))).limit(1).collect()
      .headOption.map(_.getInt(0))
    if (newDim.isEmpty) return
    require(cents.isEmpty || newDim.get == cents(0).length,
      s"appendToIvfSq8Index: new vectors have dim ${newDim.get} but the index " +
        s"at $indexDir was trained on dim ${cents(0).length}")
    graft.sources.IndexIO.publishDelta(spark, indexDir, marker) { seg =>
      graft.sources.IndexIO.copyRows(spark, s"$vdir/centroids", s"$seg/centroids")
      c.withColumn("cell", bestCellExpr(col("__cv"), cents))
        .select(col("neighbor_id"),
          VectorFunctions.sq8Quantize(col("__cv")).as("qvec"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$seg/cells")
    }
    ()
  }

  /** Serve top-k from a [[buildIvfSq8Index]] index: cell choice uses the
    * FLOAT query against the float centroids (identical to
    * [[searchIvf]]'s — quantization never moves a query to the wrong
    * cell), candidate scoring runs the integer kernel against the
    * stored bytes, partition-pruned to the probed cells. Cosines are
    * approximate (≤ step/2 per component); gate with [[recallSummary]].
    */
  def searchIvfSq8(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val cents = graft.sources.IndexIO.readTable(spark, s"$vdir/centroids")
      .select(col("cell").as("__cell"), col("centroid").as("__ctv"),
        col("cnorm").as("__ctn"))
    val cells = liveChain(spark, indexDir, "cells")
      .select(col("neighbor_id"), col("qvec").as("__cq"), col("cell").as("__cell"))
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    val probed = probeCells(q, cents, nProbe)
      .withColumn("__qq", VectorFunctions.sq8Quantize(col("__qv")))
      .select(col("query_id"), col("__qq"), col("__cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(probed)
      .join(cells, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        VectorFunctions.sq8Cosine(col("__qq"), col("__cq")).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Serve top-k queries from a persisted [[buildIvfIndex]] index — no
    * retraining, no UDF: centroids load as a k-row broadcast table,
    * queries pick their `nProbe` cells in one batched pass, and the
    * candidate scan prunes to the probed cell partitions.
    */
  def searchIvf(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val cents = graft.sources.IndexIO.readTable(spark, s"$vdir/centroids")
      .select(col("cell").as("__cell"), col("centroid").as("__ctv"),
        col("cnorm").as("__ctn"))
    // the index may be an append chain (appendToIvfIndex): union the
    // immutable segments' cells; cell-partition pruning applies per
    // segment scan, so probes still skip unprobed directories
    val cells = liveChain(spark, indexDir, "cells")
      .select(col("neighbor_id"), col("vec").as("__cv"), col("norm").as("__cn"),
        col("cell").as("__cell"))
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    ivfSearch(probeCells(q, cents, nProbe), cells, k)
  }

  /** "Retrain the centroids?" health signal completing the IVF index
    * lifecycle: the exact grid cosine ([[Sketches.embeddingDrift]]'s
    * 1e-7-grid integer machinery — both engines compare identical
    * ints) between the index's QUANTIZED view of its live contents —
    * each indexed vector represented by its assigned cell's centroid —
    * and the live corpus's mean embedding. While the frozen centroids
    * still summarize the data the chain carries, the quantized mean
    * tracks the corpus mean and the cosine sits near 1; as appends
    * drift the corpus away from the training distribution, assignment
    * error accumulates in the quantized mean and the cosine falls —
    * the signal that schedules a [[buildIvfIndex]] re-train. One
    * broadcast join of the k-row centroid table against a
    * column-pruned `(cell)` scan of the chain — the stored vectors
    * themselves are never read on the index side. Returns one row
    * `(n_a, n_b, cos_means)` = (live indexed vectors, live corpus
    * rows, grid cosine of the mean vectors).
    */
  def ivfIndexDrift(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      live: DataFrame, vecCol: String): DataFrame = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val cents = graft.sources.IndexIO.readTable(spark, s"$vdir/centroids")
      .select(col("cell"), col("centroid"))
    val quantized = liveChain(spark, indexDir, "cells")
      .select(col("cell"))
      .join(broadcast(cents), "cell")
      .select(col("centroid").as("__vec"))
    Sketches.embeddingDrift(
      quantized,
      live.select(col(vecCol).cast("array<double>").as("__vec")),
      "__vec")
  }

  /** Row-local top-`nProbe` cells (cosine desc, cell-id tiebreak) over
    * the literal centroid array — [[probeCells]]' choice WITHOUT the
    * window, so it is usable on a STREAM (windows need state; a struct
    * sort over k centroids is a projection). Sorting on
    * `(-score, cell)` makes `array_sort`'s lexicographic struct order
    * exactly the window's `(score desc, cell asc)`.
    */
  /** The `nProbe` nearest cells of a query vector, probe order (score
    * DESC, ties to the smaller cell) — codegen kernel
    * ([[graft.functions.CentroidKernel.topCells]]) replacing the
    * interpreted transform/array_sort/slice HOF chain; identical total
    * order (negated-score ascending under `Double.compare`).
    */
  private def topCellsExpr(
      vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    require(centroids.nonEmpty, "topCellsExpr: empty centroid model")
    val (flat, norms, dim) = flatCentroids(centroids)
    org.apache.spark.sql.GraftInternals.toColumn(
      graft.functions.TopCellsExpr(
        org.apache.spark.sql.GraftInternals.toExpression(vec),
        flat, norms, dim, nProbe))
  }

  /** Semantic near-duplicate gate against a persisted [[buildIvfIndex]]
    * index, STREAM-SAFE: each incoming embedding picks its `nProbe`
    * nearest cells IN-ROW ([[topCellsExpr]] — no window, no state),
    * stream-static-joins the index's cell rows, exact-rescoring every
    * candidate against the stored float vectors. Emits
    * `(id_left, id_right, cosine)` for every indexed near-duplicate at
    * or above `threshold` — the embedding twin of
    * [[graft.streaming.Streaming.dedupAgainstMinhashIndex]], closing
    * the ingest story for semantic dedup: a live crawl drops
    * embedding-near-dups against the batch-maintained index with zero
    * streaming state. Exactly-once per pair by construction (cells
    * partition the corpus; probed cells are distinct). With
    * `nProbe = nCentroids` the probe is exhaustive and the gate is
    * EXACT — the oracle-checkable configuration. Batch/stream unified
    * like every transform here; tombstoned ids never match.
    */
  def dedupAgainstIvfIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      probes: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nProbe: Int = 4): DataFrame = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    // k×dim model, collected once at plan time (same bound as training)
    val cents = readCentroids(spark, vdir)
    require(nProbe >= 1 && nProbe <= cents.length,
      s"dedupAgainstIvfIndex: nProbe $nProbe outside [1, ${cents.length}]")
    val cells = liveChain(spark, indexDir, "cells")
      .select(col("neighbor_id"), col("vec").as("__cv"), col("norm").as("__cn"),
        col("cell").as("__cell"))
    prepared(probes, idCol, vecCol, "query_id", "__qv", "__qn")
      .withColumn("__cell",
        explode(topCellsExpr(col("__qv"), cents, nProbe)))
      .join(cells, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id").as("id_left"), col("neighbor_id").as("id_right"),
        when(col("__qn") > 0 && col("__cn") > 0,
          VectorFunctions.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
          .otherwise(lit(0.0)).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Micro-averaged recall of an approximate top-k result against the
    * exact one — the cross-implementation-oracle idea the reference's
    * tests use (test/test_ops.py:37-48), emitted AS the query output so
    * the driver's DuckDB gate can check the approximate operators too:
    * `(n_queries, n_results, recall)`, one row. Recall is
    * sum(hits)/sum(k) over integer counts (micro-average), so the value
    * is deterministic — no float summation-order wobble — and the gate
    * oracle can pin it.
    */
  /** SQ8-quantized brute-force top-k: both sides quantize to one byte
    * per component ([[VectorFunctions.sq8Quantize]]), so the broadcast
    * and the scan move 8× fewer bytes than [[bruteForceTopK]] and the
    * inner loop is the codegen'd integer [[graft.functions.ByteDot]].
    * Scores are approximate (per-component quantization error ≤ step/2);
    * ranking quality is measured by the recall gate, not assumed. At
    * 100 TB this is the memory-bandwidth-bound scan path — quantize
    * ONCE at write time, keep the float vectors out of the hot loop
    * entirely.
    */
  def sq8TopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    if (querySideOversized(queries))
      System.err.println(
        "[graft] WARN: sq8TopK query side exceeds the broadcast " +
          "threshold even quantized; consider batching the queries.")
    val q = queries.select(
      col(idCol).as("query_id"),
      VectorFunctions.sq8Quantize(col(vecCol)).as("__qq"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      VectorFunctions.sq8Quantize(col(vecCol)).as("__cq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        VectorFunctions.sq8Cosine(col("__qq"), col("__cq")).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  def recallSummary(approx: DataFrame, exact: DataFrame): DataFrame = {
    // both inputs feed two aggregate subtrees each; materialize the key
    // pairs once so the expensive ANN plans don't execute twice
    val a = approx.select("query_id", "neighbor_id").localCheckpoint(true)
    val e = exact.select("query_id", "neighbor_id").localCheckpoint(true)
    val hits = a.join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    val totals = e.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("__k_total"))
    val nApprox = a.agg(count(lit(1)).as("n_results"))
    totals.crossJoin(nApprox).crossJoin(hits)
      .select(
        col("n_queries"), col("n_results"),
        (floor(col("__hits").cast("double") / col("__k_total") * 10000) / 10000)
          .as("recall"))
  }

  /** Approximate top-k via random-hyperplane LSH banding (deterministic
    * hyperplanes from SplitMix64, same family as
    * [[Dedup.embeddingNearDupLsh]]). Exact rescoring on candidates, so
    * returned cosines are true cosines; only recall is approximate.
    */
  /** Deterministic per-subspace Lloyd k-means (L2) on a driver-side
    * sample — PQ codebooks are trained on a bounded sample by design
    * (the codebook is m×kCodes×subDim doubles regardless of corpus
    * size; faiss does the same). Init = first `kCodes` sample
    * subvectors in md5-of-id order (seedless, engine-stable); empty
    * clusters keep their previous codeword; ties go to the smaller
    * code. Returns the flattened row-major codebook of
    * [[graft.functions.PqKernel]].
    */
  private[graft] def trainPqCodebooks(
      sample: Array[Array[Double]], m: Int, kCodes: Int, subDim: Int,
      iters: Int): Array[Double] = {
    val cb = new Array[Double](m * kCodes * subDim)
    var j = 0
    while (j < m) {
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      var cents = Array.tabulate(kCodes)(c => subs(c % subs.length).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(kCodes)(new Array[Double](subDim))
        val ns = new Array[Int](kCodes)
        subs.foreach { s =>
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < kCodes) {
            var d = 0.0
            var t = 0
            while (t < subDim) { val x = s(t) - cents(c)(t); d += x * x; t += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var t = 0
          while (t < subDim) { sums(best)(t) += s(t); t += 1 }
          ns(best) += 1
        }
        cents = Array.tabulate(kCodes)(c =>
          if (ns(c) == 0) cents(c)
          else Array.tabulate(subDim)(t => sums(c)(t) / ns(c)))
        it += 1
      }
      var c = 0
      while (c < kCodes) {
        System.arraycopy(cents(c), 0, cb, (j * kCodes + c) * subDim, subDim)
        c += 1
      }
      j += 1
    }
    cb
  }

  /** Product-quantized top-k by approximate cosine (PQ/ADC): corpus
    * vectors compress to `m` code BYTES each (64-dim float64 → 64×
    * smaller than array<double>), and each query scores a pair with
    * `m` table lookups instead of a `dim`-long multiply-add. Codebooks
    * train on a deterministic md5-ordered sample (driver-side — the
    * model is m×kCodes×subDim doubles at ANY corpus scale), encode is
    * one native-expression corpus scan, and the per-query ADC table
    * (m×kCodes dots) is computed once per query row, not per pair.
    * Approximate cosine = adc / (|q| · |reconstructed x|); recall is
    * gated like the other approximate paths ([[recallSummary]]).
    */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, kCodes: Int = 16, sampleN: Int = 2048,
      iters: Int = 8): DataFrame = {
    val cv = prepared(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val dim = cv.select(size(col("__cv"))).first().getInt(0)
    require(dim % m == 0, s"pqTopK: m ($m) must divide dim ($dim)")
    val subDim = dim / m
    val sample = cv
      .withColumn("__h", md5(col("neighbor_id").cast("string")))
      .orderBy(col("__h")).limit(sampleN)
      .select("__cv").collect().map(_.getSeq[Double](0).toArray)
    val cb = trainPqCodebooks(sample, m, kCodes, subDim, iters)
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val enc = cv.select(col("neighbor_id"),
      toColumn(graft.functions.PqEncodeExpr(
        toExpression(col("__cv")), m, kCodes, subDim, cb)).as("__pq"))
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
      .select(col("query_id"), col("__qn"),
        toColumn(graft.functions.PqTableExpr(
          toExpression(col("__qv")), m, kCodes, subDim, cb)).as("__tab"))
    val adc = toColumn(graft.functions.PqAdcExpr(
      toExpression(col("__pq.codes")), toExpression(col("__tab")), kCodes))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // guard the forced broadcast: each query row carries an m×kCodes
    // double ADC table the optimizer's stats don't see
    maybeBroadcast(q,
        querySideOversized(queries, m.toLong * kCodes * 8 + 16), "pqTopK")
      .join(enc, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("__qn") > 0 && col("__pq.rnorm") > 0,
          adc / (col("__qn") * col("__pq.rnorm"))).otherwise(lit(0.0)).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  // ---- IVF×PQ composition ------------------------------------------------

  /** Flatten a centroid matrix row-major with precomputed norms — the
    * reference-object form [[graft.functions.IvfPqEncodeExpr]] carries
    * into the executors.
    */
  private def flatCentroids(
      centroids: Array[Array[Double]]): (Array[Double], Array[Double], Int) = {
    val dim = centroids(0).length
    val flat = new Array[Double](centroids.length * dim)
    centroids.zipWithIndex.foreach { case (v, i) =>
      System.arraycopy(v, 0, flat, i * dim, dim)
    }
    (flat, centroids.map(v => math.sqrt(v.map(x => x * x).sum)), dim)
  }

  /** Driver-side cell assignment for the PQ training sample — same
    * arithmetic as [[graft.functions.IvfPqKernel.bestCell]] (and so as
    * `bestCellExpr`): left-to-right dot, zero-norm scores 0, ties keep
    * the smaller cell.
    */
  private def bestCellScalar(v: Array[Double], centroids: Array[Array[Double]],
      cnorms: Array[Double]): Int = {
    var best = -1
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      var score = 0.0
      if (cnorms(c) > 0) {
        var s = 0.0
        var t = 0
        while (t < v.length) { s += centroids(c)(t) * v(t); t += 1 }
        score = s / cnorms(c)
      }
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** PQ codebooks trained on the RESIDUALS of a deterministic
    * md5-ordered corpus sample (train vs its assigned centroid — the
    * residual geometry the stored codes live in).
    */
  private def trainResidualCodebooks(
      c: DataFrame, centroids: Array[Array[Double]], cnorms: Array[Double],
      m: Int, kCodes: Int, subDim: Int, sampleN: Int, iters: Int): Array[Double] = {
    val sample = c
      .withColumn("__h", md5(col("neighbor_id").cast("string")))
      .orderBy(col("__h")).limit(sampleN)
      .select("__cv").collect().map(_.getSeq[Double](0).toArray)
    val residuals = sample.map { v =>
      val cell = bestCellScalar(v, centroids, cnorms)
      Array.tabulate(v.length)(t => v(t) - centroids(cell)(t))
    }
    trainPqCodebooks(residuals, m, kCodes, subDim, iters)
  }

  /** Probe + ADC scoring shared by the in-memory and persisted IVF×PQ
    * paths. `q` carries `(query_id, __qv, __qn)`; `cents` the centroid
    * table; `codes` `(neighbor_id, codes, rnorm, __cell)`. The per-query
    * ADC table is computed ONCE per query (the residual decomposition
    * `cos(q, x̂) = (q·c + q·dec(codes)) / (|q|·|x̂|)` needs only the RAW
    * query's table — `q·dec` is codebook lookups, `q·c` rides out of the
    * probe join), so a candidate pair costs `m` adds regardless of dim.
    */
  private def ivfPqSearch(
      q: DataFrame, cents: DataFrame, codes: DataFrame, k: Int, nProbe: Int,
      m: Int, kCodes: Int, subDim: Int, cb: Array[Double]): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val qt = q.select(col("query_id"), col("__qv"), col("__qn"),
      toColumn(graft.functions.PqTableExpr(
        toExpression(col("__qv")), m, kCodes, subDim, cb)).as("__tab"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("__cscore").desc, col("__cell").asc)
    val probed = qt.crossJoin(broadcast(cents))
      .withColumn("__cdot", VectorFunctions.dot(col("__qv"), col("__ctv")))
      .withColumn("__cscore",
        when(col("__ctn") > 0, col("__cdot") / col("__ctn")).otherwise(lit(0.0)))
      .withColumn("__crn", row_number().over(w1))
      .filter(col("__crn") <= nProbe)
      .select(col("query_id"), col("__qn"), col("__tab"), col("__cdot"), col("__cell"))
    val adc = toColumn(graft.functions.PqAdcExpr(
      toExpression(col("codes")), toExpression(col("__tab")), kCodes))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // guard the forced broadcast: the probe fan-out is nProbe rows per
    // query, each carrying the m×kCodes double ADC table — payload the
    // optimizer's stats don't see. Oversized → equi shuffle join on
    // __cell (cell-partitioned codes side co-locates for free).
    maybeBroadcast(probed,
        querySideOversized(q, nProbe.toLong * (m.toLong * kCodes * 8 + 48)),
        "ivfPqSearch")
      .join(codes, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("__qn") > 0 && col("rnorm") > 0,
          (col("__cdot") + adc) / (col("__qn") * col("rnorm")))
          .otherwise(lit(0.0)).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** IVF×PQ approximate top-k — the standard billion-vector composition
    * (faiss IndexIVFPQ): learned cells prune the candidate set to
    * `nProbe/nCentroids` of the corpus AND the candidates score as `m`
    * code bytes via ADC, so the probe moves `m + 8` bytes per candidate
    * instead of `8·dim` — the flat-PQ scan ([[pqTopK]]) keeps the byte
    * economy but streams ALL codes past each query; IVF alone prunes
    * cells but ships float vectors. Trains in-process; the production
    * lifecycle is [[buildIvfPqIndex]] / [[searchIvfPq]].
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 5,
      m: Int = 32, kCodes: Int = 32, sampleN: Int = 2048,
      pqIters: Int = 8): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCentroids)
    val c = prepared(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .localCheckpoint(true)
    val dim0 = c.select(size(col("__cv"))).first().getInt(0)
    require(dim0 % m == 0, s"ivfPqTopK: m ($m) must divide dim ($dim0)")
    val subDim = dim0 / m
    val centroids = trainCentroids(c, nCentroids, iters)
    val (flat, cnorms, dim) = flatCentroids(centroids)
    val cb = trainResidualCodebooks(c, centroids, cnorms, m, kCodes, subDim,
      sampleN, pqIters)
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val enc = c.select(col("neighbor_id"),
        toColumn(graft.functions.IvfPqEncodeExpr(
          toExpression(col("__cv")), flat, cnorms, dim, m, kCodes, subDim, cb))
          .as("__e"))
      .select(col("neighbor_id"), col("__e.codes").as("codes"),
        col("__e.rnorm").as("rnorm"), col("__e.cell").as("__cell"))
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    ivfPqSearch(q, centroidTable(queries.sparkSession, centroids), enc,
      k, nProbe, m, kCodes, subDim, cb)
  }

  /** Train-once IVF×PQ index: `centroids` (k rows) + self-describing
    * `codebook` + `cells` — the encoded corpus `(neighbor_id, codes,
    * rnorm)` PARTITIONED BY cell, so a probe is a partition-pruned scan
    * of nProbe directories whose rows are `m` code bytes + one norm.
    * At the defaults that is 16×-compressed payload over 1/4 of the
    * corpus vs [[buildPqIndex]]'s full-corpus code scan — the candidate
    * bytes table in `tools/IvfIndexCheck` quantifies it. Published
    * atomically ([[graft.sources.IndexIO]]).
    */
  def buildIvfPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      nCentroids: Int = 16, iters: Int = 5,
      m: Int = 32, kCodes: Int = 32, sampleN: Int = 2048,
      pqIters: Int = 8, metaCol: Option[String] = None,
      marker: Option[String] = None): Unit = {
    // metaCol: a filterable attribute (source, license, tenant) stored
    // INTO the cells as a second PARTITION column — a meta-scoped
    // search ([[searchIvfPqWhereMeta]]) then prunes at the parquet
    // scan (PartitionFilters), never joining an allowlist. The right
    // shape when the filter domain is small and corpus-scale (every
    // row has one of a few values): an id-allowlist of arbitrary rows
    // stays [[searchIvfPqWhere]]'s semi-join.
    val c = (metaCol match {
      case Some(mc) => corpus.select(
        col(idCol).as("neighbor_id"),
        VectorFunctions.asDouble(col(vecCol)).as("__cv"),
        VectorFunctions.norm(col(vecCol)).as("__cn"),
        col(mc).cast("string").as("__meta"))
      case None =>
        prepared(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    }).localCheckpoint(true)
    val dim0 = c.select(size(col("__cv"))).first().getInt(0)
    require(dim0 % m == 0, s"buildIvfPqIndex: m ($m) must divide dim ($dim0)")
    val subDim = dim0 / m
    val centroids = trainCentroids(c, nCentroids, iters)
    val (flat, cnorms, dim) = flatCentroids(centroids)
    val cb = trainResidualCodebooks(c, centroids, cnorms, m, kCodes, subDim,
      sampleN, pqIters)
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val spark = corpus.sparkSession
    graft.sources.IndexIO.publish(spark, indexDir, marker) { vdir =>
      writeCentroids(spark, vdir, centroids)
      writeCodebook(spark, vdir, (m, kCodes, subDim, cb))
      val encoded = c.select(
          (col("neighbor_id") +:
            toColumn(graft.functions.IvfPqEncodeExpr(
              toExpression(col("__cv")), flat, cnorms, dim, m, kCodes, subDim, cb))
              .as("__e") +:
            metaCol.map(_ => col("__meta")).toSeq): _*)
        .select(
          (col("neighbor_id") +: col("__e.codes").as("codes") +:
            col("__e.rnorm").as("rnorm") +: col("__e.cell").as("cell") +:
            metaCol.map(_ => col("__meta").as("meta")).toSeq): _*)
      encoded.write.mode("overwrite")
        .partitionBy(("cell" +: metaCol.map(_ => "meta").toSeq): _*)
        .parquet(s"$vdir/cells")
      // raw-vector side-file: makes two-stage retrieval
      // ([[searchIvfPqRerank]]) self-contained — production rescoring
      // works off the index artifact alone, no original-corpus handle
      c.select(col("neighbor_id"), col("__cv").as("vec"), col("__cn").as("vnorm"))
        .write.mode("overwrite").parquet(s"$vdir/vectors")
    }
    ()
  }

  /** Load the (centroids, codebook) model of a [[buildIvfPqIndex]]
    * version dir: `(centroid matrix, cnorms, dim, m, kCodes, subDim,
    * flattened codebooks)`.
    */
  private def loadIvfPqModel(spark: org.apache.spark.sql.SparkSession, vdir: String)
      : (Array[Array[Double]], Array[Double], Int, Int, Int, Int, Array[Double]) = {
    val cents = readCentroids(spark, vdir)
    val (m, kCodes, subDim, cb) = readCodebook(spark, vdir)
    val cnorms = cents.map(v => math.sqrt(v.map(x => x * x).sum))
    (cents, cnorms, cents(0).length, m, kCodes, subDim, cb)
  }

  /** Append vectors to a [[buildIvfPqIndex]] index WITHOUT retraining:
    * the stored centroids assign cells, the stored codebooks encode the
    * residuals, and the new cell files land in an immutable
    * `publishDelta` segment — one pass over the NEW vectors only, model
    * copied forward so every version resolves its own.
    */
  def appendToIvfPqIndex(
      newVectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String, metaCol: Option[String] = None,
      marker: Option[String] = None): Unit = {
    val spark = newVectors.sparkSession
    val vdir0 = graft.sources.IndexIO.resolve(spark, indexDir)
    val (cents, cnorms, dim, m, kCodes, subDim, cb) = loadIvfPqModel(spark, vdir0)
    // a meta-partitioned index must keep its layout through appends:
    // segment schemas have to agree for the chain union to resolve. The
    // chain's cells, not the newest version's: a delete segment holds none
    val baseHasMeta = graft.sources.IndexIO.chainTable(spark, indexDir, "cells")
      .exists(_.schema.fieldNames.contains("meta"))
    require(baseHasMeta == metaCol.isDefined,
      if (baseHasMeta)
        s"appendToIvfPqIndex: index at $indexDir is meta-partitioned; pass metaCol"
      else
        s"appendToIvfPqIndex: index at $indexDir has no meta column; drop metaCol")
    // empty batch -> no-op (see appendToIvfIndex)
    val newDim = newVectors.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0))
    if (newDim.isEmpty) return
    require(newDim.get == dim,
      s"appendToIvfPqIndex: new vectors have dim ${newDim.get} but the index at " +
        s"$indexDir was trained on dim $dim")
    val (flat, _, _) = flatCentroids(cents)
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    graft.sources.IndexIO.publishDelta(spark, indexDir, marker) { seg =>
      graft.sources.IndexIO.copyRows(spark, s"$vdir0/centroids", s"$seg/centroids")
      graft.sources.IndexIO.copyRows(spark, s"$vdir0/codebook", s"$seg/codebook")
      val nv = (metaCol match {
        case Some(mc) => newVectors.select(
          col(idCol).as("neighbor_id"),
          VectorFunctions.asDouble(col(vecCol)).as("__cv"),
          VectorFunctions.norm(col(vecCol)).as("__cn"),
          col(mc).cast("string").as("__meta"))
        case None =>
          prepared(newVectors, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      }).localCheckpoint(true)
      nv.select(
          (col("neighbor_id") +:
            toColumn(graft.functions.IvfPqEncodeExpr(
              toExpression(col("__cv")), flat, cnorms, dim, m, kCodes, subDim, cb))
              .as("__e") +:
            metaCol.map(_ => col("__meta")).toSeq): _*)
        .select(
          (col("neighbor_id") +: col("__e.codes").as("codes") +:
            col("__e.rnorm").as("rnorm") +: col("__e.cell").as("cell") +:
            metaCol.map(_ => col("__meta").as("meta")).toSeq): _*)
        .write.mode("overwrite")
        .partitionBy(("cell" +: metaCol.map(_ => "meta").toSeq): _*)
        .parquet(s"$seg/cells")
      nv.select(col("neighbor_id"), col("__cv").as("vec"), col("__cn").as("vnorm"))
        .write.mode("overwrite").parquet(s"$seg/vectors")
    }
    ()
  }

  /** Collapse an [[appendToIvfPqIndex]] chain to ONE cell-partitioned
    * segment, from the stored codes alone. Identical results by
    * construction (code rows unioned unchanged).
    */
  def compactIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit = {
    val segs = graft.sources.IndexIO.segments(spark, indexDir)
    if (segs.length <= 1) return
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val cells = liveChain(spark, indexDir, "cells")
    // vectors side-file is optional (indexes built before it existed);
    // carry it forward when present so rerank stays self-contained
    val vecs = graft.sources.IndexIO.chainTable(spark, indexDir, "vectors")
      .map(v => graft.sources.IndexIO.withoutTombstoned(
        v, graft.sources.IndexIO.chainTable(spark, indexDir, "tombstones"),
        "neighbor_id"))
    // a meta-partitioned index compacts to the same (cell, meta) layout
    val partCols =
      if (cells.schema.fieldNames.contains("meta")) Seq("cell", "meta")
      else Seq("cell")
    graft.sources.IndexIO.publish(spark, indexDir) { nv =>
      graft.sources.IndexIO.copyRows(spark, s"$vdir/centroids", s"$nv/centroids")
      graft.sources.IndexIO.copyRows(spark, s"$vdir/codebook", s"$nv/codebook")
      cells.write.mode("overwrite").partitionBy(partCols: _*).parquet(s"$nv/cells")
      vecs.foreach(_.write.mode("overwrite").parquet(s"$nv/vectors"))
    }
    ()
  }

  /** Serve top-k from a persisted [[buildIvfPqIndex]] index: the float
    * corpus is never read — centroid pick from the k-row broadcast
    * table, candidate scan partition-pruned to the probed cells, each
    * candidate scored from `m` code bytes + one norm via ADC.
    */
  def searchIvfPq(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val (_, _, _, m, kCodes, subDim, cb) = loadIvfPqModel(spark, vdir)
    val cents = graft.sources.IndexIO.readTable(spark, s"$vdir/centroids")
      .select(col("cell").as("__cell"), col("centroid").as("__ctv"),
        col("cnorm").as("__ctn"))
    val codes = liveChain(spark, indexDir, "cells")
      .select(col("neighbor_id"), col("codes"), col("rnorm"),
        col("cell").as("__cell"))
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    ivfPqSearch(q, cents, codes, k, nProbe, m, kCodes, subDim, cb)
  }

  /** FILTERED serving from a [[buildIvfPqIndex]] index: top-k among
    * the `allowed` ids only (license filters, decontaminated subsets,
    * per-tenant scopes). The allowlist applies to the candidate codes
    * BEFORE the rank cut — a pre-filter, so a sparse allowlist costs
    * recall only through cell pruning, never through the cut (the
    * post-filter alternative returns < k rows whenever the unfiltered
    * top-k happens to land outside the allowlist). The semi-join is a
    * plain equi-join on neighbor_id: AQE broadcasts a takedown-sized
    * allowlist, shuffles a corpus-scale one.
    */
  def searchIvfPqWhere(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      allowed: DataFrame, nProbe: Int = 4): DataFrame = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val (_, _, _, m, kCodes, subDim, cb) = loadIvfPqModel(spark, vdir)
    val cents = graft.sources.IndexIO.readTable(spark, s"$vdir/centroids")
      .select(col("cell").as("__cell"), col("centroid").as("__ctv"),
        col("cnorm").as("__ctn"))
    val allow = allowed.select(col(idCol).as("neighbor_id")).distinct()
    val codes = liveChain(spark, indexDir, "cells")
      .select(col("neighbor_id"), col("codes"), col("rnorm"),
        col("cell").as("__cell"))
      .join(allow, Seq("neighbor_id"), "left_semi")
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    ivfPqSearch(q, cents, codes, k, nProbe, m, kCodes, subDim, cb)
  }

  /** METADATA-scoped serving from a meta-partitioned
    * [[buildIvfPqIndex]] index (built with `metaCol`): top-k among the
    * corpus rows whose stored meta value is in `metaValues`. The
    * filter lands on a PARTITION column of the cells layout, so it
    * prunes at the parquet scan — `(cell, meta)` directories outside
    * the probed cells × allowed values are never opened, no allowlist
    * relation is built, joined, or shuffled. Contrast
    * [[searchIvfPqWhere]]: that takes an arbitrary id SET (a semi-join
    * whose build side scales with the allowlist); this takes a
    * PREDICATE over a low-cardinality attribute and costs zero extra
    * data movement however large the allowed population is — the
    * corpus-scale-allowlist shape the id form can't prune.
    */
  def searchIvfPqWhereMeta(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      metaValues: Seq[String], nProbe: Int = 4): DataFrame = {
    require(metaValues.nonEmpty, "searchIvfPqWhereMeta: empty metaValues")
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val (_, _, _, m, kCodes, subDim, cb) = loadIvfPqModel(spark, vdir)
    val cents = graft.sources.IndexIO.readTable(spark, s"$vdir/centroids")
      .select(col("cell").as("__cell"), col("centroid").as("__ctv"),
        col("cnorm").as("__ctn"))
    val chain = liveChain(spark, indexDir, "cells")
    require(chain.schema.fieldNames.contains("meta"),
      s"searchIvfPqWhereMeta: index at $indexDir was not built with a metaCol " +
        "(cells carry no meta partition column)")
    val codes = chain
      .filter(col("meta").isin(metaValues.map(v => v: Any): _*))
      .select(col("neighbor_id"), col("codes"), col("rnorm"),
        col("cell").as("__cell"))
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    ivfPqSearch(q, cents, codes, k, nProbe, m, kCodes, subDim, cb)
  }

  /** Two-stage retrieval over a [[buildIvfPqIndex]] index: ADC
    * shortlists `kShortlist` candidates per query (default 4k), then
    * the shortlist is EXACT-rescored against the raw float vectors and
    * cut to top-k — the standard re-ranking step (faiss
    * `IndexRefineFlat`) that removes PQ quantization error from the
    * final ranking. Cell-pruning misses remain (a neighbor in an
    * unprobed cell can't be recovered), so recall lands between plain
    * IVF×PQ and float IVF at the same nProbe; returned cosines are
    * TRUE cosines, not ADC estimates.
    *
    * Scale shape: stage 1 is [[searchIvfPq]] unchanged (float corpus
    * never read); stage 2 reads the corpus ONCE, streamed past the
    * broadcast shortlist+query-vector relation (|Q|·kShortlist rows),
    * so re-ranking costs one corpus scan and no shuffle of vector
    * payloads. A query frame whose shortlist expansion would exceed
    * the broadcast threshold is guarded HERE ([[querySideOversized]]
    * width-aware) and degrades to an equi shuffle join on neighbor_id.
    */
  def searchIvfPqRerank(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      kShortlist: Int, nProbe: Int): DataFrame =
    rerankShortlist(spark, indexDir, queries,
      prepared(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn"),
      idCol, vecCol, k, kShortlist, nProbe)

  /** Self-contained two-stage retrieval: the exact-rescore vectors come
    * from the index's own `vectors` side-file ([[buildIvfPqIndex]]
    * writes it, appends chain it, tombstones apply) — production
    * retrieval works off the index artifact alone, no original-corpus
    * handle. Fails loudly on an index built before the side-file
    * existed (rebuild, or pass an explicit rescore corpus via the
    * other overload).
    */
  def searchIvfPqRerank(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      kShortlist: Int = 0, nProbe: Int = 4): DataFrame = {
    val vecs = graft.sources.IndexIO.chainTable(spark, indexDir, "vectors")
      .getOrElse(throw new IllegalStateException(
        s"ANN index at $indexDir has no vectors side-file (built before " +
          "self-contained rerank existed) — rebuild the index, or pass an " +
          "explicit rescore corpus"))
    val live = graft.sources.IndexIO.withoutTombstoned(
      vecs, graft.sources.IndexIO.chainTable(spark, indexDir, "tombstones"),
      "neighbor_id")
      .select(col("neighbor_id"), col("vec").as("__cv"), col("vnorm").as("__cn"))
    rerankShortlist(spark, indexDir, queries, live, idCol, vecCol, k,
      kShortlist, nProbe)
  }

  /** Shared rescore stage: ADC shortlist via [[searchIvfPq]], then the
    * exact cosine against `rescore` `(neighbor_id, __cv, __cn)`, cut to
    * top-k.
    */
  private def rerankShortlist(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, rescore: DataFrame,
      idCol: String, vecCol: String, k: Int,
      kShortlist: Int, nProbe: Int): DataFrame = {
    val ks = if (kShortlist > 0) kShortlist else 4 * k
    require(ks >= k, s"searchIvfPqRerank: shortlist $ks smaller than k $k")
    val sl = searchIvfPq(spark, indexDir, queries, idCol, vecCol, ks, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // each query row fans out to kShortlist rows each carrying the
    // dim-double query vector — charge that width to the guard
    val dim = queries.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    maybeBroadcast(sl.join(q, "query_id"),
        querySideOversized(queries, ks.toLong * (dim.toLong * 8 + 24)),
        "searchIvfPqRerank")
      .join(rescore, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("__qn") > 0 && col("__cn") > 0,
          VectorFunctions.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
          .otherwise(lit(0.0)).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Train-once PQ index: codebooks (self-describing — m/kCodes/subDim
    * ride with the flattened array) plus the encoded corpus
    * `(neighbor_id, codes, rnorm)` — 8-64× smaller than the float
    * vectors, which never need to be read again at query time.
    * Published atomically ([[graft.sources.IndexIO.publish]]).
    */
  def buildPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      m: Int = 32, kCodes: Int = 32, sampleN: Int = 2048,
      iters: Int = 8, marker: Option[String] = None): Unit = {
    val cv = prepared(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val dim = cv.select(size(col("__cv"))).first().getInt(0)
    require(dim % m == 0, s"buildPqIndex: m ($m) must divide dim ($dim)")
    val subDim = dim / m
    val sample = cv
      .withColumn("__h", md5(col("neighbor_id").cast("string")))
      .orderBy(col("__h")).limit(sampleN)
      .select("__cv").collect().map(_.getSeq[Double](0).toArray)
    val cb = trainPqCodebooks(sample, m, kCodes, subDim, iters)
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val spark = corpus.sparkSession
    graft.sources.IndexIO.publish(spark, indexDir, marker) { vdir =>
      writeCodebook(spark, vdir, (m, kCodes, subDim, cb))
      cv.select(col("neighbor_id"),
          toColumn(graft.functions.PqEncodeExpr(
            toExpression(col("__cv")), m, kCodes, subDim, cb)).as("__pq"))
        .select(col("neighbor_id"), col("__pq.codes").as("codes"),
          col("__pq.rnorm").as("rnorm"))
        .write.mode("overwrite").parquet(s"$vdir/codes")
    }
    ()
  }

  /** Append vectors to a [[buildPqIndex]] index WITHOUT retraining:
    * the stored codebooks encode the new rows, and the new codes land
    * in an immutable segment chained via `publishDelta` — one scan of
    * the NEW vectors only, searches union the chain. The codebook is
    * copied forward so every version resolves its own.
    */
  def appendToPqIndex(
      newVectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String, marker: Option[String] = None): Unit = {
    val spark = newVectors.sparkSession
    val vdir0 = graft.sources.IndexIO.resolve(spark, indexDir)
    val (m, kCodes, subDim, cb) = readCodebook(spark, vdir0)
    // same loud-failure contract as appendToIvfIndex: a mismatched dim
    // must not reach the encode kernel as an array-bounds error;
    // empty batch -> no-op (see appendToIvfIndex)
    val newDim = newVectors.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0))
    if (newDim.isEmpty) return
    require(newDim.get == m * subDim,
      s"appendToPqIndex: new vectors have dim ${newDim.get} but the index at " +
        s"$indexDir encodes dim ${m * subDim} (m=$m x subDim=$subDim)")
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    graft.sources.IndexIO.publishDelta(spark, indexDir, marker) { vdir =>
      graft.sources.IndexIO.copyRows(spark, s"$vdir0/codebook", s"$vdir/codebook")
      prepared(newVectors, idCol, vecCol, "neighbor_id", "__cv", "__cn")
        .select(col("neighbor_id"),
          toColumn(graft.functions.PqEncodeExpr(
            toExpression(col("__cv")), m, kCodes, subDim, cb)).as("__pq"))
        .select(col("neighbor_id"), col("__pq.codes").as("codes"),
          col("__pq.rnorm").as("rnorm"))
        .write.mode("overwrite").parquet(s"$vdir/codes")
    }
    ()
  }

  /** Collapse a [[appendToPqIndex]] chain back to ONE segment — rebuilt
    * from the stored codes alone (the float corpus is never read),
    * published atomically so readers flip from the old chain to the
    * compacted version in one pointer move. Results are identical by
    * construction: the code rows are unioned unchanged.
    */
  def compactPqIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit = {
    val segs = graft.sources.IndexIO.segments(spark, indexDir)
    if (segs.length <= 1) return
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val codes = liveChain(spark, indexDir, "codes")
    graft.sources.IndexIO.publish(spark, indexDir) { nv =>
      graft.sources.IndexIO.copyRows(spark, s"$vdir/codebook", s"$nv/codebook")
      codes.write.mode("overwrite").parquet(s"$nv/codes")
    }
    ()
  }

  /** Serve top-k from a persisted PQ index: the float corpus is never
    * read — only `m` code bytes + one norm per row cross the scan, and
    * each pair costs `m` table-lookup adds. Index parameters come from
    * the index itself (self-describing codebook row).
    */
  def searchPqIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val vdir = graft.sources.IndexIO.resolve(spark, indexDir)
    val (m, kCodes, subDim, cb) = readCodebook(spark, vdir)
    val codes = liveChain(spark, indexDir, "codes")
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val q = prepared(queries, idCol, vecCol, "query_id", "__qv", "__qn")
      .select(col("query_id"), col("__qn"),
        toColumn(graft.functions.PqTableExpr(
          toExpression(col("__qv")), m, kCodes, subDim, cb)).as("__tab"))
    val adc = toColumn(graft.functions.PqAdcExpr(
      toExpression(col("codes")), toExpression(col("__tab")), kCodes))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q)
      .join(codes, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("__qn") > 0 && col("rnorm") > 0,
          adc / (col("__qn") * col("rnorm"))).otherwise(lit(0.0)).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bits: Int = 32, bands: Int = 8): DataFrame = {
    def vecs(df: DataFrame, id: String, vecAlias: String, normAlias: String) = df
      .select(
        col(idCol).as(id),
        VectorFunctions.asDouble(col(vecCol)).as(vecAlias),
        VectorFunctions.norm(col(vecCol)).as(normAlias))
    // keys-only banding (shared VectorFunctions kernel — one UDF pass,
    // no vector payload replicated through the explode); first-shared-
    // band anchor = exactly-once without a dropDuplicates shuffle
    def banded(df: DataFrame, id: String, vecAlias: String, bksAlias: String) = df
      .withColumn(bksAlias, VectorFunctions.signBandKeys(bits, bands)(col(vecAlias)))
      .select(col(id), col(bksAlias),
        posexplode(col(bksAlias)).as(Seq("__band", "__bv")))
    val qv = vecs(queries, "query_id", "__qv", "__qn")
    val cv = vecs(corpus, "neighbor_id", "__cv", "__cn")
    val q = banded(qv, "query_id", "__qv", "__qbks")
    val c = banded(cv, "neighbor_id", "__cv", "__cbks")
    val firstShared =
      array_position(zip_with(col("__qbks"), col("__cbks"), (x, y) => x === y),
        true) - 1
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c,
        q("__band") === c("__band") && q("__bv") === c("__bv") &&
          col("query_id") =!= col("neighbor_id") && q("__band") === firstShared)
      .select(col("query_id"), col("neighbor_id"))
      .join(qv, "query_id")
      .join(cv, "neighbor_id")
      .select(
        col("query_id"), col("neighbor_id"),
        (VectorFunctions.dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn"))).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }
}
