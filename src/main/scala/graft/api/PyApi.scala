package graft.api

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.{AsOfJoin, Chunking, Decontaminate, Dedup, Dsir,
  FuzzyJoin, IneqJoin, MemEstimate, Packing, Search, SimilaritySearch,
  ThetaJoin}

/** py4j-friendly facade over the parity operators — the JVM side of
  * `python/graft.py`. Every signature here is flat (nullable Strings
  * instead of Option, explicit suffix pair, micros instead of
  * Duration, BigDecimal-as-string) because py4j can construct none of
  * Scala's Option/Tuple/Duration conveniently. Semantics are entirely
  * the wrapped operators'; this object adds NO logic beyond argument
  * adaptation, so the Python surface inherits the reference parity
  * (pandance/pandance.py:22, :331, :614, :894) proven by the Scala
  * gates.
  */
object PyApi {

  private def opt(s: String): Option[String] = Option(s).filter(_.nonEmpty)

  def fuzzyJoinNumeric(
      left: DataFrame, right: DataFrame, tol: Double,
      on: String, leftOn: String, rightOn: String,
      sx: String, sy: String): DataFrame =
    FuzzyJoin.numeric(left, right, tol, opt(on), opt(leftOn), opt(rightOn), (sx, sy))

  def fuzzyJoinTime(
      left: DataFrame, right: DataFrame, tolMicros: Long,
      on: String, leftOn: String, rightOn: String,
      sx: String, sy: String): DataFrame =
    FuzzyJoin.time(left, right, Duration.ofNanos(tolMicros * 1000L),
      opt(on), opt(leftOn), opt(rightOn), (sx, sy))

  def fuzzyJoinDecimal(
      left: DataFrame, right: DataFrame, tol: String,
      on: String, leftOn: String, rightOn: String,
      sx: String, sy: String): DataFrame =
    FuzzyJoin.decimal(left, right, new java.math.BigDecimal(tol),
      opt(on), opt(leftOn), opt(rightOn), (sx, sy))

  /** Suffix-resolve the θ-join inputs; the Python side builds the
    * condition Column over the returned frames and joins natively.
    * Returns [leftSuffixed, rightSuffixed, leftColName, rightColName].
    */
  def thetaPrepare(
      left: DataFrame, right: DataFrame,
      on: String, leftOn: String, rightOn: String,
      sx: String, sy: String): Array[AnyRef] = {
    val cols = graft.operators.JoinSpec.resolve(opt(on), opt(leftOn), opt(rightOn))
    graft.operators.JoinSpec.requireColumn(left, cols.leftCol, "left")
    graft.operators.JoinSpec.requireColumn(right, cols.rightCol, "right")
    val (l, r, c) = graft.operators.JoinSpec.applySuffixes(left, right, cols, (sx, sy))
    Array(l, r, c.leftCol, c.rightCol)
  }

  /** Column-expression θ join with a pre-built condition (the Python
    * wrapper composes it from [[thetaPrepare]]'s frames).
    */
  def thetaJoin(l: DataFrame, r: DataFrame, condition: Column): DataFrame =
    l.join(r, condition, "inner")

  def ineqJoin(
      left: DataFrame, right: DataFrame, how: String,
      on: String, leftOn: String, rightOn: String,
      sx: String, sy: String, prune: Boolean): DataFrame =
    IneqJoin(left, right, how, opt(on), opt(leftOn), opt(rightOn), (sx, sy), prune)

  def asOfJoinTime(
      left: DataFrame, right: DataFrame, tolMicros: Long, rightId: String,
      on: String, leftOn: String, rightOn: String,
      direction: String, by: Array[String],
      sx: String, sy: String, joinType: String,
      allowExactMatches: Boolean): DataFrame =
    AsOfJoin.time(left, right, Duration.ofNanos(tolMicros * 1000L), rightId,
      opt(on), opt(leftOn), opt(rightOn), direction,
      Option(by).map(_.toSeq).getOrElse(Nil), (sx, sy), joinType,
      allowExactMatches)

  def estimateMemCostCartesianMiB(
      a: DataFrame, aCol: String, b: DataFrame, bCol: String): Long =
    MemEstimate.cartesianMiB(a, aCol, b, bCol)

  // ---- LLM-pipeline flagships (python/graft.py's beyond-reference
  // surface). Same contract as the join facade: flat signatures, zero
  // added logic — every wrapped operator keeps its oracle-proven
  // semantics.

  def dedupExact(df: DataFrame, textCol: String, orderCol: String): DataFrame =
    Dedup.exact(df, textCol, orderCol)

  def dedupPairsMinhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame =
    Dedup.minhashLsh(df, idCol, textCol, n, numHashes, bands, threshold)

  def dedupPairsNgramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame =
    Dedup.ngramJaccard(df, idCol, textCol, n, threshold)

  def dedupPairsSimhash(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame =
    Dedup.simhashPairs(df, idCol, textCol, maxHamming)

  def charSpanPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minSpanChars: Int, includeSelf: Boolean): DataFrame =
    Dedup.charSpanPairs(df, idCol, textCol, k, minSpanChars,
      includeSelf = includeSelf)

  def stripRepeatedCharSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, minSpanChars: Int, includeSelf: Boolean): DataFrame =
    Dedup.stripRepeatedCharSpans(df, idCol, textCol, k, minSpanChars,
      includeSelf = includeSelf)

  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int, localThreshold: Long, checkpointDir: String): DataFrame =
    Dedup.connectedComponents(pairs, aCol, bCol, maxIter, localThreshold,
      opt(checkpointDir))

  def semDeDup(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double, iters: Int, maxCellSize: Int,
      checkpointDir: String): DataFrame =
    SimilaritySearch.semDeDup(df, idCol, vecCol, k, threshold, iters,
      maxCellSize, opt(checkpointDir))

  def annTopKBrute(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    SimilaritySearch.bruteForceTopK(queries, corpus, idCol, vecCol, k)

  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      terms: Array[String], k: Int, k1: Double, b: Double): DataFrame =
    Search.bm25TopK(docs, idCol, textCol, terms.toSeq, k, k1, b)

  def decontaminateNgramOverlap(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      n: Int, broadcastEval: Boolean): DataFrame =
    Decontaminate.ngramOverlap(train, eval, idCol, textCol, n, broadcastEval)

  def chunkByTokens(
      df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, overlap: Int): DataFrame =
    Chunking.chunkByTokens(df, idCol, textCol, maxTokens, overlap)

  def packGreedy(
      docs: DataFrame, idCol: String, tokensCol: String,
      maxLen: Long, chunkExpr: String): DataFrame =
    Packing.packGreedy(docs, idCol, tokensCol, maxLen,
      org.apache.spark.sql.functions.expr(chunkExpr))

  def dsirScore(
      raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, buckets: Int): DataFrame =
    Dsir.importanceScoreAgainst(raw, idCol, textCol, target, targetTextCol,
      buckets)

  // ---- persisted-index lifecycle (build once, serve every batch) ----

  def buildBm25Index(
      docs: DataFrame, idCol: String, textCol: String, path: String): Unit =
    Search.buildBm25Index(docs, idCol, textCol, path)

  def appendToBm25Index(
      docs: DataFrame, idCol: String, textCol: String, path: String): Unit =
    Search.appendToBm25Index(docs, idCol, textCol, path)

  def deleteFromBm25Index(
      deletedIds: DataFrame, idCol: String, path: String): Unit = {
    Search.deleteFromBm25Index(deletedIds.sparkSession, path, deletedIds,
      idCol)
    ()
  }

  def bm25SearchIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Array[String], k: Int, k1: Double, b: Double): DataFrame =
    Search.bm25SearchIndex(spark, path, terms.toSeq, k, k1, b)

  def buildIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nCentroids: Int, iters: Int): Unit =
    SimilaritySearch.buildIvfIndex(corpus, idCol, vecCol, path,
      nCentroids, iters)

  def searchIvf(
      queries: DataFrame, path: String, idCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame =
    SimilaritySearch.searchIvf(queries.sparkSession, path, queries,
      idCol, vecCol, k, nProbe)

  def buildEvalIndex(
      eval: DataFrame, textCol: String, path: String, n: Int): Unit =
    Decontaminate.buildEvalIndex(eval, textCol, path, n)

  def deleteFromEvalIndex(
      withdrawnEval: DataFrame, textCol: String, path: String): Unit =
    Decontaminate.deleteFromEvalIndex(withdrawnEval, textCol, path)

  def decontaminateGateFromIndex(
      train: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame =
    graft.streaming.Streaming.decontaminateGateFromIndex(
      train.sparkSession, train, idCol, textCol, path)

  /** The index version id `_LATEST` names — pin it with [[pinIndex]]
    * to freeze a training run's index view. */
  def currentIndexVersion(
      spark: org.apache.spark.sql.SparkSession, path: String): String =
    graft.sources.IndexIO.currentVersionId(spark, path)

  def pinIndex(path: String, version: String): String =
    graft.sources.IndexIO.pin(path, version)
}
