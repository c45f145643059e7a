package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{BpeCountExpr, BpeDecodeExpr, BpeIdsExpr, BpeTokensExpr, TextFunctions}

/** Corpus-trained byte-level BPE tokenizer — the real subword token
  * accounting behind every "≤ maxTokens" contract in the pipeline
  * (chunking, packing bins, token-budget temperature mixing), where
  * whitespace counts drift 2-4× by language and code/prose mix.
  * Public-knowledge algorithm (Sennrich et al. 2016 / GPT-2-style
  * byte-level variant), re-expressed Spark-first. Beyond the
  * reference surface (SURVEY.md §2.4).
  *
  * Scale shape, mirroring `trainPqCodebooks`' train-once pattern:
  *
  *  - ONE distributed pass over the corpus computes word counts (the
  *    same explode+groupBy any token statistic costs), then
  *    `TakeOrderedAndProject` keeps the top `trainWords` distinct
  *    words by `(count DESC, hex(word) ASC)` — a bounded, broadcast-
  *    sized model input no matter the corpus size (Zipf: the top 100k
  *    words cover ~all occurrences);
  *  - the merge loop runs driver-side over that capped vocabulary
  *    (exactly how single-node BPE trainers work — the loop input is
  *    vocabulary-sized, never corpus-sized) and is deterministic:
  *    pair counts weigh every adjacent position, ties break on
  *    `(count DESC, left hex ASC, right hex ASC)`;
  *  - tokenization is a native codegen expression over UTF-8 bytes
  *    ([[graft.functions.BpeKernel]]) applied at scan speed, with a
  *    per-executor distinct-word cache;
  *  - the merge table persists via [[graft.sources.IndexIO]]
  *    (atomic versioned publish), so tokenize jobs never retrain.
  *
  * All ordering/comparison happens on UPPERCASE HEX renderings of
  * UTF-8 bytes: `hex()` agrees byte-for-byte between Spark and
  * DuckDB, where raw string comparison would diverge (UTF-16 code
  * units vs bytes) — that is what makes the oracle replay exact.
  */
object BpeTokenizer {

  /** Train merges on `docs(textCol)`: distributed word-count pass,
    * deterministic top-`trainWords` cap, driver-side merge loop.
    * Returns rank-ordered `(left, right)` hex pairs (may be shorter
    * than `numMerges` if the vocabulary exhausts first).
    */
  def trainBpe(docs: DataFrame, textCol: String,
      trainWords: Int = 4096, numMerges: Int = 256): Seq[(String, String)] = {
    require(trainWords > 0 && numMerges > 0, "trainBpe: positive trainWords/numMerges")
    val words = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(hex(col("w")).as("wh"), col("cnt"))
      .orderBy(col("cnt").desc, col("wh"))
      .limit(trainWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    trainLocal(words, numMerges)
  }

  /** The driver-side merge loop over `(hexWord, count)` rows — exactly
    * the evolution the DuckDB oracle unrolls stage-by-stage
    * (`SparkEntry.bpeOraclePrefix`), pinned to a naive reference
    * implementation by BpeSuite.
    */
  private[graft] def trainLocal(
      words: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    // state: each word as its hex byte-pair tokens
    var state: Seq[(Array[String], Long)] = words.map { case (wh, c) =>
      (Array.tabulate(wh.length / 2)(i => wh.substring(2 * i, 2 * i + 2)), c)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((toks, c) <- state; i <- 0 until toks.length - 1)
        counts.updateWith((toks(i), toks(i + 1)))(p => Some(p.getOrElse(0L) + c))
      if (counts.isEmpty) exhausted = true
      else {
        // (count DESC, left ASC, right ASC): hex-string order == byte order
        val ((l, rr), _) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((l, rr))
        state = state.map { case (toks, c) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < toks.length) {
            if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == rr) {
              out += l + rr; i += 2
            } else { out += toks(i); i += 1 }
          }
          (out.toArray, c)
        }
        r += 1
      }
    }
    merges.toSeq
  }

  /** Train and persist the merge table (+ params) as an atomic
    * [[graft.sources.IndexIO]] version — the tokenizer artifact every
    * downstream job resolves instead of retraining.
    *
    * Takedown contract: the artifact holds NO per-document rows — only
    * the trained merge list — so there is nothing to tombstone; a doc
    * takedown that must erase training influence means retraining and
    * republishing (one [[buildBpeIndex]] call; the version flip is
    * atomic under readers). Same contract as the other trained model
    * artifacts (IVF centroids, PQ codebooks, LM count cutoffs), unlike
    * ROW-holding indexes (BM25 postings, ANN cells, minhash bands),
    * which take tombstone deletes ([[graft.sources.IndexIO.delete]]).
    */
  def buildBpeIndex(docs: DataFrame, textCol: String, path: String,
      trainWords: Int = 4096, numMerges: Int = 256): Unit = {
    val merges = trainBpe(docs, textCol, trainWords, numMerges)
    val spark = docs.sparkSession
    graft.sources.IndexIO.publish(spark, path) { vdir =>
      graft.sources.IndexIO.writeRows(spark, s"$vdir/merges",
        StructType.fromDDL("rank INT NOT NULL, l STRING, r STRING"),
        merges.zipWithIndex.map { case ((l, r), i) => Row(i, l, r) })
      graft.sources.IndexIO.writeRows(spark, s"$vdir/meta",
        StructType.fromDDL("train_words INT NOT NULL, num_merges INT NOT NULL"),
        Seq(Row(trainWords, numMerges)))
    }
    ()
  }

  /** Rank-ordered merges from a [[buildBpeIndex]] artifact. */
  def loadBpeMerges(spark: SparkSession, path: String): Seq[(String, String)] = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    graft.sources.IndexIO.readRows(spark, s"$vdir/merges")
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
  }

  /** Subword token count of `text` under `merges` — codegen'd, 0 for
    * null/blank. THE drop-in replacement for `tokenCount` wherever a
    * token budget should be real instead of whitespace-approximate.
    */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(BpeCountExpr(GraftInternals.toExpression(text), merges))
  }

  /** The document's BPE tokens as hex strings (word token lists
    * concatenated in document order).
    */
  def bpeTokens(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(BpeTokensExpr(GraftInternals.toExpression(text), merges))
  }

  /** The document's BPE tokens as VOCABULARY IDS in order (0–255 the
    * single bytes, 256+rank the merges) — the text→ids projection a
    * training consumer reads.
    */
  def bpeTokenIds(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(BpeIdsExpr(GraftInternals.toExpression(text), merges))
  }

  /** ids → text, the inverse of [[bpeTokenIds]] up to the
    * pre-tokenizer: `bpeDecode(bpeTokenIds(text))` is the
    * concatenation of `text`'s whitespace words (separators are not
    * tokens, so they are not reconstructed). The serving/audit leg —
    * render a packed training sequence or a subword chunk back to
    * readable text without a vocabulary table join.
    */
  def bpeDecode(ids: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(BpeDecodeExpr(GraftInternals.toExpression(ids), merges))
  }

  /** Context-window chunking at SUBWORD granularity: chunk `c` covers
    * BPE tokens `[c·stride, c·stride + maxTokens)` of the document's
    * token stream, `stride = maxTokens - overlap` (`overlap = 0`, the
    * default, gives disjoint budget-exact chunks; a positive overlap
    * repeats the window tail into the next chunk — the standard
    * training-context overlap, parity with
    * [[Chunking.chunkByTokens]]). Output `(<idCol>, chunk_id,
    * n_tokens, chunk_hex)` — `chunk_hex` is the chunk's bytes
    * hex-rendered because a chunk boundary may split a word
    * mid-UTF-8-sequence (token budgets cut where the budget says, not
    * where characters end). Same zero-shuffle scan shape as
    * [[Chunking.chunkByTokens]]: tokens, chunk ids and slices are all
    * projections; empty docs chunk to nothing.
    */
  def chunkByBpe(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0, s"chunkByBpe: maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"chunkByBpe: overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    df.select(col(idCol), bpeTokens(col(textCol), merges).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0),
          ceil(greatest(size(col("__toks")) - maxTokens, lit(0)) / lit(stride.toDouble))
            .cast("int")))
          .as("chunk_id"))
      .select(
        col(idCol),
        col("chunk_id"),
        least(lit(maxTokens), size(col("__toks")) - col("chunk_id") * stride)
          .cast("int").as("n_tokens"),
        array_join(slice(col("__toks"), col("chunk_id") * stride + 1, lit(maxTokens)), "")
          .as("chunk_hex"))
  }
}
