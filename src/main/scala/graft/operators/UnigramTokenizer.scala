package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{TextFunctions, UnigramCountExpr, UnigramDecodeExpr, UnigramIdsExpr, UnigramKernel, UnigramTokensExpr}

/** Corpus-trained unigram-LM tokenizer (SentencePiece's unigram model,
  * Kudo 2018) — the second public-algorithm subword family next to
  * [[BpeTokenizer]]: instead of a greedy merge list, a VOCABULARY OF
  * PIECES with log-probabilities, and tokenization = the
  * max-likelihood Viterbi segmentation. Public-knowledge algorithm
  * re-expressed Spark-first; beyond the reference surface
  * (SURVEY.md §2.4).
  *
  * The trainer is the DETERMINISTIC hard-EM variant, designed (like
  * [[BpeTokenizer.trainLocal]]) so the whole evolution replays
  * stage-by-stage in SQL:
  *
  *  - ONE distributed word-count pass, top-`trainWords` by
  *    `(count DESC, hex ASC)` — the bounded model input ([[BpeTokenizer]]'s
  *    cap; Zipf makes it cover ~all occurrences at any corpus size);
  *  - SEED: every byte-substring of the train words up to
  *    `maxPieceLen` bytes, frequency-weighted by word counts over all
  *    start positions; ALL occurring single bytes enter the
  *    vocabulary (totality), plus the top-`seedPieces` multi-byte
  *    candidates by `(freq DESC, hex ASC)`; initial scores
  *    `floor(ln((freq+1)/(F+V))·1e4)` as exact longs — the repo's
  *    standard 1e-4 log grid;
  *  - `emIters` HARD-EM rounds: E-step = Viterbi-segment each train
  *    word under the current grid scores (exact long DP; backtrace
  *    ties to the LONGEST piece) and count piece uses weighted by
  *    word counts; M-step = re-score
  *    `floor(ln((c+1)/(C+V))·1e4)`. The vocabulary is FIXED after
  *    seeding — pieces the E-step starves keep the add-one floor
  *    (pruning-by-starvation), which keeps V constant and the replay
  *    exact;
  *  - serving is a native codegen expression
  *    ([[graft.functions.UnigramKernel]]) with a per-executor
  *    distinct-word cache; unknown bytes segment as themselves at one
  *    grid-nat below the vocabulary minimum, so the tokenizer is
  *    total over any text.
  *
  * Same artifact contract as the BPE index: the vocabulary persists
  * via [[graft.sources.IndexIO]] (no per-document rows — takedowns
  * that must erase training influence mean retrain + republish, the
  * trained-model contract).
  */
object UnigramTokenizer {

  /** Train the vocabulary on `docs(textCol)`: returns `(hexPiece,
    * gridScore)` sorted by piece hex — deterministic and
    * engine-replayable end to end.
    */
  def trainUnigram(docs: DataFrame, textCol: String,
      trainWords: Int = 4096, maxPieceLen: Int = 8,
      seedPieces: Int = 4096, emIters: Int = 2): Seq[(String, Long)] = {
    require(trainWords > 0 && maxPieceLen > 0 && seedPieces > 0 && emIters >= 0,
      "trainUnigram: positive trainWords/maxPieceLen/seedPieces, emIters >= 0")
    val words = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(hex(col("w")).as("wh"), col("cnt"))
      .orderBy(col("cnt").desc, col("wh"))
      .limit(trainWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    trainLocal(words, maxPieceLen, seedPieces, emIters)
  }

  private def gridLn(x: Double): Long = math.floor(math.log(x) * 10000.0).toLong

  /** Viterbi piece list of one hex word under a score map — the
    * driver-side twin of [[graft.functions.UnigramKernel.segment]]
    * (exact long DP, largest-piece backtrace tie), used by the trainer
    * and pinned equal to the kernel by the suite. `unk` is the
    * fallback score for out-of-vocabulary single bytes (None during
    * training, where every train-word byte is in the vocabulary).
    */
  private[graft] def viterbiHex(wh: String, score: Map[String, Long],
      maxPieceLen: Int, unk: Option[Long]): Seq[String] = {
    val L = wh.length / 2
    if (L == 0) return Nil
    val Sent = Long.MinValue / 4
    def cand(pos: Int, k: Int, dpPrev: Long): Long = {
      val piece = wh.substring(2 * (pos - k), 2 * pos)
      score.get(piece) match {
        case Some(s) => dpPrev + s
        case None if k == 1 && unk.isDefined => dpPrev + unk.get
        case None => Sent
      }
    }
    val dp = new Array[Long](L + 1)
    for (i <- 1 to L) {
      var best = Sent
      for (k <- 1 to math.min(maxPieceLen, i)) {
        val c = cand(i, k, dp(i - k))
        if (c > best) best = c
      }
      dp(i) = best
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = L
    while (pos > 0) {
      var chosen = -1
      var k = math.min(maxPieceLen, pos)
      while (k >= 1 && chosen < 0) {
        val c = cand(pos, k, dp(pos - k))
        if (c != Sent && c == dp(pos)) chosen = k
        k -= 1
      }
      require(chosen >= 1,
        s"viterbiHex: unreachable position $pos in $wh — " +
          "single-byte fallback missing")
      out += wh.substring(2 * (pos - chosen), 2 * pos)
      pos -= chosen
    }
    out.reverse.toSeq
  }

  /** The driver-side seed + hard-EM loop over `(hexWord, count)` rows
    * — exactly the evolution the DuckDB oracle unrolls
    * (`SparkEntry.unigramOraclePrefix`).
    */
  private[graft] def trainLocal(words: Seq[(String, Long)],
      maxPieceLen: Int, seedPieces: Int, emIters: Int): Seq[(String, Long)] = {
    // seed candidates: all byte-substrings up to maxPieceLen,
    // frequency = word count x every start position
    val freq = scala.collection.mutable.HashMap.empty[String, Long]
    for ((wh, c) <- words) {
      val L = wh.length / 2
      for (l <- 1 to math.min(maxPieceLen, L); j <- 0 to L - l)
        freq.updateWith(wh.substring(2 * j, 2 * (j + l)))(p => Some(p.getOrElse(0L) + c))
    }
    val singles = freq.keysIterator.filter(_.length == 2).toSeq
    val multis = freq.iterator.filter(_._1.length > 2).toSeq
      .sortBy { case (p, f) => (-f, p) }.take(seedPieces).map(_._1)
    val vocab = (singles ++ multis).sorted
    require(vocab.nonEmpty, "trainUnigram: empty corpus")
    val v = vocab.size
    val f = vocab.iterator.map(freq).sum
    var score: Map[String, Long] =
      vocab.map(p => p -> gridLn((freq(p) + 1.0) / (f.toDouble + v))).toMap
    for (_ <- 1 to emIters) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((wh, c) <- words; piece <- viterbiHex(wh, score, maxPieceLen, None))
        counts.updateWith(piece)(p => Some(p.getOrElse(0L) + c))
      val cTot = counts.valuesIterator.sum
      score = vocab.map(p =>
        p -> gridLn((counts.getOrElse(p, 0L) + 1.0) / (cTot.toDouble + v))).toMap
    }
    vocab.map(p => (p, score(p)))
  }

  /** Train and persist the vocabulary (+ params) as an atomic
    * [[graft.sources.IndexIO]] version — the tokenizer artifact
    * downstream jobs resolve instead of retraining. Same trained-model
    * takedown contract as [[BpeTokenizer.buildBpeIndex]].
    */
  def buildUnigramIndex(docs: DataFrame, textCol: String, path: String,
      trainWords: Int = 4096, maxPieceLen: Int = 8,
      seedPieces: Int = 4096, emIters: Int = 2): Unit = {
    val vocab = trainUnigram(docs, textCol, trainWords, maxPieceLen,
      seedPieces, emIters)
    val spark = docs.sparkSession
    graft.sources.IndexIO.publish(spark, path) { vdir =>
      graft.sources.IndexIO.writeRows(spark, s"$vdir/vocab",
        StructType.fromDDL("piece STRING, score BIGINT NOT NULL"),
        vocab.map { case (p, sc) => Row(p, sc) })
      graft.sources.IndexIO.writeRows(spark, s"$vdir/meta", StructType.fromDDL(
          "train_words INT NOT NULL, max_piece_len INT NOT NULL, " +
            "seed_pieces INT NOT NULL, em_iters INT NOT NULL"),
        Seq(Row(trainWords, maxPieceLen, seedPieces, emIters)))
    }
    ()
  }

  /** Hex-sorted `(piece, score)` vocabulary from a
    * [[buildUnigramIndex]] artifact. */
  def loadUnigramVocab(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    // hex pieces: String order is the byte order Spark sorts by
    graft.sources.IndexIO.readRows(spark, s"$vdir/vocab")
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
  }

  /** The document's unigram tokens as hex strings (word piece lists
    * concatenated in document order) — codegen'd.
    */
  def unigramTokens(text: Column, vocab: Seq[(String, Long)]): Column = {
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(UnigramTokensExpr(GraftInternals.toExpression(text), vocab))
  }

  /** Subword token count under the unigram vocabulary —
    * [[BpeTokenizer.bpeTokenCount]]'s sibling for token budgets.
    */
  def unigramTokenCount(text: Column, vocab: Seq[(String, Long)]): Column = {
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(UnigramCountExpr(GraftInternals.toExpression(text), vocab))
  }

  /** The document's unigram tokens as VOCABULARY IDS in order: the
    * piece's hex-sorted index, `V + byte` for unknown single bytes —
    * [[BpeTokenizer.bpeTokenIds]]'s sibling.
    */
  def unigramTokenIds(text: Column, vocab: Seq[(String, Long)]): Column = {
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(UnigramIdsExpr(GraftInternals.toExpression(text), vocab))
  }

  /** ids → text, the inverse of [[unigramTokenIds]] up to the
    * pre-tokenizer: `unigramDecode(unigramTokenIds(text))` is the
    * concatenation of `text`'s whitespace words.
    */
  def unigramDecode(ids: Column, vocab: Seq[(String, Long)]): Column = {
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(UnigramDecodeExpr(GraftInternals.toExpression(ids), vocab))
  }

  /** Context-window chunking at UNIGRAM-subword granularity — the
    * exact shape of [[BpeTokenizer.chunkByBpe]] (chunk `c` covers
    * tokens `[c·stride, c·stride + maxTokens)`, hex payloads because a
    * budget boundary can split a word mid-UTF-8-sequence), with the
    * Viterbi kernel supplying the token stream. Zero-shuffle scan
    * projection; empty docs chunk to nothing.
    */
  def chunkByUnigram(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Long)], maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0, s"chunkByUnigram: maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"chunkByUnigram: overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    df.select(col(idCol), unigramTokens(col(textCol), vocab).as("__toks"))
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

  /** Test hook: the compiled kernel's segmentation of one word (hex
    * in, hex pieces out) — pinned equal to [[viterbiHex]].
    */
  private[graft] def kernelSegmentHex(
      wh: String, vocab: Seq[(String, Long)]): Seq[String] = {
    val bytes = Array.tabulate(wh.length / 2)(i =>
      Integer.parseInt(wh.substring(2 * i, 2 * i + 2), 16).toByte)
    val m = UnigramKernel.compile(vocab)
    val lens = UnigramKernel.segment(bytes, 0, bytes.length, m)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var off = 0
    for (l <- lens) { out += wh.substring(2 * off, 2 * (off + l)); off += l }
    out.toSeq
  }
}
