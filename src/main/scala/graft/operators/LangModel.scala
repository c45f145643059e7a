package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.TextFunctions

/** Corpus-trained n-gram language-model scoring: train add-one-smoothed
  * bigram statistics over a (reference) corpus, then score every
  * document by its mean bigram log-probability — the classic
  * perplexity-proxy quality filter (CCNet-style: docs whose language
  * model score is far below the corpus norm are boilerplate, spam, or
  * wrong-language). No model dependencies: the "model" is two count
  * tables the engine itself aggregates.
  *
  * Beyond the reference surface (SURVEY.md §2.4); complements the
  * stateless signals in [[graft.functions.TextFunctions]] with a
  * corpus-relative one.
  *
  * Scale design: training is two hash aggregations keyed by xxhash64 of
  * the bigram / unigram (8-byte keys, never strings, map-side partial
  * agg). Scoring re-joins each doc's bigrams to the count tables by the
  * same hashed key — at web scale the count tables are themselves big
  * (billions of bigrams), so this is a plain shuffled hash join that
  * AQE can flip to broadcast when a domain-specific model is small. The
  * per-doc reduction ships one row per doc. Train and score may be
  * different datasets (`scoreAgainst`), which is the production shape:
  * score a candidate crawl against a trusted-corpus model.
  *
  * Determinism (oracle contract): `ln` is not correctly-rounded, so
  * each bigram's log-probability is floored to 4 decimals right after
  * the `ln`, scaled to an exact 1e-4-grid LONG, and summed as longs —
  * order-free; the mean divides two exact integers at the very end.
  */
object LangModel {

  /** Score `docs` against a bigram model trained on `train` (add-one
    * smoothing over the TRAIN vocabulary).
    *
    * Returns `(<idCol>, n_bigrams, avg_logp)` for every doc with ≥ 1
    * bigram; `avg_logp` = mean over the doc's bigram tokens of
    * floor4(ln((c(w1 w2) + 1) / (c(w1) + V))), floored to 4 decimals.
    * Unseen bigrams/unigrams get the smoothed floor, not −∞.
    */
  def scoreAgainst(
      train: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val trainBigrams = bigrams(train, textCol).select(
      xxhash64(col("__w1"), col("__w2")).as("__bh"))
    val bigramCounts = trainBigrams.groupBy("__bh").agg(count(lit(1)).as("__cb"))
    val trainTokens = train.select(
      explode(TextFunctions.tokens(col(textCol))).as("__w"))
    val unigramCounts = trainTokens
      .select(xxhash64(col("__w")).as("__uh"))
      .groupBy("__uh").agg(count(lit(1)).as("__cu"))
    // |V| of the train corpus: one scalar row, broadcast into scoring
    val vocab = unigramCounts.agg(count(lit(1)).as("__v"))

    val docBigrams = bigrams(docs.select(col(idCol), col(textCol)), textCol)
      .select(
        col(idCol),
        xxhash64(col("__w1"), col("__w2")).as("__bh"),
        xxhash64(col("__w1")).as("__uh"))

    docBigrams
      .join(bigramCounts, Seq("__bh"), "left")
      .join(unigramCounts, Seq("__uh"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__lp",
        // floor4(ln(smoothed prob)) scaled to an exact 1e-4-grid long
        floor(log(
          (coalesce(col("__cb"), lit(0L)) + lit(1.0))
            / (coalesce(col("__cu"), lit(0L)) + col("__v"))) * lit(10000.0))
          .cast("long"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("__lp")).as("__lp_sum"))
      .select(
        col(idCol),
        col("n_bigrams"),
        (floor(col("__lp_sum") * lit(1.0) / col("n_bigrams")) / lit(10000.0))
          .as("avg_logp"))
  }

  /** Self-scoring: train on the corpus and score the same corpus —
    * the usual first pass for finding in-corpus outliers.
    */
  def score(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreAgainst(docs, docs, idCol, textCol)

  /** CCNet's head/middle/tail split (Wenzek et al. 2020): per-group
    * (typically per-language) perplexity terciles over the LM scores —
    * `head` is the best-scoring third, the slice CCNet keeps or
    * upweights. Buckets are rational-rank terciles via
    * [[Sampling.quantileLabelsPerGroup]] (exact-long boundaries,
    * md5-of-id tie-break on the grid-valued score ties, distinct-score
    * walk instead of a per-group global sort). Zero-bigram docs are
    * unscorable and get no row, like [[score]].
    */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val scored = score(docs, idCol, textCol)
    val withG = scored.join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
    Sampling.quantileLabelsPerGroup(withG, groupCol, idCol, col("avg_logp"),
      Seq((1L, 3L), (2L, 3L)), Seq("head", "middle", "tail"))
  }

  /** ORDER-3 scoring with stupid backoff (Brants et al. 2007, the
    * web-scale standard: no discounting to tune, score ratios backed
    * off with a fixed α=0.4): each trigram position scores
    *
    *   x = c(w1w2w3)/c(w1w2)              when both survive
    *     | 0.4·c(w2w3)/c(w2)              else, when both survive
    *     | 0.16·(c(w3)+1)/(N+V)           terminal add-one floor
    *
    * and lp = floor4(ln x) on the exact 1e-4 grid as usual. The
    * terminal floor keeps the function total (a pure stupid-backoff
    * chain ends at c(w3)/N, which is −∞ on unseen words). Returns
    * `(<idCol>, n_trigrams, avg_logp)` for docs with ≥ 1 trigram.
    *
    * Scale design mirrors [[scoreAgainst]]: count tables keyed by
    * xxhash64 chains (8-byte keys), five shuffled equi-joins that AQE
    * can flip to broadcast under a domain model; the pruned serving
    * form is [[scoreWithModel3]] (one scan projection, no joins).
    */
  def scoreAgainst3(
      train: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val trainTris = trigrams(train, textCol).select(
      xxhash64(col("__w1"), col("__w2"), col("__w3")).as("__th"))
    val triCounts = trainTris.groupBy("__th").agg(count(lit(1)).as("__c3"))
    val trainBi = bigrams(train, textCol).select(
      xxhash64(col("__w1"), col("__w2")).as("__bh"))
    val biCounts = trainBi.groupBy("__bh").agg(count(lit(1)).as("__cb"))
    val trainTokens = train.select(
      explode(TextFunctions.tokens(col(textCol))).as("__w"))
    val uniCounts = trainTokens
      .select(xxhash64(col("__w")).as("__uh"))
      .groupBy("__uh").agg(count(lit(1)).as("__cu"))
    // N (total tokens) and |V| of the train corpus: one scalar row
    val stats = trainTokens
      .agg(count(lit(1)).as("__n"), countDistinct(col("__w")).as("__v"))

    val docTris = trigrams(docs.select(col(idCol), col(textCol)), textCol)
      .select(
        col(idCol),
        xxhash64(col("__w1"), col("__w2"), col("__w3")).as("__th"),
        xxhash64(col("__w1"), col("__w2")).as("__h12"),
        xxhash64(col("__w2"), col("__w3")).as("__h23"),
        xxhash64(col("__w2")).as("__h2"),
        xxhash64(col("__w3")).as("__h3"))

    docTris
      .join(triCounts, Seq("__th"), "left")
      .join(biCounts.select(col("__bh").as("__h12"), col("__cb").as("__c12")),
        Seq("__h12"), "left")
      .join(biCounts.select(col("__bh").as("__h23"), col("__cb").as("__c23")),
        Seq("__h23"), "left")
      .join(uniCounts.select(col("__uh").as("__h2"), col("__cu").as("__c2")),
        Seq("__h2"), "left")
      .join(uniCounts.select(col("__uh").as("__h3"), col("__cu").as("__c3u")),
        Seq("__h3"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("__x",
        when(col("__c3").isNotNull && col("__c12").isNotNull,
          col("__c3") * lit(1.0) / col("__c12"))
        .when(col("__c23").isNotNull && col("__c2").isNotNull,
          lit(0.4) * col("__c23") / col("__c2"))
        .otherwise(
          lit(0.16) * (coalesce(col("__c3u"), lit(0L)) + lit(1.0))
            / (col("__n") + col("__v"))))
      .withColumn("__lp", floor(log(col("__x")) * lit(10000.0)).cast("long"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_trigrams"),
        sum(col("__lp")).as("__lp_sum"))
      .select(
        col(idCol),
        col("n_trigrams"),
        (floor(col("__lp_sum") * lit(1.0) / col("n_trigrams")) / lit(10000.0))
          .as("avg_logp"))
  }

  /** Order-3 self-scoring ([[scoreAgainst3]] with train = docs). */
  def score3(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreAgainst3(docs, docs, idCol, textCol)

  /** A pruned bigram model held driver-side: sorted hash-key arrays
    * plus parallel counts, and the UNPRUNED vocabulary size (the
    * smoothing denominator — pruning changes which counts survive,
    * never the vocabulary the model was trained over).
    */
  final case class LmModel(
      bigramKeys: Array[Long], bigramCounts: Array[Long],
      unigramKeys: Array[Long], unigramCounts: Array[Long],
      vocab: Long)

  /** Train and persist a COUNT-PRUNED bigram model (KenLM-style count
    * cutoffs: bigrams below `minBigramCount` and unigrams below
    * `minUnigramCount` are dropped; a pruned entry scores as unseen).
    * Count cutoffs — not top-K — because the cutoff is replayable by
    * any engine without tiebreak coupling, and it is how n-gram models
    * are actually shipped. The artifact is hashes + counts only
    * (8+8 bytes per surviving n-gram), published atomically via
    * [[graft.sources.IndexIO]]; at web scale the cutoff is what turns
    * a billions-of-bigrams table into a broadcastable model.
    */
  def buildLmIndex(
      train: DataFrame, textCol: String, path: String,
      minBigramCount: Long = 2, minUnigramCount: Long = 2,
      minTrigramCount: Long = 2): Unit = {
    require(minBigramCount >= 1 && minUnigramCount >= 1 && minTrigramCount >= 1,
      "buildLmIndex: count cutoffs must be >= 1")
    val spark = train.sparkSession
    val trainTrigrams = trigrams(train, textCol).select(
      xxhash64(col("__w1"), col("__w2"), col("__w3")).as("h"))
    val trigramCounts = trainTrigrams.groupBy("h").agg(count(lit(1)).as("c"))
    val trainBigrams = bigrams(train, textCol).select(
      xxhash64(col("__w1"), col("__w2")).as("h"))
    val bigramCounts = trainBigrams.groupBy("h").agg(count(lit(1)).as("c"))
    // materialize the unigram aggregate ONCE: the pre-prune |V| count,
    // the pre-prune N sum, and the pruned write each need it, and each
    // is an action — an unmaterialized frame would re-run the full
    // tokenize+agg corpus scan (|V| and N must be pre-prune, so they
    // cannot come from the artifact)
    val unigramCounts = train
      .select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .select(xxhash64(col("__w")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = unigramCounts.count() // |V| BEFORE pruning
    val nTokens = unigramCounts.agg(sum(col("c"))).head().getLong(0) // N BEFORE pruning
    graft.sources.IndexIO.publish(spark, path) { vdir =>
      trigramCounts.filter(col("c") >= minTrigramCount)
        .write.mode("overwrite").parquet(s"$vdir/trigrams")
      bigramCounts.filter(col("c") >= minBigramCount)
        .write.mode("overwrite").parquet(s"$vdir/bigrams")
      unigramCounts.filter(col("c") >= minUnigramCount)
        .write.mode("overwrite").parquet(s"$vdir/unigrams")
      graft.sources.IndexIO.writeRows(spark, s"$vdir/meta", StructType.fromDDL(
          "vocab BIGINT NOT NULL, min_bigram BIGINT NOT NULL, " +
            "min_unigram BIGINT NOT NULL, min_trigram BIGINT NOT NULL, " +
            "n_tokens BIGINT NOT NULL"),
        Seq(Row(vocab, minBigramCount, minUnigramCount, minTrigramCount, nTokens)))
    }
    ()
  }

  /** Load a [[buildLmIndex]] artifact into driver memory (sorted for
    * the kernel's binary search). Size = the pruned model, bounded by
    * the cutoffs — the require mirrors the gate's other
    * driver-collected artifacts.
    */
  def loadLmModel(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxEntries: Long = 32L << 20): LmModel = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    // guard BEFORE collecting: exact counts from the parquet footers
    // (no job); a require that fires after the driver holds the
    // oversized Row arrays is documentation, not protection
    val entries = graft.sources.IndexIO.countRows(spark, s"$vdir/bigrams") +
      graft.sources.IndexIO.countRows(spark, s"$vdir/unigrams")
    require(entries <= maxEntries,
      s"LM model at $path has $entries entries > $maxEntries; " +
        "raise the count cutoffs")
    def sorted(name: String): (Array[Long], Array[Long]) = {
      val rows = graft.sources.IndexIO.readTable(spark, s"$vdir/$name").sort("h")
        .collect()
      (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    }
    val (bk, bc) = sorted("bigrams")
    val (uk, uc) = sorted("unigrams")
    val vocab = graft.sources.IndexIO.readRows(spark, s"$vdir/meta").head.getLong(0)
    LmModel(bk, bc, uk, uc, vocab)
  }

  /** Score docs against a loaded pruned model with the in-row kernel —
    * one scan projection, no joins, no aggregation (stream-safe; the
    * suite pins it bit-equal to [[scoreAgainst]] when the cutoffs are
    * 1). Docs with zero bigrams get no row, like the batch path.
    */
  def scoreWithModel(
      docs: DataFrame, idCol: String, textCol: String, model: LmModel): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val sc = toColumn(graft.functions.LmScoreExpr(
      toExpression(col(textCol)), model.bigramKeys, model.bigramCounts,
      model.unigramKeys, model.unigramCounts, model.vocab))
    // Generate fence: one kernel call per row (the filter + project
    // pair would otherwise re-evaluate it — see Streaming.lmGate)
    docs
      .withColumn("__lm", explode(array(sc)))
      .filter(col("__lm.n_bigrams") > 0)
      .select(
        col(idCol),
        col("__lm.n_bigrams").as("n_bigrams"),
        (floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_bigrams")) / lit(10000.0))
          .as("avg_logp"))
  }

  /** A pruned ORDER-3 model held driver-side: sorted hash-key arrays
    * for trigram/bigram/unigram counts, plus the UNPRUNED vocabulary
    * size and token total (the terminal-floor denominators).
    */
  final case class LmModel3(
      trigramKeys: Array[Long], trigramCounts: Array[Long],
      bigramKeys: Array[Long], bigramCounts: Array[Long],
      unigramKeys: Array[Long], unigramCounts: Array[Long],
      vocab: Long, nTokens: Long)

  /** Load a [[buildLmIndex]] artifact as an order-3 model. Fails
    * loudly on a pre-trigram artifact (rebuild the index).
    */
  def loadLmModel3(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxEntries: Long = 32L << 20): LmModel3 = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    val tri = graft.sources.IndexIO.countRowsIfExists(spark, s"$vdir/trigrams")
    require(tri.isDefined,
      s"LM index at $path has no trigram table (built before order-3 " +
        "support) — rebuild with buildLmIndex")
    // footer counts: the guard runs no job
    val entries = tri.get +
      graft.sources.IndexIO.countRows(spark, s"$vdir/bigrams") +
      graft.sources.IndexIO.countRows(spark, s"$vdir/unigrams")
    require(entries <= maxEntries,
      s"LM model at $path has $entries entries > $maxEntries; " +
        "raise the count cutoffs")
    def sorted(name: String): (Array[Long], Array[Long]) = {
      val rows = graft.sources.IndexIO.readTable(spark, s"$vdir/$name").sort("h").collect()
      (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    }
    val (tk, tc) = sorted("trigrams")
    val (bk, bc) = sorted("bigrams")
    val (uk, uc) = sorted("unigrams")
    val meta = graft.sources.IndexIO.readRows(spark, s"$vdir/meta").head
    LmModel3(tk, tc, bk, bc, uk, uc,
      meta.getLong(0), meta.getAs[Long]("n_tokens"))
  }

  /** Order-3 scoring against a loaded pruned model with the in-row
    * kernel — one scan projection, no joins (stream-safe; the suite
    * pins it bit-equal to [[scoreAgainst3]] when the cutoffs are 1).
    * Docs with zero trigrams get no row, like the batch path.
    */
  def scoreWithModel3(
      docs: DataFrame, idCol: String, textCol: String, model: LmModel3): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val sc = toColumn(graft.functions.LmScore3Expr(
      toExpression(col(textCol)),
      model.trigramKeys, model.trigramCounts,
      model.bigramKeys, model.bigramCounts,
      model.unigramKeys, model.unigramCounts, model.vocab, model.nTokens))
    // Generate fence: one kernel call per row (see Streaming.lmGate)
    docs
      .withColumn("__lm", explode(array(sc)))
      .filter(col("__lm.n_trigrams") > 0)
      .select(
        col(idCol),
        col("__lm.n_trigrams").as("n_trigrams"),
        (floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_trigrams")) / lit(10000.0))
          .as("avg_logp"))
  }

  /** ORDER-N scoring with stupid backoff — [[scoreAgainst3]]
    * generalized: each N-gram position walks the backoff chain
    *
    *   x = c(w_{1..N})/c(w_{1..N−1})                    level 0
    *     | 0.4^j · c(w_{j+1..N})/c(w_{j+1..N−1})        level j
    *     | 0.4^(N−1) · (c(w_N)+1)/(Ntok+V)              terminal floor
    *
    * with lp = floor4(ln x) on the exact 1e-4 grid. Backoff factors
    * are the REPEATED PRODUCT 0.4·0.4·… (left-assoc double chain, the
    * replayable definition an oracle can reproduce) — note this makes
    * the N=3 instance agree with [[scoreAgainst3]] only up to the
    * final ulp of its literal `0.16`, so the two stay separate
    * surfaces. Returns `(<idCol>, n_ngrams, avg_logp)` for docs with
    * ≥ 1 N-gram.
    *
    * Scale design mirrors [[scoreAgainst3]]: count tables for orders
    * 1..N keyed by xxhash64 chains (8-byte keys, map-side partial
    * agg), 2(N−1)+1 shuffled equi-joins that AQE can flip to
    * broadcast under a domain model; the pruned serving form is
    * [[scoreWithModelN]] (one scan projection, no joins).
    */
  def scoreAgainstN(
      train: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      order: Int): DataFrame = {
    require(order >= 2, s"scoreAgainstN: order must be >= 2, got $order")
    val counts: Map[Int, DataFrame] = (1 to order).map { k =>
      k -> ngramsK(train.select(col(textCol)), textCol, k)
        .select(xxhash64((1 to k).map(j => col(s"__w$j")): _*).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
    }.toMap
    val stats = train
      .select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .agg(count(lit(1)).as("__n"), countDistinct(col("__w")).as("__v"))

    // hash of words a..b (1-based inclusive) of the current N-gram
    def h(a: Int, b: Int): Column =
      xxhash64((a to b).map(j => col(s"__w$j")): _*)
    // level j needs numerator gram (j+1..N) and denominator gram
    // (j+1..N−1); the terminal needs the last word alone
    val grams = ngramsK(docs.select(col(idCol), col(textCol)), textCol, order)
      .select(col(idCol) +: ((0 until order - 1).flatMap(j => Seq(
        h(j + 1, order).as(s"__num$j"),
        h(j + 1, order - 1).as(s"__den$j"))) :+
        h(order, order).as("__last")): _*)

    var joined = grams
    for (j <- 0 until order - 1) {
      joined = joined
        .join(counts(order - j)
          .select(col("h").as(s"__num$j"), col("c").as(s"__cn$j")),
          Seq(s"__num$j"), "left")
        .join(counts(order - 1 - j)
          .select(col("h").as(s"__den$j"), col("c").as(s"__cd$j")),
          Seq(s"__den$j"), "left")
    }
    joined = joined
      .join(counts(1).select(col("h").as("__last"), col("c").as("__cl")),
        Seq("__last"), "left")
      .crossJoin(broadcast(stats))

    val factors = backoffFactors(order)
    val terminal: Column =
      lit(factors(order - 1)) * (coalesce(col("__cl"), lit(0L)) + lit(1.0)) /
        (col("__n") + col("__v"))
    val x = (0 until order - 1).foldRight(terminal) { (j, rest) =>
      when(col(s"__cn$j").isNotNull && col(s"__cd$j").isNotNull,
        lit(factors(j)) * col(s"__cn$j") / col(s"__cd$j"))
        .otherwise(rest)
    }
    joined
      .withColumn("__lp", floor(log(x) * lit(10000.0)).cast("long"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(col("__lp")).as("__lp_sum"))
      .select(
        col(idCol),
        col("n_ngrams"),
        (floor(col("__lp_sum") * lit(1.0) / col("n_ngrams")) / lit(10000.0))
          .as("avg_logp"))
  }

  /** Order-N self-scoring ([[scoreAgainstN]] with train = docs). */
  def scoreN(docs: DataFrame, idCol: String, textCol: String, order: Int): DataFrame =
    scoreAgainstN(docs, docs, idCol, textCol, order)

  /** INTERPOLATED KNESER–NEY bigram scoring (Kneser & Ney 1995; the
    * stronger smoothing for when quality ranking matters more than
    * raw gate throughput — continuation probability models how many
    * CONTEXTS a word completes, not how often it occurs, which fixes
    * the "San Francisco" artifact absolute discounting keeps):
    *
    *   p(w2|w1) = max(c(w1w2)−D, 0)/c(w1)
    *              + (D·N1+(w1·)/c(w1)) · pc(w2)        c(w1) > 0
    *            | pc(w2)                               w1 unseen
    *   pc(w2)   = (N1+(·w2) + 1)/(B + V)
    *
    * with fixed discount `D = 0.75`, `N1+(w1·)` = distinct
    * continuations of w1, `N1+(·w2)` = distinct left contexts of w2,
    * `B` = distinct bigram types, `V` = vocab. The continuation term
    * carries a +1/(B+V) add-one floor so the function is total
    * (textbook KN assigns 0 to an unseen-as-continuation word, which
    * is −∞ under ln). All inputs are integer counts, so the score is
    * a fixed double-arithmetic chain a DuckDB oracle can replay
    * term-for-term; lp = floor4(ln x) on the exact 1e-4 grid as
    * everywhere. Returns `(<idCol>, n_bigrams, avg_logp)`.
    *
    * Scale shape matches [[scoreAgainst]]: the two distinct-count
    * side tables (`N1+(w1·)`, `N1+(·w2)`) are aggregations OVER the
    * already-aggregated bigram count table — no extra corpus scan —
    * and everything joins by 8-byte hash keys.
    */
  def scoreAgainstKN(
      train: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val D = 0.75
    val trainBi = bigrams(train, textCol).select(
      xxhash64(col("__w1"), col("__w2")).as("__bh"),
      xxhash64(col("__w1")).as("__h1"),
      xxhash64(col("__w2")).as("__h2"))
    val biCounts = trainBi.groupBy("__bh")
      .agg(count(lit(1)).as("__cb"),
        first(col("__h1")).as("__h1"), first(col("__h2")).as("__h2"))
      .localCheckpoint(true) // feeds three aggregates below — scan once
    val fwTypes = biCounts.groupBy(col("__h1").as("__fh"))
      .agg(count(lit(1)).as("__n1p"))
    val bwTypes = biCounts.groupBy(col("__h2").as("__bh2"))
      .agg(count(lit(1)).as("__nw2"))
    val uniCounts = train
      .select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .select(xxhash64(col("__w")).as("__uh"))
      .groupBy("__uh").agg(count(lit(1)).as("__cu"))
    val stats = biCounts.agg(count(lit(1)).as("__b"))
      .crossJoin(uniCounts.agg(count(lit(1)).as("__v")))

    val docBi = bigrams(docs.select(col(idCol), col(textCol)), textCol)
      .select(
        col(idCol),
        xxhash64(col("__w1"), col("__w2")).as("__bh"),
        xxhash64(col("__w1")).as("__uh"),
        xxhash64(col("__w2")).as("__h2v"))

    val pc = (coalesce(col("__nw2"), lit(0L)) + lit(1.0)) /
      (col("__b") + col("__v"))
    val seen =
      (greatest(coalesce(col("__cb"), lit(0L)) - lit(D), lit(0.0)) / col("__cu")) +
        ((lit(D) * coalesce(col("__n1p"), lit(0L)) / col("__cu")) * pc)
    docBi
      .join(biCounts.select(col("__bh"), col("__cb")), Seq("__bh"), "left")
      .join(uniCounts, Seq("__uh"), "left")
      .join(fwTypes.select(col("__fh").as("__uh"), col("__n1p")),
        Seq("__uh"), "left")
      .join(bwTypes.select(col("__bh2").as("__h2v"), col("__nw2")),
        Seq("__h2v"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("__lp",
        floor(log(when(col("__cu").isNotNull, seen).otherwise(pc))
          * lit(10000.0)).cast("long"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("__lp")).as("__lp_sum"))
      .select(
        col(idCol),
        col("n_bigrams"),
        (floor(col("__lp_sum") * lit(1.0) / col("n_bigrams")) / lit(10000.0))
          .as("avg_logp"))
  }

  /** KN self-scoring ([[scoreAgainstKN]] with train = docs). */
  def scoreKN(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreAgainstKN(docs, docs, idCol, textCol)

  /** A pruned KN model held driver-side: sorted hash-key arrays for
    * bigram counts, unigram counts, per-word distinct-continuation
    * counts (`N1+(w1·)`) and distinct-left-context counts
    * (`N1+(·w2)`), plus the bigram-type total `B` and vocab `V`
    * (computed PRE-prune — the continuation denominator is a model
    * statistic, not an artifact row count).
    */
  final case class KnModel(
      bigramKeys: Array[Long], bigramCounts: Array[Long],
      unigramKeys: Array[Long], unigramCounts: Array[Long],
      fwKeys: Array[Long], fwCounts: Array[Long],
      bwKeys: Array[Long], bwCounts: Array[Long],
      bTypes: Long, vocab: Long)

  /** Train and persist a count-pruned interpolated-KN model: the four
    * count tables of [[scoreAgainstKN]] keyed by xxhash64 (8+8 bytes
    * per entry), cutoffs applied to the bigram/unigram OCCURRENCE
    * tables only (a pruned bigram's discounted term vanishes and the
    * score falls to its interpolation weight; the type-count tables
    * and `B`/`V` stay pre-prune so the continuation distribution is
    * unchanged). Published atomically via [[graft.sources.IndexIO]].
    */
  def buildKnIndex(
      train: DataFrame, textCol: String, path: String,
      minBigramCount: Long = 2, minUnigramCount: Long = 2): Unit = {
    require(minBigramCount >= 1 && minUnigramCount >= 1,
      "buildKnIndex: count cutoffs must be >= 1")
    val spark = train.sparkSession
    val biCounts = bigrams(train, textCol).select(
        xxhash64(col("__w1"), col("__w2")).as("h"),
        xxhash64(col("__w1")).as("h1"),
        xxhash64(col("__w2")).as("h2"))
      .groupBy("h")
      .agg(count(lit(1)).as("c"), first(col("h1")).as("h1"),
        first(col("h2")).as("h2"))
      .localCheckpoint(true)
    val uniCounts = train
      .select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .select(xxhash64(col("__w")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val bTypes = biCounts.count()
    val vocab = uniCounts.count()
    graft.sources.IndexIO.publish(spark, path) { vdir =>
      biCounts.select("h", "c").filter(col("c") >= minBigramCount)
        .write.mode("overwrite").parquet(s"$vdir/bigrams")
      uniCounts.filter(col("c") >= minUnigramCount)
        .write.mode("overwrite").parquet(s"$vdir/unigrams")
      biCounts.groupBy(col("h1").as("h")).agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(s"$vdir/fw_types")
      biCounts.groupBy(col("h2").as("h")).agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(s"$vdir/bw_types")
      graft.sources.IndexIO.writeRows(spark, s"$vdir/meta", StructType.fromDDL(
          "b_types BIGINT NOT NULL, vocab BIGINT NOT NULL, " +
            "min_bigram BIGINT NOT NULL, min_unigram BIGINT NOT NULL"),
        Seq(Row(bTypes, vocab, minBigramCount, minUnigramCount)))
    }
    ()
  }

  /** Load a [[buildKnIndex]] artifact into driver memory (sorted for
    * the kernel's binary search).
    */
  def loadKnModel(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxEntries: Long = 32L << 20): KnModel = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    // footer counts: the guard runs no job
    val entries = Seq("bigrams", "unigrams", "fw_types", "bw_types")
      .map(t => graft.sources.IndexIO.countRows(spark, s"$vdir/$t")).sum
    require(entries <= maxEntries,
      s"KN model at $path has $entries entries > $maxEntries; " +
        "raise the count cutoffs")
    def sorted(name: String): (Array[Long], Array[Long]) = {
      val rows = graft.sources.IndexIO.readTable(spark, s"$vdir/$name").sort("h").collect()
      (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    }
    val (bk, bc) = sorted("bigrams")
    val (uk, uc) = sorted("unigrams")
    val (fk, fc) = sorted("fw_types")
    val (wk, wc) = sorted("bw_types")
    val meta = graft.sources.IndexIO.readRows(spark, s"$vdir/meta").head
    KnModel(bk, bc, uk, uc, fk, fc, wk, wc,
      meta.getAs[Long]("b_types"), meta.getAs[Long]("vocab"))
  }

  /** KN scoring against a loaded pruned model with the in-row kernel —
    * one scan projection, no joins (stream-safe; the suite pins it
    * bit-equal to [[scoreAgainstKN]] when the cutoffs are 1).
    */
  def scoreWithModelKN(
      docs: DataFrame, idCol: String, textCol: String, model: KnModel): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val sc = toColumn(graft.functions.LmScoreKnExpr(
      toExpression(col(textCol)),
      model.bigramKeys, model.bigramCounts,
      model.unigramKeys, model.unigramCounts,
      model.fwKeys, model.fwCounts, model.bwKeys, model.bwCounts,
      model.bTypes, model.vocab))
    // Generate fence: one kernel call per row (see Streaming.lmGate)
    docs
      .withColumn("__lm", explode(array(sc)))
      .filter(col("__lm.n_bigrams") > 0)
      .select(
        col(idCol),
        col("__lm.n_bigrams").as("n_bigrams"),
        (floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_bigrams")) / lit(10000.0))
          .as("avg_logp"))
  }

  /** Backoff factors `1, 0.4, 0.4·0.4, …` as the left-assoc repeated
    * double product — shared between the batch plan, the kernel, and
    * (by replay) the DuckDB oracles.
    */
  private[graft] def backoffFactors(order: Int): Array[Double] = {
    val f = new Array[Double](order)
    f(0) = 1.0
    for (j <- 1 until order) f(j) = f(j - 1) * 0.4
    f
  }

  /** A pruned ORDER-N model held driver-side: one sorted hash-key /
    * count array pair per order (index k−1 holds the k-grams), plus
    * the UNPRUNED vocabulary size and token total.
    */
  final case class LmModelN(
      order: Int,
      keys: Array[Array[Long]], counts: Array[Array[Long]],
      vocab: Long, nTokens: Long)

  /** Train and persist a count-pruned ORDER-N model ([[buildLmIndex]]
    * generalized): tables `grams_1 .. grams_<order>` of
    * (xxhash64-chain key, count) with a per-order count cutoff
    * applied, published atomically via [[graft.sources.IndexIO]].
    * `minCount` prunes every order the same way (KenLM-style; a
    * pruned entry scores as unseen — |V| and N stay pre-prune).
    */
  def buildLmIndexN(
      train: DataFrame, textCol: String, path: String,
      order: Int, minCount: Long = 2): Unit = {
    require(order >= 2, s"buildLmIndexN: order must be >= 2, got $order")
    require(minCount >= 1, "buildLmIndexN: count cutoff must be >= 1")
    val spark = train.sparkSession
    val unigramCounts = train
      .select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .select(xxhash64(col("__w")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = unigramCounts.count()
    val nTokens = unigramCounts.agg(sum(col("c"))).head().getLong(0)
    graft.sources.IndexIO.publish(spark, path) { vdir =>
      unigramCounts.filter(col("c") >= minCount)
        .write.mode("overwrite").parquet(s"$vdir/grams_1")
      for (k <- 2 to order) {
        ngramsK(train.select(col(textCol)), textCol, k)
          .select(xxhash64((1 to k).map(j => col(s"__w$j")): _*).as("h"))
          .groupBy("h").agg(count(lit(1)).as("c"))
          .filter(col("c") >= minCount)
          .write.mode("overwrite").parquet(s"$vdir/grams_$k")
      }
      graft.sources.IndexIO.writeRows(spark, s"$vdir/meta", StructType.fromDDL(
          "order INT NOT NULL, vocab BIGINT NOT NULL, n_tokens BIGINT NOT NULL, " +
            "min_count BIGINT NOT NULL"),
        Seq(Row(order, vocab, nTokens, minCount)))
    }
    ()
  }

  /** Load a [[buildLmIndexN]] artifact into driver memory (sorted for
    * the kernel's binary search).
    */
  def loadLmModelN(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxEntries: Long = 32L << 20): LmModelN = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    val metaRow = graft.sources.IndexIO.readRowsIfExists(spark, s"$vdir/meta")
      .flatMap(_.headOption)
    require(metaRow.exists(_.schema.fieldNames.contains("order")),
      s"LM index at $path is not an order-N artifact — build with buildLmIndexN")
    val meta = metaRow.get
    val order = meta.getAs[Int]("order")
    // footer counts: the guard runs no job
    val entries = (1 to order)
      .map(k => graft.sources.IndexIO.countRows(spark, s"$vdir/grams_$k")).sum
    require(entries <= maxEntries,
      s"LM model at $path has $entries entries > $maxEntries; " +
        "raise the count cutoff")
    val sorted = (1 to order).map { k =>
      val rows = graft.sources.IndexIO.readTable(spark, s"$vdir/grams_$k").sort("h").collect()
      (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    }
    LmModelN(order, sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      meta.getAs[Long]("vocab"), meta.getAs[Long]("n_tokens"))
  }

  /** Order-N scoring against a loaded pruned model with the in-row
    * kernel — one scan projection, no joins (stream-safe; the suite
    * pins it bit-equal to [[scoreAgainstN]] when the cutoff is 1).
    * Docs with zero N-grams get no row, like the batch path.
    */
  def scoreWithModelN(
      docs: DataFrame, idCol: String, textCol: String, model: LmModelN): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val sc = toColumn(graft.functions.LmScoreNExpr(
      toExpression(col(textCol)),
      model.order, model.keys, model.counts, model.vocab, model.nTokens))
    // Generate fence: one kernel call per row (see Streaming.lmGate)
    docs
      .withColumn("__lm", explode(array(sc)))
      .filter(col("__lm.n_ngrams") > 0)
      .select(
        col(idCol),
        col("__lm.n_ngrams").as("n_ngrams"),
        (floor(col("__lm.lp_sum") * lit(1.0) / col("__lm.n_ngrams")) / lit(10000.0))
          .as("avg_logp"))
  }

  /** Consecutive token k-tuples of `textCol`, NON-distinct, other
    * columns preserved as `__w1..__wk` — [[bigrams]]/[[trigrams]]
    * generalized by folding zip_with over k shifted slices (one
    * projection, no join, no shuffle).
    */
  private[graft] def ngramsK(d: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"ngramsK: k must be >= 1, got $k")
    val toks = TextFunctions.tokens(col(textCol))
    val nk = greatest(size(toks) - (k - 1), lit(0))
    var cur: Column = transform(slice(toks, lit(1), nk),
      a => struct(a.as("w1")))
    for (j <- 2 to k) {
      val prevFields = (1 until j).map(f => s"w$f")
      cur = zip_with(cur, slice(toks, lit(j), nk), (p, c) =>
        struct((prevFields.map(f => p.getField(f).as(f)) :+ c.as(s"w$j")): _*))
    }
    val others = d.columns.filter(_ != textCol).map(col).toSeq
    d.withColumn("__g", explode(cur))
      .select(others ++ (1 to k).map(j => col(s"__g.w$j").as(s"__w$j")): _*)
  }

  /** Consecutive token pairs of `textCol`, NON-distinct (every
    * occurrence is a training/scoring event), other columns preserved.
    */
  private def bigrams(d: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    d.withColumn("__pair",
        explode(zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))))
      .withColumn("__w1", col("__pair.w1"))
      .withColumn("__w2", col("__pair.w2"))
      .drop("__pair", textCol)
  }

  /** Consecutive token triples of `textCol`, NON-distinct, other
    * columns preserved — the order-3 sibling of [[bigrams]] (zip of
    * three shifted slices; one projection, no join).
    */
  private def trigrams(d: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val n3 = greatest(size(toks) - 2, lit(0))
    d.withColumn("__tri",
        explode(zip_with(
          zip_with(
            slice(toks, lit(1), n3),
            slice(toks, lit(2), n3),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          slice(toks, lit(3), n3),
          (p, c) => struct(p.getField("w1").as("w1"), p.getField("w2").as("w2"), c.as("w3")))))
      .withColumn("__w1", col("__tri.w1"))
      .withColumn("__w2", col("__tri.w2"))
      .withColumn("__w3", col("__tri.w3"))
      .drop("__tri", textCol)
  }
}
