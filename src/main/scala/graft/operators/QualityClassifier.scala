package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.TextFunctions

/** Weak-supervision document classifier — multinomial Naive Bayes over
  * the token stream. The model-based curation filter that complements
  * the perplexity gate ([[LangModel]]): label a slice of the corpus
  * with anything cheap (heuristic quality score, a trusted-domain
  * flag, an eval-set membership), train token log-odds, score the
  * whole corpus. The classic "quality classifier" recipe of the
  * GPT-3/LLaMA data pipelines, with fastText's role filled by NB —
  * same linear form (a score is a sum of per-token weights plus a
  * prior), no gradient loop, one aggregation to train.
  *
  * Scale shape: training is ONE token-count `groupBy` keyed by
  * `xxhash64(token)` (8-byte keys; the label folds into two partial
  * sums, so the shuffle carries `(hash, cp, cn)`), plus a single-row
  * scalar aggregate and a two-row prior count — both bounded
  * collects. Scoring explodes the token stream to `(id, hash)` and
  * equi-joins the model table: AQE broadcasts it when the vocabulary
  * is small, shuffles otherwise; head-word skew is irrelevant because
  * every frequent token IS in the model (no null-key hot spot).
  *
  * Determinism (oracle contract): `ln` is not correctly rounded, so
  * every log is floored to the 1e-4 grid immediately and all sums run
  * over exact longs ([[LangModel]]'s contract). A token's weight is
  * `floor4(ln((cp+1)/(Np+V))) − floor4(ln((cn+1)/(Nn+V)))` (add-one
  * smoothing over the shared train vocabulary); a token unseen in
  * training gets the same expression at `cp = cn = 0` — the smoothing
  * floor, not a silent zero.
  */
object QualityClassifier {

  /** Trained NB model: `tokenDelta` is `(__th, __delta)` — xxhash64 of
    * the token and its exact 1e-4-grid log-odds long; the two scalars
    * carry the unseen-token smoothing floor and the class-prior
    * log-odds on the same grid.
    */
  final case class NbModel(
      tokenDelta: DataFrame, defaultDelta: Long, priorDelta: Long)

  private def grid(x: Double): Long = math.floor(math.log(x) * 10000).toLong

  /** Train on `docs` with `positive` as the (weak) boolean label.
    * Both classes must be non-empty — a one-class "classifier" is a
    * configuration error, not a model.
    */
  def train(docs: DataFrame, textCol: String, positive: Column): NbModel = {
    val lab = docs.select(positive.cast("boolean").as("__pos"),
      col(textCol).as("__t"))
    // localCheckpoint: the totals below are COLLECTED from this
    // aggregate while tokenDelta re-reads it lazily — a
    // non-deterministic source could otherwise diverge the delta table
    // from its own denominators, and every downstream action would
    // re-run the full training aggregation
    val tc = lab
      .select(col("__pos"),
        explode(TextFunctions.tokens(col("__t"))).as("__w"))
      .select(col("__pos"), xxhash64(col("__w")).as("__th"))
      .groupBy("__th")
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__cp"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("__cn"))
      .localCheckpoint(true)
    // three scalars in one row, and the two class doc-counts: bounded
    // collects (the guard runs BEFORE anything else can misbehave)
    val c = tc.agg(sum("__cp").as("np"), sum("__cn").as("nn"),
      count(lit(1)).as("v")).collect()(0)
    val docCounts = lab.groupBy("__pos").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val (dp, dn) = (docCounts.getOrElse(true, 0L), docCounts.getOrElse(false, 0L))
    require(dp > 0 && dn > 0,
      s"QualityClassifier.train: both classes must be non-empty (pos=$dp, neg=$dn)")
    val (np, nn, v) = (c.getLong(0), c.getLong(1), c.getLong(2))
    val delta = tc.select(col("__th"),
      (floor(log((col("__cp") + lit(1.0)) / lit((np + v).toDouble)) * lit(10000.0))
          .cast("long")
        - floor(log((col("__cn") + lit(1.0)) / lit((nn + v).toDouble)) * lit(10000.0))
          .cast("long")).as("__delta"))
    NbModel(delta,
      defaultDelta = grid(1.0 / (np + v)) - grid(1.0 / (nn + v)),
      priorDelta = grid(dp.toDouble / (dp + dn)) - grid(dn.toDouble / (dp + dn)))
  }

  /** Score `docs` with a trained model: `(<idCol>, n_tokens, score,
    * pred)` for every doc with ≥ 1 token — `score` is the grid sum of
    * per-token log-odds plus the prior, rendered back to a double
    * (exact: the long sum is far inside 2^53), `pred` its sign.
    */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
      m: NbModel): DataFrame = {
    docs
      .select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .select(col(idCol), xxhash64(col("__w")).as("__th"))
      .join(m.tokenDelta, Seq("__th"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__delta"), lit(m.defaultDelta))).as("__s"))
      .select(col(idCol), col("n_tokens"),
        ((col("__s") + lit(m.priorDelta)) / lit(10000.0)).as("score"),
        (col("__s") + lit(m.priorDelta) > 0).as("pred"))
  }

  /** Self-train-and-score: weak-label the corpus, train, score the
    * same corpus — the one-pass curation form.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      positive: Column): DataFrame =
    scoreWith(docs, idCol, textCol, train(docs, textCol, positive))

  /** A pruned NB model held driver-side for in-row serving: sorted
    * token-hash keys with parallel 1e-4-grid log-odds, plus the
    * unseen-token floor and the class prior.
    */
  final case class NbServingModel(
      keys: Array[Long], deltas: Array[Long],
      defaultDelta: Long, priorDelta: Long)

  /** Train and persist a COUNT-PRUNED NB model ([[LangModel]]'s
    * artifact recipe: tokens seen fewer than `minCount` times across
    * both classes are dropped and score as unseen — a count cutoff,
    * not top-K, because the cutoff replays in any engine without
    * tiebreak coupling). The artifact stores raw per-class counts
    * plus the PRE-PRUNE totals (`Np`, `Nn`, `|V|`, doc counts) — the
    * smoothing denominators must come from the full training run, and
    * keeping counts rather than log-odds leaves the grid arithmetic
    * in one place (model load). Published atomically via
    * [[graft.sources.IndexIO]].
    */
  def buildNbIndex(docs: DataFrame, textCol: String, positive: Column,
      path: String, minCount: Long = 2): Unit = {
    require(minCount >= 1, "buildNbIndex: count cutoff must be >= 1")
    val spark = docs.sparkSession
    val lab = docs.select(positive.cast("boolean").as("__pos"),
      col(textCol).as("__t"))
    // materialized once: the pre-prune totals and the pruned write are
    // separate actions over this aggregate
    val tc = lab
      .select(col("__pos"),
        explode(TextFunctions.tokens(col("__t"))).as("__w"))
      .select(col("__pos"), xxhash64(col("__w")).as("h"))
      .groupBy("h")
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("cn"))
      .localCheckpoint(true)
    val c = tc.agg(sum("cp").as("np"), sum("cn").as("nn"),
      count(lit(1)).as("v")).collect()(0)
    val docCounts = lab.groupBy("__pos").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val (dp, dn) = (docCounts.getOrElse(true, 0L), docCounts.getOrElse(false, 0L))
    require(dp > 0 && dn > 0,
      s"buildNbIndex: both classes must be non-empty (pos=$dp, neg=$dn)")
    graft.sources.IndexIO.publish(spark, path) { vdir =>
      tc.filter(col("cp") + col("cn") >= minCount)
        .write.mode("overwrite").parquet(s"$vdir/tokens")
      graft.sources.IndexIO.writeRows(spark, s"$vdir/meta", StructType.fromDDL(
          "np BIGINT NOT NULL, nn BIGINT NOT NULL, v BIGINT NOT NULL, " +
            "dp BIGINT NOT NULL, dn BIGINT NOT NULL, min_count BIGINT NOT NULL"),
        Seq(Row(c.getLong(0), c.getLong(1), c.getLong(2), dp, dn, minCount)))
    }
    ()
  }

  /** Load a [[buildNbIndex]] artifact into driver memory (sorted for
    * the kernel's binary search), turning counts into grid log-odds
    * with the exact train-time arithmetic. Count-guarded BEFORE the
    * collect, like every driver-held artifact here.
    */
  def loadNbModel(spark: org.apache.spark.sql.SparkSession, path: String,
      maxEntries: Long = 32L << 20): NbServingModel = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    // exact count from the parquet footers: the guard runs no job
    val entries = graft.sources.IndexIO.countRows(spark, s"$vdir/tokens")
    require(entries <= maxEntries,
      s"NB model at $path has $entries entries > $maxEntries; raise the count cutoff")
    val m = graft.sources.IndexIO.readRows(spark, s"$vdir/meta").head
    val (np, nn, v) = (m.getLong(0), m.getLong(1), m.getLong(2))
    val (dp, dn) = (m.getLong(3), m.getLong(4))
    val rows = graft.sources.IndexIO.readTable(spark, s"$vdir/tokens").sort("h").collect()
    val keys = rows.map(_.getLong(0))
    val deltas = rows.map(r =>
      grid((r.getLong(1) + 1.0) / (np + v)) - grid((r.getLong(2) + 1.0) / (nn + v)))
    NbServingModel(keys, deltas,
      defaultDelta = grid(1.0 / (np + v)) - grid(1.0 / (nn + v)),
      priorDelta = grid(dp.toDouble / (dp + dn)) - grid(dn.toDouble / (dp + dn)))
  }

  /** MULTICLASS NB: train per-class token log-probs on a labeled
    * corpus and predict the argmax class — the trained language
    * identifier (labels = lang) or domain classifier, upgrading the
    * n-gram-heuristic [[graft.functions.TextFunctions.langId]] to a
    * corpus-fit model. Same grid contract as the binary form: floor4
    * immediately after every `ln`, exact long sums, and a
    * DETERMINISTIC argmax (max score, lowest class name on ties — a
    * tie rule the oracle can replay, where "whichever aggregation
    * order won" is not).
    *
    * Scale shape: the class set is collected once (guarded — a label
    * column with thousands of distinct values is a key, not a class
    * set); training is ONE `groupBy(token-hash)` with `#classes`
    * conditional partial sums, so the shuffle carries `(hash,
    * counts[])`; scoring explodes tokens, joins the model (hash keys),
    * re-explodes the per-class log-prob array to `(id, class, lp)` and
    * aggregates — rows scale as `tokens × classes`, with classes a
    * small constant.
    *
    * Returns `(<idCol>, pred)` for docs with ≥ 1 token. Smoothing:
    * add-one over the SHARED train vocabulary; a token unseen in a
    * class contributes that class's floor, so every class scores every
    * token.
    *
    * `priorWeights`: an explicit RECIPE prior overriding the
    * data-derived doc-count priors — the knob a skewed corpus needs
    * (a crawl that is 90% English should not make 'en' win every
    * near-tie). Must cover every class exactly, with positive finite
    * weights; the prior becomes `floor4(ln(w_c / Σw))` with the sum in
    * sorted-class order, so any engine replays it from the recipe
    * constants alone.
    */
  def predictMulticlass(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, maxClasses: Int = 1000,
      priorWeights: Map[String, Double] = Map.empty): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lab = docs.select(col(labelCol).cast("string").as("__lbl"),
      col(textCol).as("__t"))
    // one distinct-collect guards the class set AND surfaces nulls —
    // a null label is a data error, not a class (it would NPE the
    // sort and produce an unmatchable aggregation column)
    val classesRaw = lab.select(col("__lbl")).distinct()
      .collect().map(_.getString(0))
    require(!classesRaw.contains(null),
      "predictMulticlass: null labels — filter or relabel them first")
    require(classesRaw.length >= 2 && classesRaw.length <= maxClasses,
      s"predictMulticlass: ${classesRaw.length} classes (need 2..$maxClasses)")
    val classes = classesRaw.sorted
    // index-based internal column names: a label value containing a
    // dot/backtick (or case-variant duplicates under case-insensitive
    // resolution) must never reach an identifier
    val clsAggs = classes.indices.map(i =>
      sum(when(col("__lbl") === classes(i), 1L).otherwise(0L)).as(s"__c$i"))
    val tokC = lab
      .select(col("__lbl"), explode(TextFunctions.tokens(col("__t"))).as("__w"))
      .select(col("__lbl"), xxhash64(col("__w")).as("__th"))
      .groupBy("__th")
      .agg(clsAggs.head, clsAggs.tail: _*)
      .localCheckpoint(true)
    val totAggs = classes.indices.map(i => sum(col(s"__c$i")).as(s"__n$i")) :+
      count(lit(1)).as("__v")
    val tot = tokC.agg(totAggs.head, totAggs.tail: _*).collect()(0)
    val v = tot.getLong(classes.length)
    val nc = classes.indices.map(i => classes(i) -> tot.getLong(i)).toMap
    val docC = lab.groupBy("__lbl").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dTotal = docC.values.sum
    val priors =
      if (priorWeights.nonEmpty) {
        require(priorWeights.keySet == classes.toSet,
          s"predictMulticlass: priorWeights must cover the classes exactly " +
            s"(classes=${classes.toSeq}, weights=${priorWeights.keySet.toSeq.sorted})")
        require(priorWeights.values.forall(w =>
            w > 0 && !w.isNaN && !w.isInfinite),
          "predictMulticlass: prior weights must be positive and finite")
        val z = classes.map(priorWeights).sum // sorted-class order: replayable
        classes.map(c => grid(priorWeights(c) / z))
      } else classes.map(c =>
        grid(docC(c).toDouble / dTotal)) // every class has >= 1 doc by construction
    // model row: (hash, per-class grid log-prob array in `classes` order)
    val lpArr = array(classes.indices.map(i =>
      floor(log((col(s"__c$i") + lit(1.0)) / lit((nc(classes(i)) + v).toDouble))
        * lit(10000.0)).cast("long")): _*)
    val model = tokC.select(col("__th"), lpArr.as("__lp"))
    val defaults = classes.map(c => grid(1.0 / (nc(c) + v)))
    val defaultArr = array(defaults.map(lit(_)): _*)
    val classArr = array(classes.map(lit(_)): _*)
    val priorArr = array(priors.map(lit(_)): _*)
    docs
      .select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .select(col(idCol), xxhash64(col("__w")).as("__th"))
      .join(model, Seq("__th"), "left")
      .select(col(idCol),
        posexplode(coalesce(col("__lp"), defaultArr)).as(Seq("__ci", "__clp")))
      .groupBy(col(idCol), col("__ci"))
      .agg(sum(col("__clp")).as("__s"))
      .select(col(idCol), col("__ci"),
        (col("__s") + element_at(priorArr, col("__ci") + 1)).as("__s"),
        element_at(classArr, col("__ci") + 1).as("__cls"))
      .groupBy(col(idCol))
      .agg(min(struct((-col("__s")).as("__neg"), col("__cls"))).as("__best"))
      .select(col(idCol), col("__best.__cls").as("pred"))
  }

  /** A pruned MULTICLASS NB model held driver-side: sorted token-hash
    * keys, a flat `lps[keyIdx · nClasses + c]` grid log-prob table,
    * per-class smoothing floors and priors, and the sorted class
    * names (index = argmax output).
    */
  final case class NbMulticlassModel(
      classes: Array[String], keys: Array[Long], lps: Array[Long],
      defaults: Array[Long], priors: Array[Long])

  /** Train and persist a COUNT-PRUNED multiclass NB model (tokens
    * seen fewer than `minCount` times ACROSS classes drop and score
    * as unseen in every class). Artifact = per-class raw counts +
    * pre-prune totals, same recipe as [[buildNbIndex]]; classes are
    * collected once (guarded) and stored sorted.
    */
  def buildNbMulticlassIndex(docs: DataFrame, textCol: String,
      labelCol: String, path: String, minCount: Long = 2,
      maxClasses: Int = 1000): Unit = {
    require(minCount >= 1, "buildNbMulticlassIndex: count cutoff must be >= 1")
    val spark = docs.sparkSession
    val lab = docs.select(col(labelCol).cast("string").as("__lbl"),
      col(textCol).as("__t"))
    val classesRaw = lab.select(col("__lbl")).distinct()
      .collect().map(_.getString(0))
    require(!classesRaw.contains(null),
      "buildNbMulticlassIndex: null labels — filter or relabel them first")
    require(classesRaw.length >= 2 && classesRaw.length <= maxClasses,
      s"buildNbMulticlassIndex: ${classesRaw.length} classes (need 2..$maxClasses)")
    val classes = classesRaw.sorted
    val clsAggs = classes.indices.map(i =>
      sum(when(col("__lbl") === classes(i), 1L).otherwise(0L)).as(s"c$i"))
    val tokC = lab
      .select(col("__lbl"), explode(TextFunctions.tokens(col("__t"))).as("__w"))
      .select(col("__lbl"), xxhash64(col("__w")).as("h"))
      .groupBy("h")
      .agg(clsAggs.head, clsAggs.tail: _*)
      .localCheckpoint(true)
    val totAggs = classes.indices.map(i => sum(col(s"c$i")).as(s"n$i")) :+
      count(lit(1)).as("v")
    val tot = tokC.agg(totAggs.head, totAggs.tail: _*).collect()(0)
    val ns = classes.indices.map(tot.getLong(_)).toArray
    val v = tot.getLong(classes.length)
    val docCounts = lab.groupBy("__lbl").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ds = classes.map(docCounts(_))
    graft.sources.IndexIO.publish(spark, path) { vdir =>
      tokC.filter(classes.indices.map(i => col(s"c$i")).reduce(_ + _) >= minCount)
        .write.mode("overwrite").parquet(s"$vdir/tokens")
      graft.sources.IndexIO.writeRows(spark, s"$vdir/meta", StructType.fromDDL(
          "classes ARRAY<STRING>, ns ARRAY<BIGINT>, ds ARRAY<BIGINT>, " +
            "v BIGINT NOT NULL, min_count BIGINT NOT NULL"),
        Seq(Row(classes.toSeq, ns.toSeq, ds.toSeq, v, minCount)))
    }
    ()
  }

  /** Load a [[buildNbMulticlassIndex]] artifact (sorted keys, flat
    * per-class grid table) — count-guarded before the collect.
    * `priorWeights`: optional recipe prior override, the
    * [[predictMulticlass]] contract (grid `ln(w_c / Σw)`, sorted-class
    * sum order) applied at load time so one persisted model can serve
    * under different mix assumptions.
    */
  def loadNbMulticlassModel(spark: org.apache.spark.sql.SparkSession,
      path: String, maxEntries: Long = 32L << 20,
      priorWeights: Map[String, Double] = Map.empty): NbMulticlassModel = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    // exact count from the parquet footers: the guard runs no job
    val entries = graft.sources.IndexIO.countRows(spark, s"$vdir/tokens")
    require(entries <= maxEntries,
      s"multiclass NB model at $path has $entries entries > $maxEntries; " +
        "raise the count cutoff")
    val m = graft.sources.IndexIO.readRows(spark, s"$vdir/meta").head
    val classes = m.getSeq[String](0).toArray
    val ns = m.getSeq[Long](1).toArray
    val ds = m.getSeq[Long](2).toArray
    val v = m.getLong(3)
    val nc = classes.length
    val rows = graft.sources.IndexIO.readTable(spark, s"$vdir/tokens").sort("h").collect()
    val keys = rows.map(_.getLong(0))
    val lps = new Array[Long](rows.length * nc)
    var i = 0
    while (i < rows.length) {
      var c = 0
      while (c < nc) {
        lps(i * nc + c) = grid((rows(i).getLong(1 + c) + 1.0) / (ns(c) + v))
        c += 1
      }
      i += 1
    }
    val dTotal = ds.sum
    val priors =
      if (priorWeights.nonEmpty) {
        require(priorWeights.keySet == classes.toSet,
          s"loadNbMulticlassModel: priorWeights must cover the classes exactly " +
            s"(classes=${classes.toSeq}, weights=${priorWeights.keySet.toSeq.sorted})")
        require(priorWeights.values.forall(w =>
            w > 0 && !w.isNaN && !w.isInfinite),
          "loadNbMulticlassModel: prior weights must be positive and finite")
        val z = classes.map(priorWeights).sum
        classes.map(c => grid(priorWeights(c) / z)).toArray
      } else classes.indices.map(c => grid(ds(c).toDouble / dTotal)).toArray
    NbMulticlassModel(classes, keys, lps,
      defaults = classes.indices.map(c => grid(1.0 / (ns(c) + v))).toArray,
      priors = priors)
  }

  /** Predict with a loaded pruned multiclass model via the in-row
    * kernel — one scan projection behind a Generate fence (no join,
    * no aggregation; stream-safe). Bit-equal to [[predictMulticlass]]
    * at `minCount = 1` (suite-pinned); zero-token docs get no row,
    * like the batch path.
    */
  def predictWithModel(docs: DataFrame, idCol: String, textCol: String,
      m: NbMulticlassModel): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val ci = toColumn(graft.functions.NbPredictExpr(
      toExpression(col(textCol)), m.keys, m.lps, m.defaults, m.priors))
    val classArr = array(m.classes.map(lit(_)): _*)
    docs
      .withColumn("__ci", explode(array(ci)))
      .filter(col("__ci") >= 0)
      .select(col(idCol), element_at(classArr, col("__ci") + 1).as("pred"))
  }

  /** Score with a loaded pruned model via the in-row kernel — one scan
    * projection, no joins, no aggregation (stream-safe). Bit-equal to
    * [[scoreWith]] when `minCount = 1` (suite-pinned); zero-token docs
    * get no row, like the batch path.
    */
  def scoreWithModel(docs: DataFrame, idCol: String, textCol: String,
      m: NbServingModel): DataFrame = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val sc = toColumn(graft.functions.NbScoreExpr(
      toExpression(col(textCol)), m.keys, m.deltas, m.defaultDelta))
    // Generate fence: one kernel call per row (filter + project would
    // re-evaluate the kernel otherwise — see Streaming.lmGate)
    docs
      .withColumn("__nb", explode(array(sc)))
      .filter(col("__nb.n_tokens") > 0)
      .select(col(idCol),
        col("__nb.n_tokens").as("n_tokens"),
        ((col("__nb.s_sum") + lit(m.priorDelta)) / lit(10000.0)).as("score"),
        (col("__nb.s_sum") + lit(m.priorDelta) > 0).as("pred"))
  }
}
