package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** DSIR-style importance resampling for pretraining-data selection
  * (Data Selection via Importance Resampling, Xie et al., NeurIPS
  * 2023): represent every document as hashed n-gram (unigram + bigram)
  * bucket counts, fit bag-of-ngrams multinomials over the buckets for
  * a small TARGET corpus (the distribution you want more of) and for
  * the RAW corpus (what the crawl gives you), score each raw document
  * by its importance log-weight
  *
  *   log w(x) = Σ_ngrams ( log p_target[b(g)] − log q_raw[b(g)] )
  *
  * and resample the raw corpus by Gumbel-top-k on the log-weights —
  * sampling without replacement from the importance distribution.
  *
  * Beyond the reference surface (SURVEY.md §2.4): the
  * target-conditioned complement to the absolute quality filters in
  * [[LangModel]] / [[QualityClassifier]] — those ask "is this document
  * good?", DSIR asks "does my corpus need more documents LIKE this?".
  *
  * Scale design: both profiles are single map-side-combined
  * aggregations collapsing the corpus to ≤ `buckets` rows (the hashing
  * trick bounds model size independent of vocabulary, which is the
  * paper's point); scoring explodes each doc's grams to 8-byte bucket
  * ids, joins the two ≤-`buckets`-row profiles broadcast, and reduces
  * to one row per doc with map-side partial aggregation. Resampling is
  * a global top-k (`TakeOrderedAndProject` — per-partition heaps, no
  * full sort). The serving form ([[scoreInRow]]) folds the ratio table
  * into a dense `buckets`-length literal and scores in the row with
  * zero joins/shuffles — the streaming-gate shape.
  *
  * Determinism (oracle contract): buckets come from the first 8 hex
  * chars of md5 (md5 is md5 everywhere — the [[Sampling.hashBucket]]
  * rule); each log is floored to the exact 1e-4 grid as a LONG right
  * after the `ln` (the [[LangModel]] rule) and all downstream
  * arithmetic is exact integer math, so scores, gates, and the
  * resampled set replay bit-for-bit in any engine.
  */
object Dsir {

  /** Stable bucket in [0, buckets) of an n-gram string. Kept as the
    * reference definition the codegen kernel ([[gramBucketsCol]]) is
    * differential-tested against; the hot paths no longer call it.
    */
  private[operators] def bucketOf(gram: Column, buckets: Int): Column =
    conv(substring(md5(gram), 1, 8), 16, 10).cast("long") % buckets

  /** The doc's gram bucket ids (unigrams then bigrams) as ONE
    * whole-stage-codegen call ([[graft.functions.DsirGramBucketsExpr]])
    * — bit-identical to `bucketOf` applied to [[gramsArray]]'s
    * elements, minus the interpreted HOF fold and the per-gram hex
    * strings.
    */
  private[operators] def gramBucketsCol(text: Column, buckets: Int): Column = {
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(graft.functions.DsirGramBucketsExpr(
      GraftInternals.toExpression(text), buckets))
  }

  /** All scored n-gram occurrences of a document, one array: unigrams
    * (whitespace tokens, empties dropped) followed by adjacent-pair
    * bigrams joined with `\u0001` (the house key separator — cannot
    * appear inside a whitespace token's boundary role). A doc with t
    * tokens yields 2t−1 grams (t ≥ 1), an empty/blank doc yields none.
    */
  def gramsArray(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    // zip_with(toks, toks[1:]) builds all bigrams in ONE pass over
    // materialized arrays -- an element_at(toks, i) indexing lambda
    // would re-evaluate the tokenize subtree once per element, O(t^2)
    // per doc. The shorter shifted side zip-pads with null; concat
    // (not concat_ws, which SKIPS nulls) nulls that tail slot out and
    // the filter drops it.
    val shifted = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val bis = filter(
      zip_with(toks, shifted, (a, b) => concat(a, lit("\u0001"), b)),
      g => g.isNotNull)
    concat(toks, bis)
  }

  /** Hashed n-gram profile of a corpus: `(bucket, cnt)` counts over
    * all unigram + bigram occurrences, ≤ `buckets` rows. Additive by
    * construction — profiles of two corpus halves sum to the whole —
    * so incremental maintenance is a union + re-aggregate, never a
    * re-scan of old data.
    */
  def ngramProfile(df: DataFrame, textCol: String, buckets: Int): DataFrame =
    df.select(explode(gramBucketsCol(col(textCol), buckets)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Per-bucket grid log-prob under an add-one-smoothed multinomial:
    * floor4(ln((cnt+1)/(N+buckets))) as an exact 1e-4-grid long.
    */
  private def gridLogProb(cnt: Column, total: Column, buckets: Int): Column =
    floor(log((coalesce(cnt, lit(0L)) + lit(1.0))
      / (total + lit(buckets.toDouble))) * lit(10000.0)).cast("long")

  /** Importance log-weights of `docs` against prebuilt profiles.
    * Returns `(<idCol>, n_ngrams, logw)` for every doc with ≥ 1 gram;
    * `logw` is the exact 1e-4-grid long Σ (lp_target − lp_raw) over
    * the doc's gram occurrences. Buckets absent from a profile score
    * at the smoothed floor, not −∞.
    */
  def importanceScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetProfile: DataFrame,
      rawProfile: DataFrame,
      buckets: Int): DataFrame = {
    val nt = targetProfile.agg(
      coalesce(sum("cnt"), lit(0L)).cast("double").as("__nt"))
    val nq = rawProfile.agg(
      coalesce(sum("cnt"), lit(0L)).cast("double").as("__nq"))
    docs.select(col(idCol),
        explode(gramBucketsCol(col(textCol), buckets)).as("__b"))
      .join(broadcast(targetProfile.select(
        col("bucket").as("__b"), col("cnt").as("__ct"))), Seq("__b"), "left")
      .join(broadcast(rawProfile.select(
        col("bucket").as("__b"), col("cnt").as("__cq"))), Seq("__b"), "left")
      .crossJoin(broadcast(nt))
      .crossJoin(broadcast(nq))
      .withColumn("__lp",
        gridLogProb(col("__ct"), col("__nt"), buckets)
          - gridLogProb(col("__cq"), col("__nq"), buckets))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"), sum(col("__lp")).as("logw"))
  }

  /** The one-call form: fit the target profile on `target`, the raw
    * profile on `raw` itself, and score every raw doc.
    */
  def importanceScoreAgainst(
      raw: DataFrame,
      idCol: String,
      textCol: String,
      target: DataFrame,
      targetTextCol: String,
      buckets: Int): DataFrame =
    importanceScore(raw, idCol, textCol,
      ngramProfile(target, targetTextCol, buckets),
      ngramProfile(raw, textCol, buckets), buckets)

  /** Gumbel-top-k resample: k docs without replacement, selection
    * probability increasing in `logw` (the Gumbel-max trick — adding
    * iid Gumbel(0,1) noise to log-weights and taking the top k IS
    * categorical sampling without replacement). The noise is
    * deterministic — −ln(−ln(u)) with u the doc id's md5 fraction in
    * (0,1), floored to the 1e-4 grid — so the sample is identical
    * across runs and engines (shared-hash membership, the
    * [[Sampling.hashSample]] rule). Plans as a global top-k heap, not
    * a sort. Returns the input columns + `gumbel_key`.
    */
  def resampleTopK(
      scored: DataFrame,
      idCol: String,
      k: Int,
      logwCol: String = "logw"): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val g = floor(-log(-log(u)) * lit(10000.0)).cast("long")
    scored.withColumn("gumbel_key", col(logwCol) + g)
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Dense serving model: `ratio(b) = lp_target(b) − lp_raw(b)` for
    * every bucket (absent buckets at the smoothed floor), collected to
    * a `buckets`-length long array. Driver-side by contract — the
    * array is the model (32 KB at the default 4096 buckets, 512 KB at
    * the allowed max), bounded by the `require`, never corpus-sized.
    */
  def ratioArray(
      targetProfile: DataFrame,
      rawProfile: DataFrame,
      buckets: Int): Array[Long] = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] for the in-row serving form, got $buckets")
    val tc = new Array[Long](buckets)
    val qc = new Array[Long](buckets)
    // negative counts (a [[deleteFromDsirIndex]] retraction of data the
    // model never saw) would put log of a non-positive — NaN — into the
    // served ratio; fail at load, never serve garbage
    targetProfile.select("bucket", "cnt").collect().foreach { r =>
      require(r.getLong(1) >= 0L,
        s"ratioArray: target bucket ${r.getLong(0)} has negative count " +
          s"${r.getLong(1)} — retraction removed data the model never saw")
      tc(r.getLong(0).toInt) = r.getLong(1)
    }
    rawProfile.select("bucket", "cnt").collect().foreach { r =>
      require(r.getLong(1) >= 0L,
        s"ratioArray: raw bucket ${r.getLong(0)} has negative count " +
          s"${r.getLong(1)} — retraction removed data the model never saw")
      qc(r.getLong(0).toInt) = r.getLong(1)
    }
    denseRatio(tc, qc, buckets)
  }

  /** The dense ratio array from per-bucket count arrays — the ONE
    * definition of the 1e-4-grid serving arithmetic shared by the
    * ungrouped ([[ratioArray]]) and per-group ([[ratioMaps]]) forms,
    * so the oracle-pinned grid can never diverge between them.
    * Totals are the count sums (each bucket appears once).
    */
  private def denseRatio(
      tc: Array[Long], qc: Array[Long], buckets: Int): Array[Long] = {
    val nt = tc.sum
    val nq = qc.sum
    def grid(cnt: Long, total: Long): Long =
      math.floor(math.log((cnt + 1.0) / (total + buckets.toDouble)) * 10000.0).toLong
    val base = grid(0L, nt) - grid(0L, nq)
    val out = Array.fill(buckets)(base)
    var b = 0
    while (b < buckets) {
      if (tc(b) != 0L || qc(b) != 0L)
        out(b) = grid(tc(b), nt) - grid(qc(b), nq)
      b += 1
    }
    out
  }

  /** Persist a DSIR model: the target profile (fixed at build — the
    * target corpus is curated, not streamed) plus the raw profile as
    * the first link of an appendable segment chain; meta carries the
    * bucket count. Atomic [[graft.sources.IndexIO.publish]], so
    * readers never see a torn model.
    */
  def buildDsirIndex(
      target: DataFrame,
      targetTextCol: String,
      raw: DataFrame,
      rawTextCol: String,
      buckets: Int,
      path: String,
      marker: Option[String] = None): Unit = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536], got $buckets")
    val spark = target.sparkSession
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      ngramProfile(target, targetTextCol, buckets).coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/target")
      ngramProfile(raw, rawTextCol, buckets).coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/raw")
      writeDsirMeta(spark, vdir, buckets)
    }
    ()
  }

  /** Append a raw crawl batch to a persisted DSIR model: profiles are
    * ADDITIVE (bucket counts of two corpus slices sum to their union's),
    * so the new immutable segment carries only the batch's own ≤
    * `buckets`-row profile and [[loadDsirRatio]] sums across the chain
    * — a daily append costs one scan of the NEW data, never a rebuild.
    */
  def appendToDsirIndex(
      newRaw: DataFrame, textCol: String, path: String,
      marker: Option[String] = None): Unit = {
    val spark = newRaw.sparkSession
    val b = dsirIndexBuckets(spark, path)
        graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      ngramProfile(newRaw, textCol, b).coalesce(1)
        .write.mode("overwrite").parquet(s"$seg/raw")
      writeDsirMeta(spark, seg, b)
    }
    ()
  }

  /** Retract a previously-appended raw batch from a persisted DSIR
    * model WITHOUT a rebuild: profiles are additive counts, so the
    * retraction segment carries the batch's own profile NEGATED and
    * [[dsirIndexProfiles]]'s chain sum subtracts it exactly — after
    * retracting a batch, the summed raw profile is bit-identical to
    * the profile of the remaining corpus (a zero-sum bucket scores
    * exactly like an absent one under add-one smoothing, so the
    * takedown is invisible to every serving form). One scan of the
    * RETRACTED data only, like the append.
    *
    * Contract: `deletedRaw` must be data that was previously built or
    * appended into this model (the takedown case). Retracting text
    * the model never saw drives bucket counts negative; that is
    * caught loudly at the next [[ratioArray]] load or
    * [[compactDsirIndex]], never served silently.
    */
  def deleteFromDsirIndex(
      deletedRaw: DataFrame, textCol: String, path: String,
      marker: Option[String] = None): Unit = {
    val spark = deletedRaw.sparkSession
    val b = dsirIndexBuckets(spark, path)
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      ngramProfile(deletedRaw, textCol, b)
        .select(col("bucket"), (-col("cnt")).as("cnt"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$seg/raw")
      writeDsirMeta(spark, seg, b)
    }
    ()
  }

  /** Apply one CDC micro-batch's adds AND retractions to a persisted
    * DSIR model as ONE atomic segment. [[deleteFromDsirIndex]] then
    * [[appendToDsirIndex]] as two publishes is NOT crash-safe for a
    * replayed batch: the exactly-once marker can only ride one of
    * them, and a crash between the two replays the whole batch and
    * applies the unmarked half twice — negative counts are not
    * idempotent, so a bucket shared with live data can silently sum
    * to zero and stop scoring. Here the batch's positive and negative
    * profiles are summed into a single net profile (profiles are
    * additive, so the chain sum is bit-identical to the two-segment
    * form) and published with the marker in one
    * [[graft.sources.IndexIO.publishDelta]] — retraction and append
    * land atomically or not at all.
    */
  def applyDsirIndexCdc(
      addedRaw: DataFrame, deletedRaw: DataFrame, textCol: String,
      path: String, marker: Option[String] = None): Unit = {
    val spark = addedRaw.sparkSession
    val b = dsirIndexBuckets(spark, path)
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      ngramProfile(addedRaw, textCol, b)
        .unionByName(ngramProfile(deletedRaw, textCol, b)
          .select(col("bucket"), (-col("cnt")).as("cnt")))
        .groupBy("bucket").agg(sum("cnt").as("cnt"))
        .filter(col("cnt") =!= 0L)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$seg/raw")
      writeDsirMeta(spark, seg, b)
    }
    ()
  }

  /** Collapse an append/retract chain to ONE segment: the summed raw
    * profile (zero-sum buckets dropped — exact, see
    * [[deleteFromDsirIndex]]), the fixed target profile, and the meta
    * carried forward into a fresh full version
    * ([[graft.sources.IndexIO.publish]] — applied-batch markers
    * survive). Serving is identical by construction; what compaction
    * buys is chain LISTING cost (segment count, not data volume — the
    * profile is ≤ `buckets` rows regardless), so the maintainers run
    * it on a segment-count cadence. Fails loudly on a negative summed
    * bucket (retraction of never-appended data) — the
    * [[failOnNegativeCnt]] guard rides the profile and fires inside
    * the same pass that materializes the compacted raw table, no
    * separate probe job. Handles BOTH artifact layouts — ungrouped
    * ([[buildDsirIndex]]) and per-group ([[buildDsirIndexByGroup]]),
    * branching on the stored schema.
    */
  def compactDsirIndex(spark: SparkSession, path: String): Unit = {
    if (graft.sources.IndexIO.segments(spark, path).length <= 1) return
    val b = dsirIndexBuckets(spark, path)
    val grouped = graft.sources.IndexIO.chainTable(spark, path, "raw")
      .exists(_.columns.contains("grp"))
    val (tp, rp) =
      if (grouped) dsirIndexProfilesByGroup(spark, path)
      else dsirIndexProfiles(spark, path)
    graft.sources.IndexIO.publish(spark, path) { nv =>
      tp.coalesce(1).write.mode("overwrite").parquet(s"$nv/target")
      rp.coalesce(1).write.mode("overwrite").parquet(s"$nv/raw")
      writeDsirMeta(spark, nv, b)
    }
    ()
  }

  /** Bucket count of a persisted DSIR model. */
  def dsirIndexBuckets(spark: SparkSession, path: String): Int = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    graft.sources.IndexIO.readRows(spark, s"$vdir/meta").head.getInt(0)
  }

  /** A version's one-row `meta` table (the bucket count), written on the
    * driver.
    */
  private def writeDsirMeta(spark: SparkSession, vdir: String, buckets: Int): Unit =
    graft.sources.IndexIO.writeRows(spark, s"$vdir/meta",
      org.apache.spark.sql.types.StructType.fromDDL("buckets INT NOT NULL"),
      Seq(org.apache.spark.sql.Row(buckets)))

  /** The persisted model's target / summed-raw-chain profiles as
    * DataFrames — the inputs [[importanceScore]] and [[ratioArray]]
    * expect. The raw side folds every appended segment's counts.
    */
  def dsirIndexProfiles(
      spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val tp0 = graft.sources.IndexIO.chainTable(spark, path, "target")
      .getOrElse(throw new IllegalStateException(
        s"DSIR model at $path has no target profile"))
    // a grouped artifact must be read with the ByGroup loader: summing
    // its counts across groups here would silently serve a model no
    // corpus ever had
    require(!tp0.columns.contains("grp"),
      s"DSIR model at $path is PER-GROUP (buildDsirIndexByGroup) — " +
        "load it with dsirIndexProfilesByGroup/loadDsirRatioByGroup")
    val tp = tp0.select(col("bucket"), col("cnt"))
    // zero-sum buckets (an append exactly cancelled by its retraction)
    // are dropped: under add-one smoothing a zero count IS an absent
    // bucket ([[gridLogProb]] coalesces), so the filter is exact and
    // keeps the profile sparse across delete churn
    val rp = graft.sources.IndexIO.chainTable(spark, path, "raw")
      .getOrElse(throw new IllegalStateException(
        s"DSIR model at $path has no raw profile"))
      .groupBy("bucket").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") =!= 0)
    (tp, failOnNegativeCnt(rp, path, Seq("bucket")))
  }

  /** Row-level over-retraction guard on a summed profile: a negative
    * bucket (a [[deleteFromDsirIndex]] retraction of data the model
    * never appended) raises at EVALUATION time, so every consumer of
    * the profile — batch scoring via [[importanceScore]]/
    * [[importanceScoreByGroup]], the dense loaders, AND the pass that
    * materializes a compaction — fails loudly instead of feeding
    * `ln(non-positive)` NaN into `logw`. Costs one `when` over a
    * ≤ `groups × buckets`-row frame.
    */
  private def failOnNegativeCnt(
      profile: DataFrame, path: String, keyCols: Seq[String]): DataFrame =
    profile.withColumn("cnt",
      when(col("cnt") >= 0L, col("cnt")).otherwise(raise_error(format_string(
        s"DSIR model at $path: profile row (%s) has negative summed " +
          "count %s — a retraction removed data the model never saw; " +
          "rebuild from the true corpus",
        concat_ws(", ", keyCols.map(col): _*), col("cnt")))))

  /** Load a persisted model's dense serving ratio (the
    * [[ratioArray]] of its profiles) + bucket count — what
    * [[graft.streaming.Streaming.dsirGate]] serves from.
    */
  def loadDsirRatio(spark: SparkSession, path: String): (Array[Long], Int) = {
    val b = dsirIndexBuckets(spark, path)
    val (tp, rp) = dsirIndexProfiles(spark, path)
    (ratioArray(tp, rp, b), b)
  }

  /** In-row scoring against a [[ratioArray]] model: returns a
    * `struct(n_ngrams long, logw long)` column computed entirely in
    * the row — grams, md5 buckets, and the dense-array lookup run as
    * ONE whole-stage-codegen kernel call
    * ([[graft.functions.DsirScoreExpr]]); no join, no shuffle, no
    * state. Exactly equal to [[importanceScore]] by construction (the
    * same per-bucket grid longs are summed). `n_ngrams = 0` for
    * blank docs (`logw` 0 there — unscorable, gates fail closed).
    */
  def scoreInRow(text: Column, ratio: Array[Long], buckets: Int): Column = {
    require(ratio.length == buckets,
      s"ratio array length ${ratio.length} != buckets $buckets")
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(graft.functions.DsirScoreExpr(
      GraftInternals.toExpression(text), ratio, buckets))
  }

  // ===== per-group (multilingual) form =====
  //
  // One artifact holds a target AND raw profile PER GROUP (language,
  // source, domain …): a multilingual selection pipeline wants "more
  // docs like the French target" judged against the FRENCH crawl
  // distribution, not against a global profile the majority language
  // dominates. Profiles gain a `grp` column; everything else — md5
  // buckets, add-one smoothing, the exact 1e-4 log grid, additive
  // append maintenance — is the ungrouped machinery per group.

  /** [[ngramProfile]] keyed by group: `(grp, bucket, cnt)`, ≤
    * `groups × buckets` rows, additive per group. Rows with a NULL
    * group are dropped — an unidentified-language doc contributes to
    * no language's model (it would otherwise become an unusable null
    * map key in the in-row serving form); the scorers treat the null
    * group as unknown — uniform model in [[importanceScoreByGroup]],
    * fail-closed in [[scoreInRowByGroup]].
    */
  def ngramProfileByGroup(
      df: DataFrame, textCol: String, groupCol: String,
      buckets: Int): DataFrame =
    df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        explode(gramBucketsCol(col(textCol), buckets)).as("bucket"))
      .groupBy("grp", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** [[importanceScore]] against per-group profiles: each doc is
    * scored under ITS OWN group's target/raw multinomials (joined on
    * `(grp, bucket)`, totals per group). A group absent from a profile
    * scores that side as the uniform add-one model (total 0) — still
    * exact grid arithmetic, never null/−∞. Returns
    * `(<idCol>, <groupCol>, n_ngrams, logw)`.
    *
    * Scale shape: identical to the ungrouped scorer — the profiles are
    * ≤ `groups × buckets`-row broadcasts, per-group totals are a
    * ≤ `groups`-row broadcast, scoring stays one explode + map-side
    * partial aggregation per doc.
    */
  def importanceScoreByGroup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      targetProfile: DataFrame,
      rawProfile: DataFrame,
      buckets: Int): DataFrame = {
    val nt = targetProfile.groupBy("grp")
      .agg(sum("cnt").cast("double").as("__nt"))
    val nq = rawProfile.groupBy("grp")
      .agg(sum("cnt").cast("double").as("__nq"))
    docs.select(col(idCol), col(groupCol).cast("string").as("grp"),
        explode(gramBucketsCol(col(textCol), buckets)).as("__b"))
      .join(broadcast(targetProfile.select(col("grp"),
        col("bucket").as("__b"), col("cnt").as("__ct"))), Seq("grp", "__b"), "left")
      .join(broadcast(rawProfile.select(col("grp"),
        col("bucket").as("__b"), col("cnt").as("__cq"))), Seq("grp", "__b"), "left")
      .join(broadcast(nt), Seq("grp"), "left")
      .join(broadcast(nq), Seq("grp"), "left")
      .withColumn("__lp",
        gridLogProb(col("__ct"), coalesce(col("__nt"), lit(0.0)), buckets)
          - gridLogProb(col("__cq"), coalesce(col("__nq"), lit(0.0)), buckets))
      .groupBy(col(idCol), col("grp").as(groupCol))
      .agg(count(lit(1)).as("n_ngrams"), sum(col("__lp")).as("logw"))
  }

  /** Persist a per-group DSIR model: grouped target profile fixed at
    * build, grouped raw profile as the first link of an appendable
    * chain — the [[buildDsirIndex]] layout with a `grp` column.
    */
  def buildDsirIndexByGroup(
      target: DataFrame,
      targetTextCol: String,
      targetGroupCol: String,
      raw: DataFrame,
      rawTextCol: String,
      rawGroupCol: String,
      buckets: Int,
      path: String,
      marker: Option[String] = None): Unit = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536], got $buckets")
    val spark = target.sparkSession
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      ngramProfileByGroup(target, targetTextCol, targetGroupCol, buckets)
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/target")
      ngramProfileByGroup(raw, rawTextCol, rawGroupCol, buckets)
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/raw")
      writeDsirMeta(spark, vdir, buckets)
    }
    ()
  }

  /** Append a raw crawl batch to a per-group model: one grouped
    * profile segment over the NEW data only ([[appendToDsirIndex]]
    * per group — counts are additive within each `(grp, bucket)`).
    */
  def appendToDsirIndexByGroup(
      newRaw: DataFrame, textCol: String, groupCol: String, path: String,
      marker: Option[String] = None): Unit = {
    val spark = newRaw.sparkSession
    val b = dsirIndexBuckets(spark, path)
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      ngramProfileByGroup(newRaw, textCol, groupCol, b)
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/raw")
      writeDsirMeta(spark, seg, b)
    }
    ()
  }

  /** [[deleteFromDsirIndex]] for the per-group artifact: the retracted
    * batch's GROUPED profile negated into one segment — counts are
    * additive within each `(grp, bucket)`, so the chain sum is exactly
    * the remaining corpus's per-group profile. Same contract and same
    * loud-failure guarantees as the ungrouped form.
    */
  def deleteFromDsirIndexByGroup(
      deletedRaw: DataFrame, textCol: String, groupCol: String, path: String,
      marker: Option[String] = None): Unit = {
    val spark = deletedRaw.sparkSession
    val b = dsirIndexBuckets(spark, path)
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      ngramProfileByGroup(deletedRaw, textCol, groupCol, b)
        .select(col("grp"), col("bucket"), (-col("cnt")).as("cnt"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$seg/raw")
      writeDsirMeta(spark, seg, b)
    }
    ()
  }

  /** Stratified Gumbel-top-k: `k` docs WITHOUT replacement PER GROUP
    * (the multilingual selection step — "pick the 400 best-fitting
    * docs per language", never letting the majority language crowd out
    * the rest). The same deterministic md5-fraction Gumbel noise as
    * [[resampleTopK]]; the per-group top-k is a rank-filtered window,
    * which Spark plans as WindowGroupLimit — per-partition group heaps,
    * no global sort. Returns the input columns + `gumbel_key`.
    */
  def resampleTopKPerGroup(
      scored: DataFrame,
      idCol: String,
      groupCol: String,
      k: Int,
      logwCol: String = "logw"): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val g = floor(-log(-log(u)) * lit(10000.0)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
    scored.withColumn("gumbel_key", col(logwCol) + g)
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .drop("__graft_rk")
  }

  /** The per-group model's target / summed-raw-chain profiles —
    * `(grp, bucket, cnt)` each, zero-sum buckets dropped (exact, see
    * [[dsirIndexProfiles]]).
    */
  def dsirIndexProfilesByGroup(
      spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val tp0 = graft.sources.IndexIO.chainTable(spark, path, "target")
      .getOrElse(throw new IllegalStateException(
        s"DSIR model at $path has no target profile"))
    require(tp0.columns.contains("grp"),
      s"DSIR model at $path is UNGROUPED (buildDsirIndex) — " +
        "load it with dsirIndexProfiles/loadDsirRatio")
    val tp = tp0.select(col("grp"), col("bucket"), col("cnt"))
    val rp = graft.sources.IndexIO.chainTable(spark, path, "raw")
      .getOrElse(throw new IllegalStateException(
        s"DSIR model at $path has no raw profile"))
      .groupBy("grp", "bucket").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") =!= 0)
    (tp, failOnNegativeCnt(rp, path, Seq("grp", "bucket")))
  }

  /** Dense per-group serving ratios: group → the group's
    * [[ratioArray]]. Driver-side by contract — `groups × buckets`
    * longs, bounded by the `require` (8 MB at the cap), never
    * corpus-sized. Groups present in EITHER profile get an array
    * (the absent side is the uniform model, exactly as
    * [[importanceScoreByGroup]] scores it).
    */
  def ratioMaps(
      targetProfile: DataFrame,
      rawProfile: DataFrame,
      buckets: Int): Map[String, Array[Long]] = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] for the in-row serving form, got $buckets")
    def grouped(df: DataFrame): Map[String, Array[(Int, Long)]] =
      df.select("grp", "bucket", "cnt").collect()
        .map { r =>
          // a null group cannot key the in-row map literal; the house
          // builders drop null groups ([[ngramProfileByGroup]]), so
          // one here means a hand-built profile — reject it clearly
          require(!r.isNullAt(0),
            "ratioMaps: profile has a NULL group row — null-group docs " +
              "belong to no group's model (ngramProfileByGroup drops them)")
          require(r.getLong(2) >= 0L,
            s"ratioMaps: group ${r.getString(0)} bucket ${r.getLong(1)} has " +
              s"negative count ${r.getLong(2)}")
          (r.getString(0), (r.getLong(1).toInt, r.getLong(2)))
        }
        .groupBy(_._1).map { case (g, rows) => g -> rows.map(_._2) }
    val tg = grouped(targetProfile)
    val rg = grouped(rawProfile)
    val groups = (tg.keySet ++ rg.keySet).toSeq.sorted
    require(groups.size.toLong * buckets <= (1L << 20),
      s"ratioMaps: ${groups.size} groups x $buckets buckets exceeds the " +
        "2^20-entry in-row literal cap; use importanceScoreByGroup")
    groups.map { g =>
      val tc = new Array[Long](buckets)
      val qc = new Array[Long](buckets)
      tg.getOrElse(g, Array.empty).foreach { case (b, c) => tc(b) = c }
      rg.getOrElse(g, Array.empty).foreach { case (b, c) => qc(b) = c }
      g -> denseRatio(tc, qc, buckets)
    }.toMap
  }

  /** Load a per-group model's dense serving ratios + bucket count. */
  def loadDsirRatioByGroup(
      spark: SparkSession, path: String): (Map[String, Array[Long]], Int) = {
    val b = dsirIndexBuckets(spark, path)
    val (tp, rp) = dsirIndexProfilesByGroup(spark, path)
    (ratioMaps(tp, rp, b), b)
  }

  /** In-row per-group scoring: the group→ratio model map rides to
    * executors as a plan reference, the row's own group picks its
    * array, and the gram scoring is [[scoreInRow]]'s codegen kernel
    * ([[graft.functions.DsirScoreByGroupExpr]]) — no join, no shuffle,
    * no state. A row whose group the model doesn't know gets a NULL
    * `logw` (the map lookup misses), so gates FAIL CLOSED on novel
    * groups — the difference from [[importanceScoreByGroup]]'s
    * uniform-model scoring is deliberate: a gate must not pass a
    * language it has no model for.
    */
  def scoreInRowByGroup(
      text: Column, group: Column,
      ratios: Map[String, Array[Long]], buckets: Int): Column = {
    require(ratios.nonEmpty, "scoreInRowByGroup: empty ratio map")
    ratios.foreach { case (g, a) =>
      require(a.length == buckets,
        s"scoreInRowByGroup: group $g ratio length ${a.length} != buckets $buckets")
    }
    import org.apache.spark.sql.GraftInternals
    GraftInternals.toColumn(graft.functions.DsirScoreByGroupExpr(
      GraftInternals.toExpression(text),
      GraftInternals.toExpression(group.cast("string")), ratios, buckets))
  }
}
