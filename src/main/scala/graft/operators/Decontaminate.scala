package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark decontamination for LLM training corpora: flag training
  * documents that share word n-grams with an evaluation/benchmark set,
  * so eval-set leakage can be dropped (or down-weighted) before
  * training. This is the standard n-gram collision check (e.g. GPT-3
  * app. C / PaLM-style 8-gram overlap), expressed Spark-first.
  *
  * Beyond the reference surface (SURVEY.md §2.4 — the reference has no
  * corpus-curation layer); same shingle unit as
  * [[graft.operators.Dedup.ngramJaccard]].
  *
  * Scale design (the asymmetry IS the design): the training corpus is
  * ~100 TB but eval benchmarks are MBs. So the eval side is collapsed
  * to DISTINCT 64-bit shingle hashes and broadcast; the train side is
  * ONE scan — explode distinct-per-doc shingles, hash, broadcast-probe,
  * partial-count — and the only shuffle carries one `(doc_id, counts)`
  * row per contaminated-or-not document (map-side partial agg), never
  * text, never shingle strings. With `broadcastEval = false` the same
  * plan degrades gracefully to a hash join on the 8-byte key for
  * eval sets too big to broadcast.
  */
object Decontaminate {

  /** Per-training-doc n-gram collision stats against `eval`.
    *
    * Returns one row per CONTAMINATED train doc (≥ 1 shared n-gram):
    * `(<idCol>, n_shared, n_shingles, contamination)` where `n_shared`
    * counts the doc's distinct n-grams that occur anywhere in the eval
    * set, `n_shingles` its distinct n-grams, and `contamination` the
    * 4-decimal-floored ratio. Docs shorter than `n` tokens have no
    * shingles and cannot be flagged — by construction, matching the
    * n-gram-collision definition.
    */
  def ngramOverlap(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      broadcastEval: Boolean = true): DataFrame = {
    val trainShingles = train
      .select(col(idCol), explode(TextFunctions.shingles(col(textCol), n)).as("__s"))
      .select(col(idCol), xxhash64(col("__s")).as("__h"))
    val evalHashes = eval
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("__s"))
      .select(xxhash64(col("__s")).as("__h"))
      .distinct()
      .withColumn("__hit", lit(1))
    val evalSide = if (broadcastEval) broadcast(evalHashes) else evalHashes
    // one scan of train: left-probe the eval set, then a single partial
    // aggregation keyed by doc id; count(__hit) counts non-null = matches
    trainShingles
      .join(evalSide, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .select(
        col(idCol),
        col("n_shared"),
        col("n_shingles"),
        (floor(col("n_shared") * lit(10000.0) / col("n_shingles")) / lit(10000.0))
          .as("contamination"))
  }

  /** [[ngramOverlap]] with a Bloom-filter prefilter — IDENTICAL output
    * (Bloom has no false negatives, and false positives die in the
    * exact confirm join), different constant factors where they matter
    * at 100 TB:
    *
    *  - the eval set ships as a Bloom filter at ~1.2 bytes per shingle
    *    (fpp 1e-3) instead of a broadcast-hash-join table at ~16+ —
    *    a 100M-shingle eval suite is a ~150 MB broadcast instead of a
    *    multi-GB one that would force the join to a full shuffle;
    *  - membership is tested INSIDE the scan projection on the doc's
    *    shingle-hash array, so a clean document (the overwhelming
    *    majority) is dropped by a scan-local filter before the explode,
    *    the join operator, or the aggregation hash map ever see it —
    *    the per-doc agg then runs only on the ~fpp-sized candidate set.
    *
    * The exact confirm join probes the true hash set with only the
    * bloom-hit shingles, so the output matches [[ngramOverlap]] even
    * when the filter lies.
    *
    * `fpp` is PER SHINGLE; a doc of s shingles false-positives at
    * ~s·fpp, so keep fpp ≪ 1/avg_shingles or the candidate set (and
    * the confirm join) inflates by that factor — measured in
    * tools/BloomStress: fpp 1e-3 on 33-shingle docs let 3.3% of a
    * clean 3M-doc corpus through; 1e-5 costs only ~2.4 bits/shingle
    * more and closes it. Wall-clock on a single box is scan-bound and
    * ~parity with the exact path; what the bloom buys at cluster scale
    * is the broadcast (a few MiB vs a multi-hundred-MB hash relation
    * for a GB-scale eval suite) and an aggregation keyed only by
    * candidates instead of every train doc.
    */
  def ngramOverlapBloom(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      fpp: Double = 1e-5): DataFrame = {
    val evalSh = eval
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("__s"))
      .select(xxhash64(col("__s")).as("__h"))
    // size the filter from the NON-distinct stream: sum(size(...)) is a
    // scan-local aggregate (no distinct exchange), and overestimating
    // items only lowers the effective fpp. Bloom inserts are idempotent,
    // so the build also skips the distinct — stat.bloomFilter is one
    // shuffle-free treeAggregate over the eval scan.
    val bound = eval
      .select(coalesce(sum(size(TextFunctions.shingles(col(textCol), n))), lit(0L)))
      .head().getLong(0)
    val bloom = evalSh.stat.bloomFilter("__h", math.max(bound, 1L), fpp)
    // shingle + hash + probe as TWO NATIVE EXPRESSIONS in one scan
    // projection (ShinglesExpr slices token bytes out of the Tungsten
    // string; BloomHitsExpr hashes those bytes in place — no
    // UTF8String->String decode anywhere, unlike any UDF form, and the
    // whole chain stays in whole-stage codegen; measured in
    // tools/BloomStress). Only the bloom hits ever materialize.
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    val bloomHits = (sh: Column) =>
      toColumn(graft.functions.BloomHitsExpr(toExpression(sh), bloom))
    val candidates = train
      .select(col(idCol), TextFunctions.shingles(col(textCol), n).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol), size(col("__sh")).cast("long").as("n_shingles"),
        bloomHits(col("__sh")).as("__cand"))
      .filter(size(col("__cand")) > 0) // clean docs stop here, pre-shuffle
    // exact confirm with the BUILD SIDE REVERSED: the candidate set is
    // ~(contamination + fpp)-sized, so broadcast IT and stream the eval
    // scan past it — never a distinct-exchange or a multi-million-entry
    // broadcast relation of the full eval hash set (which would re-pay
    // exactly the cost the bloom exists to avoid; measured 15 s -> 7 s
    // in tools/BloomStress). distinct() collapses repeated eval
    // occurrences AFTER the match, when rows are already candidate-few.
    //
    // The sizing argument above assumes contamination is small; an
    // adversarially dirty corpus (a crawl embedding the benchmark
    // wholesale) makes the candidate set proportional to the CORPUS and
    // an unconditional broadcast a driver/executor OOM. So count the
    // candidate hashes first — the count runs the same scan the confirm
    // join needs anyway, and the materialized candidates are reused via
    // localCheckpoint, so the corpus is still shingled exactly once —
    // and fall back to a plain hash join on the 8-byte key when the
    // estimate exceeds the session broadcast threshold (mirrors
    // SimilaritySearch.querySideOversized; adversarial run in
    // tools/BloomStress, numbers in PLANS.md).
    val cand = candidates.localCheckpoint(true)
    // size the broadcast from MEASURED per-row width, not a constant:
    // the exploded row carries (idCol, n_shingles, hash), and idCol can
    // be a 300-byte URL — a flat 24 B/row estimate under-counts by 10x
    // on exactly the corpora (web crawls) this fallback protects. One
    // aggregate over the checkpointed candidates measures both.
    val idBytes: Column = cand.schema(idCol).dataType match {
      case org.apache.spark.sql.types.StringType => length(col(idCol)).cast("long") + 20L
      case _ => lit(8L)
    }
    val candBytes = cand
      .agg(coalesce(sum(size(col("__cand")).cast("long") * (idBytes + lit(16L))), lit(0L)))
      .head().getLong(0)
    val conf = train.sparkSession.sessionState.conf
    val cap = if (conf.autoBroadcastJoinThreshold > 0) conf.autoBroadcastJoinThreshold
      else 10L << 20
    val candEx0 = cand
      .select(col(idCol), col("n_shingles"), explode(col("__cand")).as("__h"))
    val candEx = if (candBytes <= cap) broadcast(candEx0) else candEx0
    evalSh.join(candEx, "__h")
      .select(col(idCol), col("n_shingles"), col("__h"))
      .distinct() // a pure-false-positive doc vanishes here, like the exact path
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .select(
        col(idCol),
        col("n_shared"),
        col("n_shingles"),
        (floor(col("n_shared") * lit(10000.0) / col("n_shingles")) / lit(10000.0))
          .as("contamination"))
  }

  /** Spark's `xxhash64` on a string column, JVM-side: same XXH64 over
    * the UTF-8 bytes with the expression's default seed 42, so hashes
    * computed inside a kernel UDF join exactly against hashes computed
    * by the codegen expression (DecontaminateSuite pins the equality).
    */
  private[graft] def sparkXxhash64(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  /** Asymmetric CONTAINMENT check: fraction of an eval item's n-grams
    * found in a training doc — `|train ∩ eval_item| / |eval_item|` per
    * (train, eval) pair. This is the contamination geometry Jaccard
    * misses: a 200-token benchmark item pasted into a 100k-token web
    * page has Jaccard ≈ 0 but containment 1.0. Returns
    * `(id_train, id_eval, n_shared, n_eval_shingles, containment)` for
    * pairs at or above `minContainment` (4-decimal-floored ratio).
    *
    * Scale shape mirrors [[ngramOverlapPairs]]: eval shingles (with
    * their per-item counts riding along) broadcast as 8-byte hashes;
    * one train scan; the only shuffle is the matched-pair aggregation
    * on bare id pairs with map-side partials.
    */
  def containmentPairs(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minContainment: Double = 0.5,
      broadcastEval: Boolean = true): DataFrame = {
    val trainShingles = train
      .select(col(idCol).as("id_train"), explode(TextFunctions.shingles(col(textCol), n)).as("__s"))
      .select(col("id_train"), xxhash64(col("__s")).as("__h"))
    val evalShingles = eval
      .select(col(idCol).as("id_eval"), TextFunctions.shingles(col(textCol), n).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("id_eval"), size(col("__sh")).cast("long").as("n_eval_shingles"),
        explode(col("__sh")).as("__s"))
      .select(col("id_eval"), col("n_eval_shingles"), xxhash64(col("__s")).as("__h"))
    val evalSide = if (broadcastEval) broadcast(evalShingles) else evalShingles
    trainShingles
      .join(evalSide, "__h")
      .groupBy(col("id_train"), col("id_eval"), col("n_eval_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("containment",
        floor(col("n_shared") * lit(10000.0) / col("n_eval_shingles")) / lit(10000.0))
      .filter(col("containment") >= minContainment)
      .select("id_train", "id_eval", "n_shared", "n_eval_shingles", "containment")
  }

  /** Persist an eval/benchmark set as a DECONTAMINATION INDEX: the
    * distinct 64-bit shingle hashes plus the shingle width `n`,
    * published atomically via [[graft.sources.IndexIO]]. Every
    * decontamination job (batch or the streaming gate) resolves the
    * artifact instead of re-shingling the benchmark suite — and when
    * the suite grows (a new benchmark added), [[appendToEvalIndex]]
    * chains the new hashes as an immutable segment with no rewrite.
    * Benchmark text never leaves the build job; the artifact is
    * hashes only.
    */
  def buildEvalIndex(
      eval: DataFrame, textCol: String, path: String, n: Int = 8,
      marker: Option[String] = None): Unit = {
    val spark = eval.sparkSession
    import spark.implicits._
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      evalProfile(eval, textCol, n)
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/hashes")
      Seq(Tuple1(n)).toDF("n")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/meta")
    }
    ()
  }

  /** A benchmark slice's shingle-hash profile WITH occurrence counts:
    * `(h, cnt)`. The counts are what make the artifact RETRACTABLE —
    * they are additive across corpus slices (like the DSIR n-gram
    * profiles), so a withdrawn benchmark's negative profile subtracts
    * exactly and a hash stays live while ANY remaining benchmark
    * still contributes occurrences. A plain distinct-hash set cannot
    * support takedowns: deleting a shared hash would un-protect the
    * benchmarks that still carry it.
    */
  private def evalProfile(eval: DataFrame, textCol: String, n: Int): DataFrame =
    eval
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("__s"))
      .groupBy(xxhash64(col("__s")).as("h"))
      .agg(count(lit(1)).as("cnt"))

  /** Append new eval items to a [[buildEvalIndex]] artifact: shingle
    * width comes from the stored meta, the new distinct hashes land in
    * an immutable `publishDelta` segment (readers union the chain;
    * duplicate hashes across segments are collapsed at read time).
    */
  def appendToEvalIndex(
      newEval: DataFrame, textCol: String, path: String,
      marker: Option[String] = None): Unit = {
    val spark = newEval.sparkSession
    import spark.implicits._
    val n = evalIndexN(spark, path)
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      evalProfile(newEval, textCol, n)
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/hashes")
      Seq(Tuple1(n)).toDF("n")
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/meta")
    }
    ()
  }

  /** Withdraw a benchmark from a [[buildEvalIndex]] artifact WITHOUT a
    * rebuild — the takedown path (a benchmark retired from the suite
    * must stop gating training data). Shingle-occurrence counts are
    * additive, so the retraction segment carries the withdrawn rows'
    * profile NEGATED and [[evalIndexHashes]]' chain sum keeps a hash
    * live only while its summed count stays positive — a hash shared
    * with a still-live benchmark keeps protecting it, one unique to
    * the withdrawn benchmark dies. One scan of the WITHDRAWN text
    * only, never the suite.
    *
    * Contract (same as [[graft.operators.Dsir.deleteFromDsirIndex]]):
    * `withdrawnEval` must be rows previously built or appended into
    * this index. Retracting text the index never saw drives counts
    * negative — caught loudly at the next [[compactEvalIndex]].
    */
  def deleteFromEvalIndex(
      withdrawnEval: DataFrame, textCol: String, path: String,
      marker: Option[String] = None): Unit = {
    val spark = withdrawnEval.sparkSession
    import spark.implicits._
    val n = evalIndexN(spark, path)
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      evalProfile(withdrawnEval, textCol, n)
        .select(col("h"), (-col("cnt")).as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/hashes")
      Seq(Tuple1(n)).toDF("n")
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/meta")
    }
    ()
  }

  /** Apply one CDC micro-batch's added AND withdrawn benchmark items
    * to a persisted eval index as ONE atomic segment — the same
    * crash-safety argument as
    * [[graft.operators.Dsir.applyDsirIndexCdc]]: two publishes can
    * only carry the exactly-once marker on one, and a replayed batch
    * re-applies the unmarked retraction, silently zeroing a hash a
    * surviving benchmark still needs. Occurrence counts are additive,
    * so the batch's net profile (positive adds + negated withdrawals)
    * in a single marked [[graft.sources.IndexIO.publishDelta]] sums
    * identically to the two-segment form.
    */
  def applyEvalIndexCdc(
      addedEval: DataFrame, withdrawnEval: DataFrame, textCol: String,
      path: String, marker: Option[String] = None): Unit = {
    val spark = addedEval.sparkSession
    import spark.implicits._
    val n = evalIndexN(spark, path)
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      evalProfile(addedEval, textCol, n)
        .unionByName(evalProfile(withdrawnEval, textCol, n)
          .select(col("h"), (-col("cnt")).as("cnt")))
        .groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") =!= 0L)
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/hashes")
      Seq(Tuple1(n)).toDF("n")
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/meta")
    }
    ()
  }

  /** Shingle width of a persisted eval index (from the resolved
    * version's meta). */
  def evalIndexN(spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    graft.sources.IndexIO.readTable(spark, s"$vdir/meta").head().getInt(0)
  }

  /** Collapse an [[appendToEvalIndex]] chain back to ONE segment: the
    * distinct union of the chain's hashes republishes atomically (the
    * applied-batch markers carry forward — [[graft.sources.IndexIO]]'s
    * compaction contract), so a benchmark suite maintained from a
    * stream ([[graft.streaming.Streaming.maintainEvalIndex]]) never
    * degrades its gate's broadcast build into a K-segment union read.
    * Results are identical by construction: readers take the distinct
    * union either way.
    */
  def compactEvalIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    if (graft.sources.IndexIO.segments(spark, path).length <= 1) return
    val n = evalIndexN(spark, path)
    val chain = rawEvalChain(spark, path)
    graft.sources.IndexIO.publish(spark, path) { nv =>
      // fail loudly on a negative summed count (retraction of text the
      // index never saw) inside the same pass that materializes the
      // compacted table — mirrors Dsir.compactDsirIndex's guard
      val summed =
        if (chain.columns.contains("cnt"))
          chain.groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))
            .withColumn("cnt", when(col("cnt") < 0,
              raise_error(concat(lit("eval index at "), lit(path),
                lit(" has a negative hash count — deleteFromEvalIndex " +
                  "retracted text that was never indexed")))
              .cast("long")).otherwise(col("cnt")))
            .filter(col("cnt") > 0)
        else chain.select(col("h")).distinct() // pre-counts layout
      summed.coalesce(1).write.mode("overwrite").parquet(s"$nv/hashes")
      Seq(Tuple1(n)).toDF("n")
        .coalesce(1).write.mode("overwrite").parquet(s"$nv/meta")
    }
    ()
  }

  /** The raw hash chain, normalized across layout generations: a
    * legacy pre-counts segment (`h` only, distinct hashes) mixed with
    * counted `(h, cnt)` segments — the shape a counted append onto an
    * old artifact creates — reads each legacy hash as ONE occurrence
    * (`coalesce(cnt, 1)`), so upgrading an existing index never
    * bricks its readers. Distinct-hash semantics make 1 the exact
    * lower bound of what the legacy segment contributed; a retraction
    * can therefore only under-release (hash stays live), never
    * un-protect a surviving benchmark.
    */
  private def rawEvalChain(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val chain = graft.sources.IndexIO
      .chainTable(spark, path, "hashes", allowMissingColumns = true)
      .getOrElse(throw new IllegalStateException(
        s"eval index at $path has no hashes table"))
    if (chain.columns.contains("cnt"))
      chain.withColumn("cnt", coalesce(col("cnt"), lit(1L)))
    else chain
  }

  /** The LIVE hashes of an eval index chain: for the count-carrying
    * layout, a hash serves while its summed occurrence count across
    * the append/retraction chain stays positive (see
    * [[deleteFromEvalIndex]]); a pre-counts chain (older artifact)
    * reads as the plain distinct union.
    */
  def evalIndexHashes(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val chain = rawEvalChain(spark, path)
    if (chain.columns.contains("cnt"))
      chain.groupBy(col("h")).agg(sum(col("cnt")).as("__c"))
        .filter(col("__c") > 0).select(col("h"))
    else chain.select(col("h")).distinct()
  }

  /** Pair-level attribution: which eval doc contaminated which train
    * doc, with the shared-shingle count — for auditing the flags
    * `ngramOverlap` raises. Costs a shuffle keyed by `(train, eval)`
    * doc-id pairs (still never text), so run it on the flagged subset,
    * not the full corpus.
    */
  def ngramOverlapPairs(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      broadcastEval: Boolean = true): DataFrame = {
    val trainShingles = train
      .select(col(idCol).as("id_train"), explode(TextFunctions.shingles(col(textCol), n)).as("__s"))
      .select(col("id_train"), xxhash64(col("__s")).as("__h"))
    val evalShingles = eval
      .select(col(idCol).as("id_eval"), explode(TextFunctions.shingles(col(textCol), n)).as("__s"))
      .select(col("id_eval"), xxhash64(col("__s")).as("__h"))
    val evalSide = if (broadcastEval) broadcast(evalShingles) else evalShingles
    trainShingles
      .join(evalSide, "__h")
      .groupBy(col("id_train"), col("id_eval"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The EVAL-SIDE contamination view — the report a release review
    * reads: [[ngramOverlap]] flags TRAIN docs to drop, this ranks
    * EVAL items to DISTRUST. One row per contaminated eval item:
    * how many distinct training documents share an n-gram with it
    * (`n_train_docs`), the total shared-shingle collision count
    * (`n_collisions`), and the worst single offender's share
    * (`max_shared` — a 1-doc near-copy reads very differently from
    * 50 docs sharing one idiom). Rides [[ngramOverlapPairs]]' hashed
    * equi-join unchanged; the rollup is one partial-aggregable
    * groupBy on the (train, eval) pair table.
    */
  def contaminationReport(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      broadcastEval: Boolean = true): DataFrame =
    ngramOverlapPairs(train, eval, idCol, textCol, n, broadcastEval)
      .groupBy(col("id_eval"))
      .agg(
        countDistinct(col("id_train")).as("n_train_docs"),
        sum(col("n_shared")).as("n_collisions"),
        max(col("n_shared")).as("max_shared"))
}
