package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions, VectorFunctions}

/** Deduplication operators for large-scale training-data pipelines:
  * exact, n-gram Jaccard (inverted index), MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. Beyond the reference's surface (it has no
  * dedup — SURVEY.md §2.4); required by the build spec as first-class
  * pipeline operators.
  *
  * == Scale design ==
  * Every variant avoids the O(n²) all-pairs comparison:
  *  - exact: shuffle on a 128-bit fingerprint (bytes shuffled per row ≈
  *    40, never the document body twice);
  *  - ngramJaccard: inverted-index self-equi-join on shingles — only
  *    docs *sharing* a shingle ever meet, and Catalyst plans a shuffled
  *    hash join on the shingle key;
  *  - minhashLsh: constant-size signatures (k longs/doc), banding turns
  *    near-dup candidacy into an equi-join on (band, bandHash) — the
  *    standard sub-quadratic LSH pipeline; candidates are then verified
  *    exactly, so the final output has no false positives;
  *  - simhash: 64-bit signatures, pigeonhole blocking (hamming <= h
  *    implies at least one of h+1 chunks equal) → equi-join on chunks;
  *  - embedding near-dup: brute force (codegen'd dot product) for exact
  *    results, plus a random-hyperplane LSH variant as the scale path.
  */
object Dedup {

  /** Exact dedup: keep the first row (smallest `orderCol`) per
    * whitespace/case-normalized text fingerprint. The shuffle key is the
    * 32-hex-char MD5, not the document body.
    */
  def exact(df: DataFrame, textCol: String, orderCol: String): DataFrame =
    exactBy(df, textCol, Seq(col(orderCol).asc))

  /** Exact dedup with an explicit keep policy: the first row per
    * fingerprint under `keepOrder` survives — e.g.
    * `Seq(col("quality").desc, col("doc_id").asc)` keeps the
    * highest-quality copy with a deterministic tie-break. Always end the
    * ordering with a unique column or survivors are partition-order
    * dependent.
    */
  def exactBy(df: DataFrame, textCol: String, keepOrder: Seq[Column]): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val w = Window.partitionBy(fp).orderBy(keepOrder: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** All pairs (idA < idB) whose word-`n`-gram-shingle Jaccard similarity
    * is >= `threshold`, via an inverted-index self-join. Output:
    * `(doc_a, doc_b, intersection, size_a, size_b, jaccard)`.
    *
    * For very large corpora combine with [[minhashLsh]] (this variant's
    * cost grows with the total number of co-occurring shingle pairs; LSH
    * caps it by signature banding), or use [[ngramJaccardPrefix]] — the
    * classic prefix-filter refinement (PAPERS.md, set-similarity-join
    * line), identical output. On heavily duplicated corpora run
    * [[exact]] FIRST: k copies of a document inflate every posting list
    * k× and the co-occurrence join k²× (measured in tools/ScaleStress),
    * while exact dedup collapses them in one cheap fingerprint shuffle —
    * the composition `pipeline_clean_corpus` demonstrates the order.
    */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame = {
    val sh = df
      .select(col(idCol).as("__id"), TextFunctions.shingles(col(textCol), n).as("__sh"))
      .filter(size(col("__sh")) > 0)
    // posting lists keyed by xxhash64 of the shingle: the self-join
    // shuffles and compares 8-byte longs instead of ~n-word strings. A
    // cross-shingle collision would need two distinct shingles hashing
    // equal AND co-occurring in the same two documents (~|shingles|²/2⁶⁵
    // — immaterial against the exact-count guarantee at any real corpus
    // size, and the oracle compare would surface it).
    val tok = sh.select(col("__id"), explode(col("__sh")).as("__s"))
      .select(col("__id"), xxhash64(col("__s")).as("__h"))
    val counts = sh.select(col("__id"), size(col("__sh")).as("__n"))
    // shuffle-hash instead of sort-merge: the posting join's value is in
    // the per-key expansion, not ordering — two full sorts of the
    // exploded token table would dominate the stage (measured 36s vs
    // 41-60s on the 10x stress corpus). The per-partition build map
    // assumes bounded posting lists; [[ngramJaccardAuto]] routes
    // hot-shingle corpora to the prefix variant, whose rarest-first
    // prefixes bound the lists by construction.
    val inter = tok.as("a")
      .join(tok.hint("shuffle_hash").as("b"),
        col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .agg(count(lit(1)).as("intersection"))
    inter
      .join(counts.as("ca"), col("doc_a") === col("ca.__id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.__id"))
      .select(
        col("doc_a"), col("doc_b"), col("intersection"),
        col("ca.__n").as("size_a"), col("cb.__n").as("size_b"),
        (col("intersection").cast("double") /
          (col("ca.__n") + col("cb.__n") - col("intersection"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact set-similarity join with prefix filtering plus the PPJoin
    * length and positional refinements (the classic pipeline from the
    * set-similarity-join literature — PAPERS.md): identical output to
    * [[ngramJaccard]], far fewer candidate pairs.
    *
    * Shingles are globally ordered by (frequency, value) — rarest first —
    * and each document only indexes its first `|S| - ceil(t*|S|) + 1`
    * shingles. For any pair with Jaccard >= t the smallest common shingle
    * under that order provably lands in BOTH prefixes (if it didn't, the
    * doc would hold >= prefix-length rarer non-shared shingles, capping
    * the overlap below t*|S| — contradiction), so the candidate set stays
    * complete; candidates are then verified on the full shingle sets.
    *
    * Two provably output-identical prunes run INSIDE the posting join,
    * before the dedup + verify stages ever see the pair:
    *
    *  - LENGTH filter: Jaccard >= t forces
    *    `intersection >= t * max(|A|,|B|)` while
    *    `intersection <= min(|A|,|B|)`, so any true pair satisfies
    *    `min >= t * max`. Size-mismatched docs sharing one rare shingle
    *    drop at the join.
    *  - POSITIONAL filter: a true pair's overlap is
    *    `O >= t/(1+t) * (|A|+|B|)` (rewrite Jaccard with
    *    `union = |A|+|B|-O`). For its smallest common shingle — at
    *    prefix ranks i in A, j in B — every shared shingle sits at or
    *    after those ranks, so `O <= 1 + min(|A|-i, |B|-j)`. Candidates
    *    whose upper bound can't reach the overlap threshold drop; the
    *    smallest-common-shingle pairing always survives for a true
    *    pair, so completeness holds. (Each joined token pair is tested
    *    independently — keep-if-ANY-passes, a superset of canonical
    *    PPJoin's first-common-token test, hence safe.)
    *
    * Both prunes compare integers against double products; `FpSlack`
    * absorbs float rounding so a boundary pair can never be lost to a
    * half-ulp (prunes may only ever KEEP extra pairs — verification is
    * exact).
    *
    * Scale shape: the inverted index shrinks by ~t, and because the
    * ordering puts FREQUENT shingles last, the quadratic per-shingle
    * pair blowup concentrates on rare shingles with tiny posting lists;
    * the length + positional prunes then cut the surviving candidates
    * again before the (shuffling) dropDuplicates and the verify join.
    * Costs one extra frequency aggregation + a per-doc rank window.
    */
  private val FpSlack = 1e-6

  def ngramJaccardPrefix(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val sh = df
      .select(col(idCol).as("__id"), TextFunctions.shingles(col(textCol), n).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val tok = sh.select(col("__id"), size(col("__sh")).as("__n"), explode(col("__sh")).as("__s"))
    val freq = tok.groupBy(col("__s")).agg(count(lit(1)).as("__f"))
    val w = Window.partitionBy(col("__id")).orderBy(col("__f").asc, col("__s").asc)
    val prefix = tok.join(freq, "__s")
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
    val lengthFilter =
      col("a.__n") * lit(threshold) <= col("b.__n") + lit(FpSlack) &&
        col("b.__n") * lit(threshold) <= col("a.__n") + lit(FpSlack)
    val overlapLowerBound =
      lit(threshold / (1.0 + threshold)) * (col("a.__n") + col("b.__n"))
    val overlapUpperBound = lit(1) +
      least(col("a.__n") - col("a.__rank"), col("b.__n") - col("b.__rank"))
    val positionalFilter = overlapUpperBound >= overlapLowerBound - lit(FpSlack)
    val cands = prefix.as("a")
      .join(prefix.hint("shuffle_hash").as("b"),
        col("a.__s") === col("b.__s") && col("a.__id") < col("b.__id") &&
          lengthFilter && positionalFilter)
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .join(sh.select(col("__id"), col("__sh").as("__sha")), col("doc_a") === col("__id"))
      .drop("__id")
      .join(sh.select(col("__id"), col("__sh").as("__shb")), col("doc_b") === col("__id"))
      .withColumn("intersection", size(array_intersect(col("__sha"), col("__shb"))).cast("long"))
      .withColumn("size_a", size(col("__sha")))
      .withColumn("size_b", size(col("__shb")))
      .withColumn("jaccard",
        col("intersection").cast("double") /
          (col("size_a") + col("size_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "intersection", "size_a", "size_b", "jaccard")
  }

  /** Adaptive set-similarity self-join: probes the corpus for hot
    * shingles and picks [[ngramJaccard]] (plain inverted index — wins
    * when posting lists are short) or [[ngramJaccardPrefix]] (prefix
    * filter — wins once a posting list passes the quadratic-blowup
    * knee). The two variants are output-identical (DedupSuite), so the
    * choice is purely physical — the same adaptive spirit as AQE's
    * join-strategy replanning, done at operator level because the knee
    * depends on data Spark's stats don't model (co-occurrence skew).
    *
    * The probe hash-samples `probeFraction` of the docs (deterministic
    * md5 buckets), counts shingle frequencies, and scales the hottest
    * posting list back up. NOTE the probe is an EAGER job at call time
    * (like IneqJoin's range pruning): two small scans buy the right
    * plan for the dominant join. `hotPostingCutoff` comes from the
    * measured crossover in tools/PrefixBench (see PLANS.md).
    */
  def ngramJaccardAuto(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      probeFraction: Double = 0.02, hotPostingCutoff: Long = 2000L): DataFrame = {
    val sample = Sampling.hashSample(
      df.select(col(idCol).as("__id"), col(textCol).as("__t")), "__id", probeFraction)
    val maxPosting = sample
      .select(explode(TextFunctions.shingles(col("__t"), n)).as("__s"))
      .groupBy(xxhash64(col("__s"))).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c"))).collect()(0) match {
        case row if row.isNullAt(0) => 0L
        case row => row.getLong(0)
      }
    val estHottest = (maxPosting / probeFraction).toLong
    if (estHottest > hotPostingCutoff)
      ngramJaccardPrefix(df, idCol, textCol, n, threshold)
    else
      ngramJaccard(df, idCol, textCol, n, threshold)
  }

  /** Cross-corpus set-similarity join: pairs `(left id, right id)` whose
    * shingle Jaccard is >= `threshold`, between two different tables
    * (the two-sided generalization of the self-join [[ngramJaccard]];
    * e.g. dedup of an incoming batch against an existing corpus without
    * re-pairing the corpus with itself). Same inverted-index shape; the
    * posting-list join only pairs left docs with right docs.
    */
  def ngramJaccardJoin(
      left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame = {
    def prep(df: DataFrame, id: String, text: String) = df
      .select(col(id).as("__id"), TextFunctions.shingles(col(text), n).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val la = prep(left, leftId, leftText)
    val rb = prep(right, rightId, rightText)
    val ltok = la.select(col("__id").as("__ida"), explode(col("__sh")).as("__s"))
    val rtok = rb.select(col("__id").as("__idb"), explode(col("__sh")).as("__s"))
    val inter = ltok.join(rtok.hint("shuffle_hash"), "__s")
      .groupBy(col("__ida").as("id_left"), col("__idb").as("id_right"))
      .agg(count(lit(1)).as("intersection"))
    inter
      .join(la.select(col("__id"), size(col("__sh")).as("size_left")),
        col("id_left") === col("__id")).drop("__id")
      .join(rb.select(col("__id"), size(col("__sh")).as("size_right")),
        col("id_right") === col("__id")).drop("__id")
      .withColumn("jaccard",
        col("intersection").cast("double") /
          (col("size_left") + col("size_right") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select("id_left", "id_right", "intersection", "size_left", "size_right", "jaccard")
  }

  /** Inter-document LINE-level dedup (the C4-style preprocessing step):
    * every distinct non-empty trimmed line is kept only at its FIRST
    * occurrence across the corpus — ordered by (id, line position), so
    * the earliest document wins and a line repeated later in the SAME
    * document drops too. Documents are reassembled from their surviving
    * lines in original order; documents that lose every line drop.
    *
    * Scale shape: explode to (line, id, pos), one hash shuffle
    * partitioned by the line text, `row_number = 1` — which Spark plans
    * as `WindowGroupLimit`, collapsing each line's occurrence list
    * map-side before the exchange — then one shuffle back by id to
    * reassemble. Two shuffles of the line corpus total; no joins, no
    * driver state. Boilerplate lines (the common case this exists for)
    * are hot keys, but WindowGroupLimit's partial mode means only ONE
    * row per (line, map partition) reaches the reduce side, so a line
    * shared by every document costs #partitions rows, not #docs.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ls = df.select(col(idCol).as("__id"),
      posexplode(TextFunctions.lines(col(textCol))).as(Seq("__pos", "__line")))
    val w = Window.partitionBy(col("__line"))
      .orderBy(col("__id").asc, col("__pos").asc)
    ls.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__line")))).as("__kl"))
      .select(col("__id").as(idCol),
        array_join(col("__kl.__line"), "\n").as(textCol))
  }

  /** One fused pass per document: MinHash signature (`sig[i] = min over
    * shingles of a_i * fnv64(shingle) + b_i`) folded directly into
    * `bands` 64-bit band keys, as the native
    * [[graft.functions.MinHashBandKeysExpr]]. Fusing matters twice
    * over: (1) splitting signature and band hashing would re-run the
    * k×|shingles| signature work once per band on projection collapse;
    * (2) the per-permutation affine constants are precomputed once per
    * plan. The native form additionally hashes the shingle bytes
    * without decoding them (values bit-identical to the former UDF —
    * spec-pinned), so persisted band indexes stay valid.
    */
  private[graft] def minhashBandKeys(numHashes: Int, bands: Int): Column => Column = {
    sh => {
      import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
      toColumn(graft.functions.MinHashBandKeysExpr(toExpression(sh), numHashes, bands))
    }
  }

  /** MinHash+LSH near-dup join: signatures → `bands` bands of
    * `numHashes/bands` rows each → candidate pairs sharing any band →
    * exact Jaccard verification >= `threshold` (no false positives; false
    * negatives bounded by the banding curve `1-(1-j^r)^b`).
    * Output matches [[ngramJaccard]] so either can serve a pipeline.
    *
    * Scale shape: only (id, band, key) rows go through the banding
    * shuffle — the shingle payload is re-joined onto the *deduplicated
    * candidate pairs*, never exploded `bands`-fold.
    */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.6): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val sh = df
      .select(col(idCol).as("__id"), TextFunctions.shingles(col(textCol), n).as("__sh"))
      .filter(size(col("__sh")) > 0)
    // carry the full band-key array through the explode: with both
    // arrays present in the joined row, a pair is kept only in the
    // FIRST band the two signatures share — exactly-once with no
    // dropDuplicates shuffle (near-identical docs agree on ~all bands
    // and would otherwise surface `bands` times; same anchor as
    // simhashPairs, measured there at 15x on a duplicated corpus)
    val banded = sh
      .withColumn("__bks", minhashBandKeys(numHashes, bands)(col("__sh")))
      .select(col("__id"), col("__bks"),
        posexplode(col("__bks")).as(Seq("__band", "__bh")))
    val firstShared =
      array_position(zip_with(col("a.__bks"), col("b.__bks"), (x, y) => x === y),
        true) - 1
    val cands = banded.as("a")
      .join(banded.hint("shuffle_hash").as("b"),
        col("a.__band") === col("b.__band") && col("a.__bh") === col("b.__bh") &&
          col("a.__id") < col("b.__id") && col("a.__band") === firstShared)
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
    // exact verification on the candidate set only
    cands
      .join(sh.select(col("__id"), col("__sh").as("__sha")), col("doc_a") === col("__id"))
      .drop("__id")
      .join(sh.select(col("__id"), col("__sh").as("__shb")), col("doc_b") === col("__id"))
      .withColumn("intersection", size(array_intersect(col("__sha"), col("__shb"))))
      .withColumn("size_a", size(col("__sha")))
      .withColumn("size_b", size(col("__shb")))
      .withColumn("jaccard",
        col("intersection").cast("double") /
          (col("size_a") + col("size_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "intersection", "size_a", "size_b", "jaccard")
  }

  /** Cross-corpus MinHash+LSH near-dup join ([[minhashLsh]] between two
    * tables): banded candidates sharing any band, exact Jaccard
    * verification ≥ `threshold`. Output matches [[ngramJaccardJoin]],
    * so either serves a pipeline — this one is the 100 TB path across
    * two crawls: the banding shuffle moves `(id, band, key)` rows only
    * and candidates are exactly-once via the first-shared-band anchor,
    * so the exact verify touches candidate pairs — the posting join of
    * [[ngramJaccardJoin]] moves every shared-shingle occurrence, which
    * goes quadratic in hot boilerplate shared between corpora. False
    * negatives bounded by the banding curve `1-(1-j^r)^b` (detection is
    * DETERMINISTIC per pair — fixed hash family — so a gate oracle can
    * pin exact-equality where the corpus' duplicate pairs sit well
    * above the curve's knee).
    */
  def minhashLshJoin(
      left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.6): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    def prep(df: DataFrame, id: String, text: String) = df
      .select(col(id).as("__id"), TextFunctions.shingles(col(text), n).as("__sh"))
      .filter(size(col("__sh")) > 0)
    def banded(sh: DataFrame) = sh
      .withColumn("__bks", minhashBandKeys(numHashes, bands)(col("__sh")))
      .select(col("__id"), col("__bks"),
        posexplode(col("__bks")).as(Seq("__band", "__bh")))
    val la = prep(left, leftId, leftText)
    val rb = prep(right, rightId, rightText)
    // first-shared-band anchor (see minhashLsh): near-identical docs
    // agree on ~every band and must still surface exactly once
    val firstShared =
      array_position(zip_with(col("a.__bks"), col("b.__bks"), (x, y) => x === y),
        true) - 1
    val cands = banded(la).as("a")
      .join(banded(rb).hint("shuffle_hash").as("b"),
        col("a.__band") === col("b.__band") && col("a.__bh") === col("b.__bh") &&
          col("a.__band") === firstShared)
      .select(col("a.__id").as("id_left"), col("b.__id").as("id_right"))
    cands
      .join(la.select(col("__id"), col("__sh").as("__sha")), col("id_left") === col("__id"))
      .drop("__id")
      .join(rb.select(col("__id"), col("__sh").as("__shb")), col("id_right") === col("__id"))
      .withColumn("intersection", size(array_intersect(col("__sha"), col("__shb"))))
      .withColumn("size_left", size(col("__sha")))
      .withColumn("size_right", size(col("__shb")))
      .withColumn("jaccard",
        col("intersection").cast("double") /
          (col("size_left") + col("size_right") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select("id_left", "id_right", "intersection", "size_left", "size_right", "jaccard")
  }

  /** Persist a MinHash LSH index of the corpus, so later batches dedup
    * against it WITHOUT rescanning corpus text — the production shape
    * for a growing corpus: index once, then each day's crawl delta joins
    * the index, not the 100 TB of documents.
    *
    * Layout under `path`:
    *   - `postings/` — `(band, bh, doc_id)`, repartitioned by the band
    *     key so a delta probe shuffles only its own keys against a
    *     co-clustered table, `sortWithinPartitions` for row-group
    *     min/max locality;
    *   - `sketches/` — `(doc_id, sh, bks)` where `sh` is the doc's
    *     distinct shingle set as SORTED xxhash64 longs — exact-
    *     verification payload at 8 bytes/shingle, no corpus text in the
    *     index — and `bks` the band-key array;
    *   - `meta/` — one row `(n, num_hashes, bands)` so search always
    *     hashes the delta with the index's own parameters.
    *
    * The corpus text is scanned ONCE: sketches are written first (the
    * only step that shingles documents) and the postings table derives
    * from re-reading the 8-byte-per-shingle sketches, not the corpus.
    */
  def buildMinhashIndex(
      docs: DataFrame, idCol: String, textCol: String, path: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      bandBuckets: Int = 64, marker: Option[String] = None): Unit = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val spark = docs.sparkSession
    // all three tables land in a fresh version dir; the _LATEST pointer
    // flips only after meta — a mid-build failure or a rebuild racing a
    // reader can never expose mismatched tables (IndexIO scaladoc)
    graft.sources.IndexIO.publish(spark, path, marker) { vdir =>
      docs
        .select(col(idCol).as("doc_id"), TextFunctions.shingles(col(textCol), n).as("__s"))
        .filter(size(col("__s")) > 0)
        .select(col("doc_id"),
          array_sort(transform(col("__s"), s => xxhash64(s))).as("sh"),
          minhashBandKeys(numHashes, bands)(col("__s")).as("bks"))
        .write.mode("overwrite").parquet(s"$vdir/sketches")
      graft.sources.IndexIO.readTable(spark, s"$vdir/sketches")
        .select(col("doc_id"), posexplode(col("bks")).as(Seq("band", "bh")))
        .repartition(col("band"), col("bh"))
        .sortWithinPartitions("band", "bh")
        .write.mode("overwrite").parquet(s"$vdir/postings")
      import spark.implicits._
      Seq((n, numHashes, bands)).toDF("n", "num_hashes", "bands")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/meta")
    }
    ()
  }

  /** Near-dup join of a new batch against a [[buildMinhashIndex]] index:
    * band the delta with the index's parameters, equi-join the postings
    * on `(band, bh)`, collapse to distinct candidate pairs, then verify
    * EXACTLY against the stored shingle-hash sketches. Same contract as
    * [[ngramJaccardJoin]] (delta = left, corpus = right): no false
    * positives; false negatives bounded by the banding curve.
    *
    * Scale shape: the banding join ships only `(id, band, key)` rows
    * against a co-clustered postings table; candidate collapse is a
    * groupBy on bare 16-byte id pairs (cheapest possible shuffle — the
    * in-memory variant's first-shared-band trick would need the corpus
    * band arrays duplicated into every posting row here); sketches are
    * fetched once per distinct pair. Corpus text is never read.
    */
  /** Append a new batch to an existing [[buildMinhashIndex]] index
    * WITHOUT touching the existing data: the delta's sketches and
    * postings (banded with the index's OWN parameters, read from the
    * current meta) land in a fresh segment directory and
    * [[graft.sources.IndexIO.publishDelta]] links it into the segment
    * chain — readers union the segments, so growing the index costs
    * one pass over the NEW documents only. This is the daily-crawl
    * lifecycle: index the corpus once, append each day's delta,
    * dedup incoming batches against the whole accumulated index.
    */
  def appendToMinhashIndex(
      docs: DataFrame, idCol: String, textCol: String, path: String,
      bandBuckets: Int = 64, marker: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    val meta = graft.sources.IndexIO.readTable(spark, s"$vdir/meta").head()
    val (n, numHashes, bands) =
      (meta.getAs[Int]("n"), meta.getAs[Int]("num_hashes"), meta.getAs[Int]("bands"))
        graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      docs
        .select(col(idCol).as("doc_id"), TextFunctions.shingles(col(textCol), n).as("__s"))
        .filter(size(col("__s")) > 0)
        .select(col("doc_id"),
          array_sort(transform(col("__s"), s => xxhash64(s))).as("sh"),
          minhashBandKeys(numHashes, bands)(col("__s")).as("bks"))
        .write.mode("overwrite").parquet(s"$seg/sketches")
      graft.sources.IndexIO.readTable(spark, s"$seg/sketches")
        .select(col("doc_id"), posexplode(col("bks")).as(Seq("band", "bh")))
        .repartition(col("band"), col("bh"))
        .sortWithinPartitions("band", "bh")
        .write.mode("overwrite").parquet(s"$seg/postings")
      import spark.implicits._
      Seq((n, numHashes, bands)).toDF("n", "num_hashes", "bands")
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/meta")
    }
    ()
  }

  /** Publish a TOMBSTONE segment deleting `ids` from a
    * [[buildMinhashIndex]] index — the takedown/revocation path a crawl
    * corpus needs, WITHOUT rebuilding: the existing segments stay
    * immutable; searches anti-join the (tiny, broadcast) tombstone set;
    * [[compactMinhashIndex]] drops the rows physically. Log-structured
    * semantics ([[graft.sources.IndexIO.withoutTombstoned]]): the
    * delete covers data indexed BEFORE it; a later append of the same
    * id resurrects it.
    */
  def deleteFromMinhashIndex(
      spark: SparkSession, path: String, ids: DataFrame, idCol: String,
      marker: Option[String] = None): Unit = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    val meta = graft.sources.IndexIO.readTable(spark, s"$vdir/meta")
    graft.sources.IndexIO.publishDelta(spark, path, marker) { seg =>
      ids.select(col(idCol).as("doc_id")).distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/tombstones")
      meta.coalesce(1).write.mode("overwrite").parquet(s"$seg/meta")
    }
    ()
  }

  /** Compact an append chain back to ONE co-clustered segment — from
    * the index's own data, never the corpus text: sketches carry the
    * full 8-byte-per-shingle payload, so the merged postings re-derive
    * from the unioned sketches exactly as in [[buildMinhashIndex]].
    * Restores the single co-clustered postings table that banding
    * probes join against (a K-segment chain probes K separately-
    * clustered tables); tombstoned docs are dropped PHYSICALLY and the
    * tombstones themselves are not carried forward. Publishes as a
    * fresh single-segment version, pre-flip readers keep their chain.
    * No-op on an unchained index.
    */
  def compactMinhashIndex(
      spark: SparkSession, path: String, bandBuckets: Int = 64): Unit = {
    val segs = graft.sources.IndexIO.segments(spark, path)
    if (segs.length <= 1) return
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    val meta = graft.sources.IndexIO.readTable(spark, s"$vdir/meta")
    val sketches = graft.sources.IndexIO.withoutTombstoned(
      graft.sources.IndexIO.chainTable(spark, path, "sketches").get,
      graft.sources.IndexIO.chainTable(spark, path, "tombstones"), "doc_id")
    graft.sources.IndexIO.publish(spark, path) { nv =>
      sketches.write.mode("overwrite").parquet(s"$nv/sketches")
      graft.sources.IndexIO.readTable(spark, s"$nv/sketches")
        .select(col("doc_id"), posexplode(col("bks")).as(Seq("band", "bh")))
        .repartition(col("band"), col("bh"))
        .sortWithinPartitions("band", "bh")
        .write.mode("overwrite").parquet(s"$nv/postings")
      meta.coalesce(1).write.mode("overwrite").parquet(s"$nv/meta")
    }
    ()
  }

  def dedupAgainstMinhashIndex(
      spark: SparkSession, delta: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double = 0.6): DataFrame = {
    val vdir = graft.sources.IndexIO.resolve(spark, path)
    // the index may be an append CHAIN: union the immutable segments
    // (one for a plain build). Parameters come from the resolved
    // version's meta; appends copy them forward, so the chain is
    // self-consistent by construction. Tombstoned docs are filtered
    // from the SKETCHES only — a dead doc's postings may still raise a
    // candidate, but the pair dies at the inner sketch join, so one
    // broadcast anti-join covers the delete (postings stay untouched).
    val tombs = graft.sources.IndexIO.chainTable(spark, path, "tombstones")
    def table(name: String): DataFrame = {
      val data = graft.sources.IndexIO.chainTable(spark, path, name).getOrElse(
        throw new IllegalStateException(s"index at $path has no $name table"))
      if (name == "sketches")
        graft.sources.IndexIO.withoutTombstoned(data, tombs, "doc_id")
      else data.drop("__seg")
    }
    val meta = graft.sources.IndexIO.readTable(spark, s"$vdir/meta").head()
    val (n, numHashes, bands) =
      (meta.getAs[Int]("n"), meta.getAs[Int]("num_hashes"), meta.getAs[Int]("bands"))
    val sh = delta
      .select(col(idCol).as("__id"), TextFunctions.shingles(col(textCol), n).as("__s"))
      .filter(size(col("__s")) > 0)
      .select(col("__id"),
        array_sort(transform(col("__s"), s => xxhash64(s))).as("__sha"),
        minhashBandKeys(numHashes, bands)(col("__s")).as("__bks"))
    val banded = sh.select(col("__id"), posexplode(col("__bks")).as(Seq("__band", "__bh")))
    val postings = table("postings")
    val cands = banded
      .join(postings, col("__band") === col("band") && col("__bh") === col("bh"))
      .groupBy(col("__id").as("id_left"), col("doc_id").as("id_right"))
      .agg(count(lit(1)).as("__nb"))
      .select("id_left", "id_right")
    cands
      .join(sh.select(col("__id"), col("__sha")), col("id_left") === col("__id"))
      .drop("__id")
      .join(table("sketches").select(
        col("doc_id").as("__rid"), col("sh").as("__shb")),
        col("id_right") === col("__rid"))
      .withColumn("intersection", size(array_intersect(col("__sha"), col("__shb"))).cast("long"))
      .withColumn("size_left", size(col("__sha")).cast("long"))
      .withColumn("size_right", size(col("__shb")).cast("long"))
      .withColumn("jaccard",
        col("intersection").cast("double") /
          (col("size_left") + col("size_right") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select("id_left", "id_right", "intersection", "size_left", "size_right", "jaccard")
  }

  /** Positioned k-token window hashes (NON-distinct — every occurrence
    * is a maskable span), as the native [[graft.functions.WindowHashesExpr]]:
    * positions align with `posexplode(tokens(...))` via the shared byte
    * tokenizer, hashes equal `xxhash64(window_text)` without ever
    * building the window string.
    */
  private def windowHashes(k: Int)(text: Column): Column = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    toColumn(graft.functions.WindowHashesExpr(toExpression(text), k))
  }

  /** Repeated-substring dedup at token-window granularity (the
    * span-level counterpart of [[lineDedup]], after Lee et al.'s exact
    * substring dedup in "Deduplicating Training Data Makes Language
    * Models Better"): any k-token window whose exact text occurred at
    * an earlier global position (ordered by `(id, pos)`) marks its k
    * token positions as duplicated; masked tokens are removed and each
    * doc is reassembled from its surviving tokens in order. Docs that
    * lose every token drop. Catches boilerplate that line dedup misses
    * (mid-line templates, run-on scraper text without newlines).
    *
    * Scale shape: the occurrence shuffle carries `(xxhash64(window),
    * id, pos)` — 8-byte keys, never window text. "First occurrence"
    * is a `min(struct(id, pos))` AGGREGATE per window hash (map-side
    * partial: a boilerplate window repeated in 1% of the corpus
    * collapses to one row per map partition before the exchange),
    * and duplicates are the occurrences ≠ their window's min via a
    * plain equi-join — which AQE can skew-split, where the equivalent
    * `row_number` window would sort every occurrence of the hottest
    * window in ONE task. Masked positions explode k-fold but only for
    * duplicated windows; reassembly is one hash shuffle by id.
    */
  def maskRepeatedWindows(df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    require(k > 0, s"maskRepeatedWindows: k must be positive, got $k")
    val tokp = df.select(col(idCol).as("__id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val wins = df.select(col(idCol).as("__id"),
        explode(windowHashes(k)(col(textCol))).as("__w"))
      .select(col("__id"), col("__w.pos").as("__pos"), col("__w.h").as("__h"))
    val firsts = wins
      .groupBy(col("__h"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
    val dupStarts = wins
      .join(firsts, "__h")
      .filter(struct(col("__id"), col("__pos")) =!= col("__first"))
      .select(col("__id"), col("__pos"))
    val covered = dupStarts
      .select(col("__id"), explode(sequence(col("__pos"), col("__pos") + lit(k - 1))).as("__p"))
      .distinct()
    tokp
      .join(covered, tokp("__id") === covered("__id") && col("__pos") === col("__p"), "left_anti")
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__tok")))).as("__kt"))
      .select(col("__id").as(idCol), array_join(col("__kt.__tok"), " ").as(textCol))
  }

  /** Winnowing overlap pairs (the MOSS use of
    * [[TextFunctions.winnowedFingerprints]]): doc pairs sharing at
    * least `minShared` selected rolling-hash fingerprints — i.e. pairs
    * with that many independent >= k+w−1-char substring matches.
    * Complements [[ngramJaccard]] (whole-document set similarity) with
    * substring-level overlap detection that a few shared sentences
    * trigger even when the documents differ everywhere else.
    *
    * Scale shape: identical to the other inverted-index joins — the
    * fingerprint explode ships `(id, fp)` longs, the self-equi-join on
    * `fp` meets only docs that share a fingerprint, and the pair count
    * is a partial-agg groupBy on bare id pairs.
    */
  def winnowOverlapPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, minShared: Int = 2,
      hotPostingCutoff: Long = Long.MaxValue): DataFrame =
    sharedFingerprintPairs(
      df.select(col(idCol),
        TextFunctions.winnowedFingerprints(col(textCol), k, w).as("__fps")),
      idCol, "__fps", minShared, hotPostingCutoff)

  /** Generic shared-fingerprint pair join — [[winnowOverlapPairs]]'
    * engine over ANY per-row fingerprint array (text winnowing, audio
    * subfingerprints): pairs of rows sharing at least `minShared`
    * values of `fpsCol`. The explode ships `(id, fp)` longs, the
    * self-equi-join on the fingerprint meets only rows that share one,
    * and the pair count is a partial-agg groupBy on bare id pairs —
    * never all-pairs.
    *
    * Hot-posting gate: a fingerprint shared by more than the cutoff
    * rows is boilerplate (license headers, silence/test-tone clips) —
    * S rows on one fingerprint cost S²/2 candidate rows in ONE hash
    * block, the same quadratic cap as ngramJaccardAuto /
    * videoNearDupPairs. Off by default (the exact-overlap contract);
    * callers on crawl-scale corpora should set it.
    */
  def sharedFingerprintPairs(
      df: DataFrame, idCol: String, fpsCol: String,
      minShared: Int = 2,
      hotPostingCutoff: Long = Long.MaxValue): DataFrame = {
    require(hotPostingCutoff > 1,
      s"sharedFingerprintPairs: hotPostingCutoff must be > 1, got $hotPostingCutoff")
    require(minShared >= 1,
      s"sharedFingerprintPairs: minShared must be >= 1, got $minShared")
    val raw = df.select(col(idCol).as("__id"),
      explode(col(fpsCol)).as("__fp"))
    val fps =
      if (hotPostingCutoff == Long.MaxValue) raw
      else raw
        .withColumn("__post",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("__fp"))))
        .filter(col("__post") <= hotPostingCutoff)
        .drop("__post")
    fps.as("a")
      .join(fps.hint("shuffle_hash").as("b"),
        col("a.__fp") === col("b.__fp") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Maximal shared exact token runs between document pairs — the
    * attribution view of Lee et al.'s exact-substring dedup (the
    * remover is [[maskRepeatedWindows]]; this reports WHO shares WHAT,
    * one row per maximal run): every pair of docs sharing an exact run
    * of at least `minRunTokens` whitespace tokens, with the run's start
    * position in each doc (0-based token index, aligned with
    * `posexplode(tokens(text))`) and its token length.
    *
    * Matched k-token windows between two docs lie on diagonals of the
    * (posA, posB) grid: a shared run of R tokens contributes R−k+1
    * consecutive window matches on ONE diagonal (posA − posB
    * constant). Runs are therefore gaps-and-islands per
    * `(id_a, id_b, diagonal)`: island key = posA − row_number over
    * posA; run length = windows-in-island + k − 1.
    *
    * Scale shape: the window explode ships `(id, pos, xxhash64)` longs
    * — never window text; the self-equi-join on the hash meets only
    * docs sharing a window (inverted-index join, AQE-splittable); the
    * island window function shuffles by (pair, diagonal) — each
    * partition is one pair's matches, never the corpus. The quadratic
    * hazard is a boilerplate window shared by S docs (S²/2 candidate
    * rows in one hash block): `hotWindowCutoff` drops window hashes
    * occurring more than that many times BEFORE the join, the same
    * cap contract as [[sharedFingerprintPairs]] — a window in >cutoff
    * docs is boilerplate, not attribution signal. Off by default.
    */
  def dupSpanPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minRunTokens: Int = 12,
      hotWindowCutoff: Long = Long.MaxValue): DataFrame = {
    require(k > 0, s"dupSpanPairs: k must be positive, got $k")
    require(minRunTokens >= k,
      s"dupSpanPairs: minRunTokens ($minRunTokens) must be >= k ($k) — " +
        "a single matched window already proves a k-token run")
    require(hotWindowCutoff > 1,
      s"dupSpanPairs: hotWindowCutoff must be > 1, got $hotWindowCutoff")
    val raw = df.select(col(idCol).as("__id"),
        explode(windowHashes(k)(col(textCol))).as("__w"))
      .select(col("__id"), col("__w.pos").as("__pos"), col("__w.h").as("__h"))
    val wins =
      if (hotWindowCutoff == Long.MaxValue) raw
      else raw
        .withColumn("__occ", count(lit(1)).over(Window.partitionBy(col("__h"))))
        .filter(col("__occ") <= hotWindowCutoff)
        .drop("__occ")
    val matches = wins.as("a")
      .join(wins.hint("shuffle_hash").as("b"),
        col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__pos").as("__pa"), col("b.__pos").as("__pb"))
      .withColumn("__diag", col("__pa") - col("__pb"))
    val island = Window.partitionBy(col("id_a"), col("id_b"), col("__diag"))
      .orderBy(col("__pa"))
    matches
      .withColumn("__isl", col("__pa") - row_number().over(island))
      .groupBy(col("id_a"), col("id_b"), col("__diag"), col("__isl"))
      .agg(min(col("__pa")).cast("long").as("a_start"),
        (count(lit(1)) + lit(k - 1L)).as("run_tokens"))
      .filter(col("run_tokens") >= minRunTokens)
      .select(col("id_a"), col("id_b"), col("a_start"),
        (col("a_start") - col("__diag")).cast("long").as("b_start"),
        col("run_tokens"))
  }

  /** Maximal repeated CHARACTER spans between document pairs — the
    * suffix-array exact-substring dedup view (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"; their
    * remover builds a suffix array over the concatenated corpus and
    * reports adjacent suffixes with long common prefixes). This is the
    * character-granularity sibling of [[dupSpanPairs]]: it finds the
    * UNALIGNED verbatim runs that token-window masking misses — a span
    * that starts mid-token, or one shorter than the k-token window but
    * longer than `minSpanChars` characters.
    *
    * Instead of a (global-sort-shaped) distributed suffix array, the
    * same spans fall out of stride-1 k-char-gram seeds + diagonal
    * gaps-and-islands: a repeated span of S ≥ k chars contributes
    * exactly S−k+1 CONSECUTIVE gram matches on one (posA − posB)
    * diagonal, so per-(pair, diagonal) islands reconstruct precisely
    * the maximal repeated spans the suffix array would report — as
    * shuffle-partitioned equi-joins, no global order anywhere. Output:
    * one row per maximal cross-doc span — `(id_a, id_b, a_start,
    * b_start, span_chars)`, 0-based character starts.
    *
    * Scale shape: the gram hashes are built in-row (`transform` over a
    * position sequence + `substr` + `xxhash64`, all codegen built-ins;
    * text is read once per row and never shuffled) and ship as
    * `(id, pos, hash)` longs; the self-equi-join on the hash meets
    * only docs sharing a gram; islands shuffle by (pair, diagonal).
    * `hotGramCutoff` caps the quadratic hash-block cost of boilerplate
    * grams on crawl corpora — with the documented conservative effect
    * that a span CONTAINING a hot gram splits into (or shrinks to) its
    * sub-cutoff fragments; leave at the default for exact attribution.
    */
  def charSpanPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minSpanChars: Int = 40,
      hotGramCutoff: Long = Long.MaxValue,
      includeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"charSpanPairs: k must be positive, got $k")
    require(minSpanChars >= k,
      s"charSpanPairs: minSpanChars ($minSpanChars) must be >= k ($k) — " +
        "a single matched gram already proves a k-char span")
    require(hotGramCutoff > 1,
      s"charSpanPairs: hotGramCutoff must be > 1, got $hotGramCutoff")
    val t = col(textCol)
    val grams = when(length(t) >= k,
      transform(sequence(lit(1), length(t) - lit(k - 1)),
        p => xxhash64(t.substr(p, lit(k)))))
      .otherwise(array().cast("array<bigint>"))
    val raw = df
      .select(col(idCol).as("__id"), posexplode(grams).as(Seq("__pos", "__h")))
    val seeds =
      if (hotGramCutoff == Long.MaxValue) raw
      else raw
        .withColumn("__occ", count(lit(1)).over(Window.partitionBy(col("__h"))))
        .filter(col("__occ") <= hotGramCutoff)
        .drop("__occ")
    // includeSelf adds WITHIN-doc repeats (Lee et al. dedup within a
    // document too): same-id matches with posA < posB land on nonzero
    // diagonals and ride the identical island machinery — overlapping
    // periodic repeats included. The hot-gram cutoff bounds the
    // pathological all-same-char doc (its grams are globally hot).
    val pairCond =
      if (includeSelf)
        col("a.__id") < col("b.__id") ||
          (col("a.__id") === col("b.__id") && col("a.__pos") < col("b.__pos"))
      else col("a.__id") < col("b.__id")
    val matches = seeds.as("a")
      .join(seeds.hint("shuffle_hash").as("b"),
        col("a.__h") === col("b.__h") && pairCond)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__pos").as("__pa"), col("b.__pos").as("__pb"))
      .withColumn("__diag", col("__pa") - col("__pb"))
    val island = Window.partitionBy(col("id_a"), col("id_b"), col("__diag"))
      .orderBy(col("__pa"))
    matches
      .withColumn("__isl", col("__pa") - row_number().over(island))
      .groupBy(col("id_a"), col("id_b"), col("__diag"), col("__isl"))
      .agg(min(col("__pa")).cast("long").as("a_start"),
        (count(lit(1)) + lit(k - 1L)).as("span_chars"))
      .filter(col("span_chars") >= minSpanChars)
      .select(col("id_a"), col("id_b"), col("a_start"),
        (col("a_start") - col("__diag")).cast("long").as("b_start"),
        col("span_chars"))
  }

  /** The REMOVER for [[charSpanPairs]] — Lee et al.'s exact-substring
    * dedup applied: every character range that verbatim-duplicates a
    * SMALLER-id document's content is cut from the larger-id copy, so
    * each repeated span survives in exactly one place (its minimal-id
    * holder — the same canonical-copy rule as [[exact]]'s min-id
    * keeper). Returns `df` with `textCol` rewritten; docs without cuts
    * pass through untouched.
    *
    * Scale shape: the cut lists are slim `(id, [start, end))` interval
    * arrays (one row per affected doc, joinable/broadcastable); the
    * text surgery is one in-row `aggregate` fold over the doc's sorted
    * intervals (overlaps merge via the running cursor), so document
    * bodies are read once and never shuffled by span.
    */
  def stripRepeatedCharSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minSpanChars: Int = 40,
      hotGramCutoff: Long = Long.MaxValue,
      includeSelf: Boolean = false): DataFrame = {
    // self-spans (includeSelf) report the LATER occurrence as the
    // id_b/b_start side, so the cut below keeps a doc's first copy —
    // the same canonical-first rule as the cross-doc min-id keeper
    val cuts = charSpanPairs(df, idCol, textCol, k, minSpanChars,
        hotGramCutoff, includeSelf)
      .select(col("id_b").as("__sid"),
        struct(col("b_start").cast("int").as("s"),
          (col("b_start") + col("span_chars")).cast("int").as("e")).as("__iv"))
      .groupBy("__sid").agg(sort_array(collect_set(col("__iv"))).as("__ivs"))
    val t = col(textCol)
    // fold over sorted cut intervals: emit the text between the cursor
    // and each interval's start, jump the cursor past its end (greatest
    // merges overlapping/nested intervals), then emit the tail
    val cut = aggregate(
      col("__ivs"),
      struct(lit(0).as("pos"), lit("").as("acc")),
      (st, iv) => struct(
        greatest(st.getField("pos"), iv.getField("e")).as("pos"),
        concat(st.getField("acc"),
          t.substr(st.getField("pos") + lit(1),
            greatest(iv.getField("s") - st.getField("pos"), lit(0)))).as("acc")),
      st => concat(st.getField("acc"),
        t.substr(st.getField("pos") + lit(1),
          length(t).cast("int") - st.getField("pos"))))
    df.join(cuts, col(idCol) === col("__sid"), "left")
      .withColumn(textCol, when(col("__ivs").isNull, t).otherwise(cut))
      .drop("__sid", "__ivs")
  }

  /** 64-bit SimHash of the token multiset: bit j of the signature is the
    * sign of `sum over tokens of (bit j of fnv64(token) ? +1 : -1)`.
    * Native [[graft.functions.SimHash64Expr]] straight over the text —
    * the tokens array is never materialized (values bit-identical to
    * the former `udf(tokens(text))` chain, spec-pinned).
    */
  private def simhash64(text: Column): Column = {
    import org.apache.spark.sql.GraftInternals.{toColumn, toExpression}
    toColumn(graft.functions.SimHash64Expr(toExpression(text)))
  }

  /** Append a `simhash` bigint column. */
  def withSimhash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", simhash64(col(textCol)))

  /** SimHash near-dup pairs with Hamming distance <= `maxHamming`.
    * Blocking: split the 64-bit signature into `maxHamming + 1` chunks —
    * by pigeonhole, any pair within the distance agrees on at least one
    * chunk, so candidates reduce to an equi-join on (chunkIdx, chunkVal).
    *
    * Exactly-once without a distinct: a near-identical pair agrees on
    * MOST chunks and would surface once per shared chunk; since both
    * full signatures are present in the joined row, the match is kept
    * only in the FIRST chunk the two signatures share. On a worst-case
    * duplicated corpus this removes a candidate-multiset-sized
    * dropDuplicates shuffle (measured 470s -> seconds at 50k docs with
    * 10x duplication, tools/ScaleStress).
    */
  /** Generic 64-bit-signature Hamming pair join — [[simhashPairs]]'s
    * pigeonhole blocking over ANY precomputed signature column
    * (perceptual image hashes, audio fingerprints): split into
    * `maxHamming + 1` chunks, candidates = pairs agreeing on at least
    * one chunk (pigeonhole-exact for the radius), exactly-once via the
    * first-shared-chunk rule, verify by `bit_count(xor)`. Output:
    * `(id_a, id_b, hamming)`.
    *
    * Hot-signature collapse: web crawls are full of constant images
    * (spacers, blanks, tracking pixels) that all map to ONE signature;
    * blocking raw rows would put all S of them into the same
    * `(chunk, value)` block in every chunk, and the block join would do
    * S²/2 comparisons × (maxHamming+1) chunks inside single tasks. So
    * the pigeonhole join runs over DISTINCT signatures — sized by
    * content diversity, not corpus size — and the result is re-expanded
    * to id pairs with two sig-keyed equi-joins (AQE-skew-splittable) plus
    * a same-signature self-join for the hamming-0 pairs. Output is
    * row-identical to blocking the raw rows (DifferentialFuzz-pinned);
    * per-task candidate work is bounded by distinct-sig counts
    * (measured: tools/ImageDedupStress).
    */
  def hammingPairs64(
      df: DataFrame, idCol: String, sigCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"hammingPairs64: maxHamming must be in [0, 64), got $maxHamming")
    val ids = df.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
    val sigPairs = distinctSigPairs64(
      ids.select(col("__sig")).distinct(),
      ids.select(col("__sig")).distinct(), maxHamming, oriented = true)
    // Cross-signature pairs: re-attach ids on both sides. The id-order
    // orientation (and the degenerate duplicate-id guard) mirrors the
    // raw-row join's `a.__id < b.__id` exactly.
    val cross = sigPairs
      .join(ids.as("ia"), col("sig_a") === col("ia.__sig"))
      .join(ids.as("ib"), col("sig_b") === col("ib.__sig"))
      .filter(col("ia.__id") =!= col("ib.__id"))
      .select(
        least(col("ia.__id"), col("ib.__id")).as("id_a"),
        greatest(col("ia.__id"), col("ib.__id")).as("id_b"),
        col("hamming"))
    // Equal-signature pairs (hamming 0) vanish from the distinct-sig
    // join; they come back as a sig-keyed self-join — output-sized work,
    // which is the floor for this pair list.
    val same = ids.as("sa")
      .join(ids.as("sb"),
        col("sa.__sig") === col("sb.__sig") && col("sa.__id") < col("sb.__id"))
      .select(col("sa.__id").as("id_a"), col("sb.__id").as("id_b"),
        lit(0).as("hamming"))
    cross.unionByName(same)
  }

  /** [[hammingPairs64]] restricted WITHIN a band: pairs must share the
    * `bandCol` value AND sit within the Hamming radius — the kernel
    * behind frame-aligned perceptual video dedup (band = frame index)
    * and any partitioned signature space (per-shard, per-language,
    * per-time-bucket). Output `(<bandCol>, id_a, id_b, hamming)`; a
    * pair matching in several bands emits one row per band (callers
    * aggregate, e.g. count bands per pair).
    *
    * Same scale shape as the unbanded kernel: the pigeonhole join runs
    * over DISTINCT `(band, signature)` rows — hot constant signatures
    * (blank frames, silence) collapse to one row per band — and the
    * block key gains the band, so a 10k-frame-index corpus splits what
    * would be one signature block into 10k independent ones.
    */
  def hammingPairsPerBand64(
      df: DataFrame, idCol: String, sigCol: String, bandCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"hammingPairsPerBand64: maxHamming must be in [0, 64), got $maxHamming")
    val ids = df.select(col(bandCol).as("__band"), col(idCol).as("__id"),
      col(sigCol).as("__sig"))
    val sigs = ids.select("__band", "__sig").distinct()
    val sigPairs = distinctSigPairsBanded64(sigs, maxHamming)
    val cross = sigPairs.as("p")
      .join(ids.as("ia"),
        col("p.__band") === col("ia.__band") && col("p.sig_a") === col("ia.__sig"))
      .join(ids.as("ib"),
        col("p.__band") === col("ib.__band") && col("p.sig_b") === col("ib.__sig"))
      .filter(col("ia.__id") =!= col("ib.__id"))
      .select(
        col("p.__band").as(bandCol),
        least(col("ia.__id"), col("ib.__id")).as("id_a"),
        greatest(col("ia.__id"), col("ib.__id")).as("id_b"),
        col("p.hamming").as("hamming"))
    val same = ids.as("sa")
      .join(ids.as("sb"),
        col("sa.__band") === col("sb.__band") &&
          col("sa.__sig") === col("sb.__sig") && col("sa.__id") < col("sb.__id"))
      .select(col("sa.__band").as(bandCol),
        col("sa.__id").as("id_a"), col("sb.__id").as("id_b"),
        lit(0).as("hamming"))
    cross.unionByName(same)
  }

  /** Banded variant of [[distinctSigPairs64]] (self-join form): the
    * block key and the pair space both carry the band, so signatures
    * only ever meet within their band.
    */
  private def distinctSigPairsBanded64(
      sigs: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val width = 64 / chunks
    val mask = if (width >= 64) -1L else (1L << width) - 1
    def chunkOf(s: Column, c: Int): Column =
      shiftrightunsigned(s, c * width).bitwiseAND(lit(mask))
    def blocked(s: DataFrame): DataFrame =
      s.select(col("__band"), col("__sig"),
        posexplode(array((0 until chunks).map(c => chunkOf(col("__sig"), c)): _*))
          .as(Seq("__chunk", "__cv")))
    val firstShared = (chunks - 1 to 0 by -1).foldLeft(lit(chunks)) { (acc, c) =>
      when(chunkOf(col("a.__sig"), c) === chunkOf(col("b.__sig"), c), lit(c))
        .otherwise(acc)
    }
    blocked(sigs).as("a")
      .join(blocked(sigs).as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__chunk") === col("b.__chunk") && col("a.__cv") === col("b.__cv") &&
          col("a.__chunk") === firstShared && col("a.__sig") < col("b.__sig"))
      .select(
        col("a.__band").as("__band"),
        col("a.__sig").as("sig_a"), col("b.__sig").as("sig_b"),
        bit_count(col("a.__sig").bitwiseXOR(col("b.__sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Pigeonhole block join over two DISTINCT-signature tables: output
    * `(sig_a, sig_b, hamming)` with `hamming <= maxHamming`, each
    * qualifying pair exactly once (first-shared-chunk rule). With
    * `oriented` the pair space is halved by `sig_a < sig_b` (self-join
    * form); without, all left×right matches including equal signatures
    * are kept (two-corpus form).
    */
  private def distinctSigPairs64(
      leftSigs: DataFrame, rightSigs: DataFrame, maxHamming: Int,
      oriented: Boolean): DataFrame = {
    val chunks = maxHamming + 1
    val width = 64 / chunks
    // Long shifts are mod-64 in the JVM: (1L << 64) - 1 would be 0, so
    // the single-chunk case needs the full mask spelled out.
    val mask = if (width >= 64) -1L else (1L << width) - 1
    def chunkOf(s: Column, c: Int): Column =
      shiftrightunsigned(s, c * width).bitwiseAND(lit(mask))
    def blocked(sigs: DataFrame): DataFrame =
      sigs.select(col("__sig"),
        posexplode(array((0 until chunks).map(c => chunkOf(col("__sig"), c)): _*))
          .as(Seq("__chunk", "__cv")))
    val firstShared = (chunks - 1 to 0 by -1).foldLeft(lit(chunks)) { (acc, c) =>
      when(chunkOf(col("a.__sig"), c) === chunkOf(col("b.__sig"), c), lit(c))
        .otherwise(acc)
    }
    val base =
      col("a.__chunk") === col("b.__chunk") && col("a.__cv") === col("b.__cv") &&
        col("a.__chunk") === firstShared
    val cond = if (oriented) base && col("a.__sig") < col("b.__sig") else base
    blocked(leftSigs).as("a")
      .join(blocked(rightSigs).as("b"), cond)
      .select(
        col("a.__sig").as("sig_a"), col("b.__sig").as("sig_b"),
        bit_count(col("a.__sig").bitwiseXOR(col("b.__sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Raw-row (uncollapsed) form of [[hammingPairs64]] — kept as the
    * differential oracle for the distinct-signature rewrite. Quadratic
    * inside a block when many rows share one signature: verification
    * harnesses only, never production.
    */
  private[graft] def hammingPairs64Uncollapsed(
      df: DataFrame, idCol: String, sigCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"hammingPairs64: maxHamming must be in [0, 64), got $maxHamming")
    val chunks = maxHamming + 1
    val width = 64 / chunks
    val mask = if (width >= 64) -1L else (1L << width) - 1
    val sig = df.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
    def chunkOf(s: Column, c: Int): Column =
      shiftrightunsigned(s, c * width).bitwiseAND(lit(mask))
    val chunkCols = (0 until chunks).map(c => chunkOf(col("__sig"), c))
    val blocked = sig.select(
      col("__id"), col("__sig"),
      posexplode(array(chunkCols: _*)).as(Seq("__chunk", "__cv")))
    val firstShared = (chunks - 1 to 0 by -1).foldLeft(lit(chunks)) { (acc, c) =>
      when(chunkOf(col("a.__sig"), c) === chunkOf(col("b.__sig"), c), lit(c))
        .otherwise(acc)
    }
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.__chunk") === col("b.__chunk") && col("a.__cv") === col("b.__cv") &&
          col("a.__id") < col("b.__id") && col("a.__chunk") === firstShared)
      .select(
        col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        bit_count(col("a.__sig").bitwiseXOR(col("b.__sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Two-corpus form of [[hammingPairs64]] — probe a batch of
    * signatures against a reference set (the incremental-image-dedup
    * join): same pigeonhole blocking, exactly-once via the
    * first-shared-chunk rule, no self-pair constraint (the sides are
    * distinct). Output `(id_a, id_b, hamming)` with `id_a` from
    * `left`. Same hot-signature collapse as [[hammingPairs64]]: the
    * block join runs over distinct signatures per side (equal-signature
    * matches survive — no orientation constraint for distinct sides) and
    * ids re-attach afterwards, so S left-blanks × T right-blanks cost an
    * S×T expansion join, never an (S+T)²·chunks block.
    */
  def hammingJoin64(
      left: DataFrame, leftIdCol: String, leftSigCol: String,
      right: DataFrame, rightIdCol: String, rightSigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"hammingJoin64: maxHamming must be in [0, 64), got $maxHamming")
    val chunks = maxHamming + 1
    val width = 64 / chunks
    val mask = if (width >= 64) -1L else (1L << width) - 1
    def chunkOf(s: Column, c: Int): Column =
      shiftrightunsigned(s, c * width).bitwiseAND(lit(mask))
    // A STREAMING side is never collapsed: `distinct()` on a stream is
    // an unbounded stateful dedup and the re-expansion would become a
    // stream-stream self-join — the streaming image-dedup gate must
    // stay the stateless blocked stream-static join it always was
    // (micro-batches bound the per-trigger block work on that side).
    // Batch sides collapse to distinct signatures as in
    // [[hammingPairs64]].
    val lids = left.select(col(leftIdCol).as("__lid"), col(leftSigCol).as("__lsig"))
    val rids = right.select(col(rightIdCol).as("__rid"), col(rightSigCol).as("__rsig"))
    val collapseL = !left.isStreaming
    val collapseR = !right.isStreaming
    def blocked(df: DataFrame, sigName: String, cn: String, cvn: String): DataFrame =
      df.select(col("*"),
        posexplode(array((0 until chunks).map(c => chunkOf(col(sigName), c)): _*))
          .as(Seq(cn, cvn)))
    val aRaw = if (collapseL) lids.select(col("__lsig")).distinct() else lids
    val bRaw = if (collapseR) rids.select(col("__rsig")).distinct() else rids
    val firstShared = (chunks - 1 to 0 by -1).foldLeft(lit(chunks)) { (acc, c) =>
      when(chunkOf(col("__lsig"), c) === chunkOf(col("__rsig"), c), lit(c))
        .otherwise(acc)
    }
    val joined = blocked(aRaw, "__lsig", "__ca", "__cva")
      .join(blocked(bRaw, "__rsig", "__cb", "__cvb"),
        col("__ca") === col("__cb") && col("__cva") === col("__cvb") &&
          col("__ca") === firstShared)
      .select(
        (if (collapseL) col("__lsig") else col("__lid")).as("__ea"),
        (if (collapseR) col("__rsig") else col("__rid")).as("__eb"),
        bit_count(col("__lsig").bitwiseXOR(col("__rsig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val exL =
      if (collapseL)
        joined.join(lids, col("__ea") === col("__lsig")).drop("__ea", "__lsig")
      else joined.withColumnRenamed("__ea", "__lid")
    val exR =
      if (collapseR)
        exL.join(rids, col("__eb") === col("__rsig")).drop("__eb", "__rsig")
      else exL.withColumnRenamed("__eb", "__rid")
    exR.select(col("__lid").as("id_a"), col("__rid").as("id_b"), col("hamming"))
  }

  /** Raw-row (uncollapsed) form of [[hammingJoin64]] — differential
    * oracle for the distinct-signature rewrite; harness use only.
    */
  private[graft] def hammingJoin64Uncollapsed(
      left: DataFrame, leftIdCol: String, leftSigCol: String,
      right: DataFrame, rightIdCol: String, rightSigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"hammingJoin64: maxHamming must be in [0, 64), got $maxHamming")
    val chunks = maxHamming + 1
    val width = 64 / chunks
    val mask = if (width >= 64) -1L else (1L << width) - 1
    def chunkOf(s: Column, c: Int): Column =
      shiftrightunsigned(s, c * width).bitwiseAND(lit(mask))
    def blocked(df: DataFrame, id: String, sig: String): DataFrame = {
      val s = df.select(col(id).as("__id"), col(sig).as("__sig"))
      s.select(col("__id"), col("__sig"),
        posexplode(array((0 until chunks).map(c => chunkOf(col("__sig"), c)): _*))
          .as(Seq("__chunk", "__cv")))
    }
    val firstShared = (chunks - 1 to 0 by -1).foldLeft(lit(chunks)) { (acc, c) =>
      when(chunkOf(col("a.__sig"), c) === chunkOf(col("b.__sig"), c), lit(c))
        .otherwise(acc)
    }
    blocked(left, leftIdCol, leftSigCol).as("a")
      .join(blocked(right, rightIdCol, rightSigCol).as("b"),
        col("a.__chunk") === col("b.__chunk") && col("a.__cv") === col("b.__cv") &&
          col("a.__chunk") === firstShared)
      .select(
        col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        bit_count(col("a.__sig").bitwiseXOR(col("b.__sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 7): DataFrame = {
    // Delegates to the generic distinct-signature Hamming kernel:
    // exact-duplicate texts share one SimHash, so a crawl with heavy
    // boilerplate has the same hot-signature block problem the
    // perceptual hashes do — the collapse covers both.
    val sig = withSimhash(df.select(col(idCol).as("__id"), col(textCol)), textCol)
      .select(col("__id"), col("simhash"))
    hammingPairs64(sig, "__id", "simhash", maxHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /** Naive all-pairs Hamming join over the SimHash signatures — the
    * O(n²) cross-implementation oracle for [[simhashPairs]] (whose
    * pigeonhole blocking must be exactly equivalent). Only the 8-byte
    * signatures cross the join, but the pair count is inherently
    * quadratic: this is for verification harnesses, not production.
    */
  def simhashPairsNaive(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 7): DataFrame = {
    val sig = withSimhash(df.select(col(idCol).as("__id"), col(textCol)), textCol)
      .select(col("__id"), col("simhash"))
    sig.as("a").join(sig.as("b"), col("a.__id") < col("b.__id"))
      .select(
        col("a.__id").as("doc_a"), col("b.__id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair list: each node takes the
    * min id reachable through its neighbors, to fixpoint — the step that
    * turns pairwise similarity output into dedup CLUSTERS (a chain a~b~c
    * is one duplicate group even when (a,c) itself is below threshold).
    * Output: `(id, component)` for every node appearing in `pairs`,
    * component = min id in the group. Ids may be any orderable type
    * (numeric, string, timestamp — the fixpoint test is a changed-label
    * count, not an arithmetic checksum).
    *
    * Adaptive strategy, same spirit as Spark's broadcast-side pick:
    *  - `<= localThreshold` edges (the pair list is already counted for
    *    partition sizing): collect the EDGE LIST — never the corpus —
    *    to the driver and run union-find, one job instead of one per
    *    propagation round. A near-dup graph is a sliver of the corpus,
    *    so this is the common case even at large scale, and the cap
    *    bounds driver memory by construction.
    *  - larger graphs: distributed label propagation, one shuffled
    *    join + aggregate per round, with POINTER JUMPING
    *    (`label(x) <- label(label(x))`) folded in twice per round so
    *    convergence takes O(log₄ diameter) rounds instead of
    *    O(diameter). The growing lineage is cut each round; the driver
    *    reads one changed-count per round.
    *
    * Fault tolerance of the iterative path is `checkpointDir`'s job:
    * by default each round is `localCheckpoint`ed — fastest, but the
    * blocks live on executors, so on a real cluster ONE lost executor
    * mid-iteration kills the whole job, and this loop runs O(log d)
    * rounds over the edge set of the corpus, exactly where executors
    * die. Pass `checkpointDir = Some(hdfsOrS3Path)` on a cluster: each
    * round then spills to durable parquet under that directory (the
    * reliable equivalent of `df.checkpoint()`, without hijacking the
    * context-global `setCheckpointDir`), rounds older than the live
    * window are deleted as the loop advances, and an executor loss
    * recomputes at most the current round from the last durable spill.
    * The final result reads from the last spill — the caller deletes
    * the directory after consuming it.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 25,
      localThreshold: Long = 250000L,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsImpl(pairs, aCol, bCol, maxIter, localThreshold,
      checkpointDir)._1

  /** Representative selection over near-dup clusters by a QUALITY
    * policy (keep-the-best, not keep-the-first): clusters from
    * [[connectedComponents]] over `pairs`, representative = the member
    * maximizing `scoreCol` (ties: smaller id). Returns `(component,
    * keep_id, score)` — one row per multi-doc cluster; docs outside
    * every pair are implicitly kept (cluster rows are dedup-decision
    * rows, pair-scaled, never corpus-scaled). For an engine-portable
    * argmax, pass a score already on an exact grid (e.g.
    * `floor(quality·1e4)` as a long): the ordering is then integer
    * comparison, immune to last-ulp double drift.
    */
  def keepBestByComponent(
      pairs: DataFrame, aCol: String, bCol: String,
      scored: DataFrame, idCol: String, scoreCol: String,
      checkpointDir: Option[String] = None): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol,
      checkpointDir = checkpointDir)
    comps
      .join(scored.select(col(idCol).as("id"), col(scoreCol).as("__score")), "id")
      .groupBy(col("component"))
      .agg(max_by(
        struct(col("id"), col("__score")),
        struct(col("__score"), -col("id"))).as("__k"))
      .select(col("component"), col("__k.id").as("keep_id"),
        col("__k.__score").as("score"))
  }

  /** Implementation that also reports the number of propagation rounds
    * taken (−1 on the driver-side union-find path). Exposed package-
    * private so [[graft.tools.ScaleStressCC]] can keep the round count
    * honest against the O(log₄ diameter) claim below.
    */
  private[graft] def connectedComponentsImpl(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int,
      localThreshold: Long,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // durable materialization under checkpointDir: unlike
    // localCheckpoint (executor block store — gone with the executor)
    // the spill survives any executor loss; unlike df.checkpoint() it
    // needs no context-global setCheckpointDir and dead rounds are
    // reclaimed as the loop advances. Window = 3: this round's two
    // cuts + the previous round's labels.
    val spiller = new RoundSpiller(spark, checkpointDir, "cc-spill")
    def mat(df: DataFrame): DataFrame = spiller.keep(df)
    def matRound(df: DataFrame): DataFrame = spiller.cut(df)
    // materialize the pair list ONCE before mirroring: `pairs` is
    // usually the output of an expensive similarity join, and the
    // symmetric union would otherwise re-run that subtree twice
    val p = mat(pairs.select(col(aCol).as("__src"), col(bCol).as("__dst")))
    val nEdges = p.count()
    if (nEdges <= localThreshold) return (localComponents(p), -1)

    val edgesRaw = p
      .union(p.select(col("__dst").as("__src"), col("__src").as("__dst")))
    // size the iteration to the graph, not the session default: label
    // propagation over a modest pair list should not pay a 32-partition
    // shuffle per round (at 100 TB the same rule lands on many partitions)
    val parts = math.max(1, math.min(
      (nEdges / 250000L).toInt,
      pairs.sparkSession.sparkContext.defaultParallelism))
    val edges = mat(edgesRaw.repartition(parts, col("__dst")))
    var labels = mat(edges.select(col("__src").as("id")).distinct()
      .withColumn("component", col("id")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels, edges("__dst") === labels("id"))
        .groupBy(col("__src")).agg(min(col("component")).as("__nmin"))
      // checkpointed because the double jump below references it four
      // times as a self-join subtree — without materialization the
      // expensive edge join would replay once per reference
      val prop = matRound(labels
        .join(nbrMin, labels("id") === nbrMin("__src"), "left")
        .select(labels("id").as("id"),
          least(col("component"), coalesce(col("__nmin"), col("component")))
            .as("component"),
          (col("__nmin").isNotNull && col("__nmin") < col("component")).as("__chg")))
      // pointer jumping, TWICE per round: follow the new label one hop
      // (`label(x) <- label(label(x))`), then again. On a chain the
      // per-round reach goes from c←2c+2 (one jump) to c←4c+4, i.e.
      // log₄ instead of log₂ of the diameter — half the rounds, and
      // each jump is a labels-sized self-join, far cheaper than the
      // edge join that dominates a round. At neighbor-fixpoint labels
      // are already constant per component, so both jumps are no-ops
      // and the __chg-based convergence test stays sound.
      def jumped(df: DataFrame): DataFrame = df.as("n1")
        .join(
          df.select(col("id").as("__jid"), col("component").as("__jcomp")).as("n2"),
          col("n1.component") === col("__jid"), "left")
        .select(col("n1.id").as("id"),
          coalesce(col("__jcomp"), col("n1.component")).as("component"),
          col("n1.__chg").as("__chg"))
      val next = matRound(jumped(jumped(prop)))
      val chgRow = next.agg(sum(when(col("__chg"), 1L).otherwise(0L))).collect()(0)
      converged = chgRow.isNullAt(0) || chgRow.getLong(0) == 0L
      labels = next.drop("__chg")
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] WARN: connectedComponents stopped after $maxIter iterations before fixpoint")
    (labels, iter)
  }

  /** Driver-side union-find over a BOUNDED edge list (caller enforces the
    * cap). The min-id component representative is still computed by the
    * engine (`min` over the group), so id ordering semantics match the
    * distributed path for every orderable type.
    */
  private def localComponents(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    val edgeRows = p.collect()
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    def indexOf(v: Any): Int = idx.getOrElseUpdate(v, idx.size)
    val es = edgeRows.map(r => (indexOf(r.get(0)), indexOf(r.get(1))))
    val parent = Array.tabulate(idx.size)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val ids = new Array[Any](idx.size)
    idx.foreach { case (v, i) => ids(i) = v }
    val idType = p.schema.fields(0).dataType
    val outRows = ids.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(v, find(i))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("__g", org.apache.spark.sql.types.IntegerType)))
    val grouped = spark.createDataFrame(
      spark.sparkContext.parallelize(outRows.toIndexedSeq, 1), schema)
    val reps = grouped.groupBy(col("__g")).agg(min(col("id")).as("component"))
    grouped.join(reps, "__g").select(col("id"), col("component"))
  }

  /** Exact embedding near-dup: all pairs (idA < idB) with cosine >=
    * `threshold`. Brute-force O(n²) pairs through the codegen'd
    * [[graft.functions.DotProduct]] kernel — exact, CPU-bound, right up
    * to ~10^5 vectors per executor-partition-pair. Above that, use
    * [[embeddingNearDupLsh]].
    */
  def embeddingNearDup(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val v = df.select(
      col(idCol).as("__id"),
      VectorFunctions.asDouble(col(vecCol)).as("__v"),
      VectorFunctions.norm(col(vecCol)).as("__n"))
    v.as("a")
      .join(v.as("b"), col("a.__id") < col("b.__id"))
      .select(
        col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        (VectorFunctions.dot(col("a.__v"), col("b.__v")) /
          (col("a.__n") * col("b.__n"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Random-hyperplane LSH variant: `bits`-bit sign signature per vector
    * (hyperplanes derived deterministically from SplitMix64 — no stored
    * model), candidates = pairs agreeing on at least one of
    * `bands` signature bands, verified with exact cosine. Approximate
    * (banding may miss borderline pairs) but linear-ish in candidates —
    * the 100 TB path.
    */
  def embeddingNearDupLsh(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bits: Int = 32, bands: Int = 8): DataFrame = {
    val v = df.select(
      col(idCol).as("__id"),
      VectorFunctions.asDouble(col(vecCol)).as("__v"),
      VectorFunctions.norm(col(vecCol)).as("__n"))
    // keys-only banding (no vector payload through the bands-fold
    // explode); exact cosine verification re-joins the vectors onto the
    // candidate pairs only. First-shared-band anchor = exactly-once
    // without a dropDuplicates shuffle (see minhashLsh).
    val banded = v
      .withColumn("__bks", VectorFunctions.signBandKeys(bits, bands)(col("__v")))
      .select(col("__id"), col("__bks"),
        posexplode(col("__bks")).as(Seq("__band", "__bv")))
    val firstShared =
      array_position(zip_with(col("a.__bks"), col("b.__bks"), (x, y) => x === y),
        true) - 1
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bv") === col("b.__bv") &&
          col("a.__id") < col("b.__id") && col("a.__band") === firstShared)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    cands
      .join(v.select(col("__id"), col("__v").as("__va"), col("__n").as("__na")),
        col("id_a") === col("__id")).drop("__id")
      .join(v.select(col("__id"), col("__v").as("__vb"), col("__n").as("__nb")),
        col("id_b") === col("__id"))
      .select(
        col("id_a"), col("id_b"),
        (VectorFunctions.dot(col("__va"), col("__vb")) /
          (col("__na") * col("__nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
