package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexSync, Search, SimilaritySearch}
import graft.streaming.IndexFamily

/** Scale probe for the CDC → index path: at a steady-state crawl the
  * question is "is syncing a d% delta cheaper than rebuilding?", and
  * by how much — per delta fraction, for a text index (BM25: delete =
  * stats-correcting tombstone, append = re-tokenize the changed slice)
  * and a vector index (IVF: frozen-centroid assignment of the changed
  * vectors). Prints rebuild vs sync seconds and the post-sync
  * `IndexIO.describe` row, plus a serving spot-check against the
  * rebuilt index so a degenerate sync can't hide.
  *
  * Usage: runMain graft.tools.CdcStress [sfDir] [copies]
  */
object CdcStress {
  def t[T](l: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[stress] $l: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docs = (0 until copies).map(i =>
      base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
      .repartition(32).localCheckpoint(true)
    val n = docs.count()
    println(s"[stress] corpus ${n} docs (${copies}x)")

    // ---- BM25: rebuild vs sync at three delta fractions ----
    for (pct <- Seq(100, 20, 5)) {
      // the NEW snapshot: 1/pct of ids re-written, 1/(2·pct) removed,
      // 1/(2·pct) fresh ids added
      val newSnap = docs
        .filter(col("doc_id") % (2 * pct) =!= 1) // removed slice
        .withColumn("text", when(col("doc_id") % pct === 0,
          concat(col("text"), lit(" revised"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % (2 * pct) === 0)
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text")))
        .localCheckpoint(true)
      val frac = 100.0 / pct
      println(f"[stress] -- delta ≈ $frac%.0f%% changed + ${frac / 2}%.1f%% removed/added --")
      val rebuilt = java.nio.file.Files.createTempDirectory("cdc_rebuild").toString
      t(f"bm25 REBUILD on new snapshot") {
        Search.buildBm25Index(newSnap, "doc_id", "text", rebuilt)
      }
      val synced = java.nio.file.Files.createTempDirectory("cdc_sync").toString
      Search.buildBm25Index(docs, "doc_id", "text", synced)
      t(f"bm25 SYNC (diff + tombstone + delta append)") {
        IndexSync.sync(IndexFamily.bm25("doc_id", "text", synced), docs, newSnap)
      }
      val a = Search.bm25SearchIndex(spark, synced,
        Seq("vector", "stream", "spark"), k = 20).collect().toSeq
      val b = Search.bm25SearchIndex(spark, rebuilt,
        Seq("vector", "stream", "spark"), k = 20).collect().toSeq
      require(a == b, "synced serving diverged from the rebuild")
      graft.sources.IndexIO.describe(spark, synced, "lengths", "doc_id")
        .show(truncate = false)
    }

    // ---- IVF: rebuild (retrain) vs sync (frozen centroids) ----
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val emb = (0 until copies).map(i =>
      embBase.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        col("embedding")))
      .reduce(_ unionByName _)
      .repartition(32).localCheckpoint(true)
    println(s"[stress] embeddings ${emb.count()} vectors")
    val newEmb = emb
      .filter(col("vec_id") % 40 =!= 1)
      .withColumn("embedding", when(col("vec_id") % 20 === 0,
        transform(col("embedding"), x => negate(x))).otherwise(col("embedding")))
      .localCheckpoint(true)
    val ivfRebuilt = java.nio.file.Files.createTempDirectory("cdc_ivf_rb").toString
    t("ivf REBUILD (retrain + encode)") {
      SimilaritySearch.buildIvfIndex(newEmb, "vec_id", "embedding", ivfRebuilt)
    }
    val ivfSynced = java.nio.file.Files.createTempDirectory("cdc_ivf_sync").toString
    SimilaritySearch.buildIvfIndex(emb, "vec_id", "embedding", ivfSynced)
    t("ivf SYNC (frozen centroids, ~7.5% delta)") {
      IndexSync.sync(IndexFamily.ivf("vec_id", "embedding", ivfSynced), emb, newEmb)
    }
    val qs = emb.filter(col("vec_id") < 20)
    val recall = SimilaritySearch.recallSummary(
      SimilaritySearch.searchIvf(spark, ivfSynced, qs, "vec_id", "embedding",
        k = 5, nProbe = 16),
      SimilaritySearch.bruteForceTopK(qs, newEmb, "vec_id", "embedding", k = 5))
      .head().getDouble(2)
    println(s"[stress] ivf synced exhaustive recall vs new snapshot: $recall")
    require(recall == 1.0, "synced IVF must serve the exact subset top-k")

    // ---- MinHash: rebuild vs sync (the near-dup family) ----
    val mhNew = docs
      .filter(col("doc_id") % 40 =!= 1)
      .withColumn("text", when(col("doc_id") % 20 === 0,
        concat(col("text"), lit(" revised"))).otherwise(col("text")))
      .localCheckpoint(true)
    val mhRebuilt = java.nio.file.Files.createTempDirectory("cdc_mh_rb").toString
    t("minhash REBUILD on new snapshot") {
      Dedup.buildMinhashIndex(mhNew, "doc_id", "text", mhRebuilt)
    }
    val mhSynced = java.nio.file.Files.createTempDirectory("cdc_mh_sync").toString
    Dedup.buildMinhashIndex(docs, "doc_id", "text", mhSynced)
    t("minhash SYNC (diff + tombstone + re-sketch, ~7.5% delta)") {
      IndexSync.sync(IndexFamily.minhash("doc_id", "text", mhSynced), docs, mhNew)
    }
    // serving spot-check: probe a slice against both artifacts
    val probe = base.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 800000000L).as("doc_id"), col("text"))
    val pa = Dedup.dedupAgainstMinhashIndex(spark, probe, "doc_id", "text",
      mhSynced, threshold = 0.8).select("id_left", "id_right").collect().toSet
    val pb = Dedup.dedupAgainstMinhashIndex(spark, probe, "doc_id", "text",
      mhRebuilt, threshold = 0.8).select("id_left", "id_right").collect().toSet
    require(pa == pb, "synced minhash serving diverged from the rebuild")
    println(s"[stress] minhash probe pairs: ${pa.size} (synced == rebuilt)")

    // ---- maintainer cost scales with the DELTA, not the corpus ----
    // The CDC maintainers apply a change feed as (tombstone ids +
    // re-sketch/re-encode the changed rows) — exactly the batch shape
    // below. A FIXED delta (first-copy rows only) against corpora of
    // growing multiplier must cost ~flat seconds: nothing in the apply
    // path re-reads the corpus. (The *sync* path above, by contrast,
    // pays one slim corpus-wide diff join to DERIVE the delta — that
    // is the sync-vs-rebuild crossover's corpus-linear term.)
    val deltaDocs = base
      .filter(col("doc_id") % 20 === 0)
      .withColumn("text", concat(col("text"), lit(" cdc revision")))
      .localCheckpoint(true)
    val deltaIds = base.filter(col("doc_id") % 20 === 0)
      .select("doc_id").localCheckpoint(true)
    val nDelta = deltaDocs.count()
    val embSmall = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val deltaVecs = embSmall.filter(col("vec_id") % 20 === 0)
      .withColumn("embedding", transform(col("embedding"), x => negate(x)))
      .localCheckpoint(true)
    val deltaVecIds = deltaVecs.select("vec_id").localCheckpoint(true)
    val nDeltaV = deltaVecs.count()
    println(s"[stress] -- fixed delta: $nDelta docs / $nDeltaV vectors --")
    for (m <- Seq(1, 4, copies.max(10))) {
      val corpusM = (0 until m).map(i =>
        base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text")))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val nM = corpusM.count()
      val embM = (0 until m).map(i =>
        embSmall.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          col("embedding")))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val nE = embM.count()
      val bmIdx = java.nio.file.Files.createTempDirectory(s"cdc_sc_bm_$m").toString
      Search.buildBm25Index(corpusM, "doc_id", "text", bmIdx)
      t(f"bm25 maintainer batch @ ${m}x corpus ($nM docs): " +
        f"${nDelta} -doc delta") {
        Search.deleteFromBm25Index(spark, bmIdx, deltaIds, "doc_id")
        Search.appendToBm25Index(deltaDocs, "doc_id", "text", bmIdx)
      }
      val mhIdx = java.nio.file.Files.createTempDirectory(s"cdc_sc_mh_$m").toString
      Dedup.buildMinhashIndex(corpusM, "doc_id", "text", mhIdx)
      t(f"minhash maintainer batch @ ${m}x corpus ($nM docs)") {
        IndexFamily.Stored.minhash("doc_id", mhIdx).delete(deltaIds)
        Dedup.appendToMinhashIndex(deltaDocs, "doc_id", "text", mhIdx)
      }
      val ivIdx = java.nio.file.Files.createTempDirectory(s"cdc_sc_iv_$m").toString
      SimilaritySearch.buildIvfIndex(embM, "vec_id", "embedding", ivIdx)
      t(f"ivf maintainer batch @ ${m}x corpus ($nE vecs)") {
        IndexFamily.Stored.ivf("vec_id", ivIdx).delete(deltaVecIds)
        SimilaritySearch.appendToIvfIndex(spark, ivIdx, deltaVecs, "vec_id",
          "embedding")
      }
    }
    spark.stop()
  }
}
