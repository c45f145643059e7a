package graft.operators

import graft.SparkSpec
import graft.streaming.IndexFamily
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC → index sync ([[IndexSync]]): one call makes a persisted index
  * match a new snapshot via the existing tombstone+append lifecycle —
  * serving afterwards equals a one-shot build on the new snapshot.
  */
class IndexSyncSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // old snapshot: doc 2 carries a stale revision (changed), doc 6 is
  // retired (removed), doc 5 is missing (added in new)
  private def newDocs = Seq(
    (1L, "spark streams tokens through the vector index"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "pack my box with five dozen liquor jugs"),
    (4L, "a completely unrelated document about databases"),
    (5L, "fresh crawl document mentioning vector search and spark")
  ).toDF("doc_id", "text")

  private def oldDocs = Seq(
    (1L, "spark streams tokens through the vector index"),
    (2L, "the quick brown fox STALE OLD revision text"),
    (3L, "pack my box with five dozen liquor jugs"),
    (4L, "a completely unrelated document about databases"),
    (6L, "retired document that must vanish from serving")
  ).toDF("doc_id", "text")

  test("syncBm25Index: synced serving == one-shot build on the new snapshot") {
    val synced = tmp("graft_sync_bm25_")
    val fresh = tmp("graft_fresh_bm25_")
    Search.buildBm25Index(oldDocs, "doc_id", "text", synced)
    IndexSync.sync(IndexFamily.bm25("doc_id", "text", synced), oldDocs, newDocs)
    Search.buildBm25Index(newDocs, "doc_id", "text", fresh)
    for (terms <- Seq(Seq("vector", "spark"), Seq("fox", "dog"), Seq("retired")))
      assertSameRows(
        Search.bm25SearchIndex(spark, synced, terms, k = 10),
        Search.bm25SearchIndex(spark, fresh, terms, k = 10))
    // the stale revision died, the new revision serves: "STALE" finds
    // nothing, the restored "dog" finds doc 2
    assert(Search.bm25SearchIndex(spark, synced, Seq("stale"), k = 10).isEmpty)
    assert(Search.bm25SearchIndex(spark, synced, Seq("dog"), k = 10)
      .select("doc_id").as[Long].collect().toSet == Set(2L))
  }

  test("syncLexicalIndex: BM25 AND phrase serving match the one-shot unified build") {
    val synced = tmp("graft_sync_lex_")
    val fresh = tmp("graft_fresh_lex_")
    Search.buildLexicalIndex(oldDocs, "doc_id", "text", synced)
    IndexSync.sync(IndexFamily.lexical("doc_id", "text", synced), oldDocs, newDocs)
    Search.buildLexicalIndex(newDocs, "doc_id", "text", fresh)
    assertSameRows(
      Search.bm25SearchIndex(spark, synced, Seq("vector", "spark"), k = 10),
      Search.bm25SearchIndex(spark, fresh, Seq("vector", "spark"), k = 10))
    assertSameRows(
      Search.phraseSearchIndex(spark, synced, Seq("quick", "brown", "fox"), k = 10),
      Search.phraseSearchIndex(spark, fresh, Seq("quick", "brown", "fox"), k = 10))
    // the changed doc's NEW positions serve (old revision had no
    // "lazy dog" bigram after "fox")
    assert(Search.phraseSearchIndex(spark, synced, Seq("lazy", "dog"), k = 10)
      .select("doc_id").as[Long].collect().toSet == Set(2L))
  }

  test("syncMinhashIndex: synced probes == probes against a fresh build") {
    val synced = tmp("graft_sync_mh_")
    val fresh = tmp("graft_fresh_mh_")
    Dedup.buildMinhashIndex(oldDocs, "doc_id", "text", synced, n = 3)
    IndexSync.sync(IndexFamily.minhash("doc_id", "text", synced), oldDocs, newDocs)
    Dedup.buildMinhashIndex(newDocs, "doc_id", "text", fresh, n = 3)
    // sketches are content-deterministic, so probing the synced chain
    // must equal probing the fresh build exactly
    val probes = newDocs.select(col("doc_id") + 100L as "doc_id", col("text"))
    assertSameRows(
      Dedup.dedupAgainstMinhashIndex(spark, probes, "doc_id", "text", synced),
      Dedup.dedupAgainstMinhashIndex(spark, probes, "doc_id", "text", fresh))
  }

  test("syncIvfIndex + syncPqIndex: removed ids vanish, changed vectors re-encode") {
    def vec(i: Int): Array[Float] =
      Array.tabulate(4)(d => (math.sin(i * 2.1 + d) + 0.05 * i).toFloat)
    val newVecs = (1 to 8).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    // old: vec 3 negated (changed), vec 8 missing (added), vec 99 retired
    val oldVecs = ((1 to 7).map(i =>
        (i.toLong, if (i == 3) vec(3).map(-_) else vec(i))) :+ (99L, vec(1)))
      .toDF("vec_id", "embedding")
    val queries = (1 to 2).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

    val ivf = tmp("graft_sync_ivf_")
    SimilaritySearch.buildIvfIndex(oldVecs, "vec_id", "embedding", ivf, nCentroids = 2)
    IndexSync.sync(IndexFamily.ivf("vec_id", "embedding", ivf), oldVecs, newVecs)
    // exhaustive probes == exact top-k over the NEW snapshot
    assertSameRows(
      SimilaritySearch.searchIvf(spark, ivf, queries, "vec_id", "embedding",
        k = 4, nProbe = 2),
      SimilaritySearch.bruteForceTopK(queries, newVecs, "vec_id", "embedding", k = 4))

    val pq = tmp("graft_sync_pq_")
    SimilaritySearch.buildPqIndex(oldVecs, "vec_id", "embedding", pq, m = 2, kCodes = 2)
    IndexSync.sync(IndexFamily.pq("vec_id", "embedding", pq), oldVecs, newVecs)
    val served = SimilaritySearch.searchPqIndex(spark, pq, queries,
      "vec_id", "embedding", k = 8).select("neighbor_id").as[Long].collect().toSet
    assert(!served.contains(99L), "retired id must not serve")
    assert(served.contains(8L), "added id must serve")
  }

  test("a no-change sync publishes nothing") {
    val idx = tmp("graft_sync_noop_")
    Search.buildBm25Index(newDocs, "doc_id", "text", idx)
    val before = graft.sources.IndexIO.segments(spark, idx).toSeq
    IndexSync.sync(IndexFamily.bm25("doc_id", "text", idx), newDocs, newDocs)
    assert(graft.sources.IndexIO.segments(spark, idx).toSeq == before,
      "identical snapshots must not grow the chain")
  }

  test("syncAHashIndex/syncPHashIndex: re-encoded media re-hash, retired hashes die") {
    import graft.multimodal.Multimodal
    // orthogonal edge patterns: strong low-frequency content, so BOTH
    // hash families separate them far beyond radius 4, while identical
    // payloads hash identically
    def png(vertical: Boolean, w: Int = 32): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, w, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until w) {
        val v = if ((if (vertical) x else y) < w / 2) 220 else 35
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val dark = png(vertical = true); val light = png(vertical = false)
    // old snapshot: image 1 is a stale render (dark, later re-encoded
    // light), image 2 is retired, image 3 unchanged
    val oldSnap = Seq((1L, dark), (2L, dark), (3L, light)).toDF("id", "img")
    val newSnap = Seq((1L, light), (3L, light)).toDF("id", "img")
    val probes0 = Seq((10L, dark), (11L, light)).toDF("id", "img")
    // the aHash leg separates the two patterns by Hamming 32 (4 grid
    // columns vs 4 grid rows), so it additionally falsifies a stale or
    // missing hash; pHash's DCT signs can bring orthogonal edges
    // inside radius 4, so that leg asserts the identity claim only
    for ((build, sync, probe, strict) <- Seq[
        ((DataFrame, String, String, String) => Unit,
         (org.apache.spark.sql.SparkSession, DataFrame, DataFrame,
          String, String, String) => Unit,
         String => DataFrame, Boolean)](
        ((d, i, b, p) => Multimodal.buildAHashIndex(d, i, b, p),
         (s, o, n, i, b, p) => IndexSync.sync(IndexFamily.aHash(i, b, p), o, n),
         p => Multimodal.dedupAgainstAHashIndex(spark, probes0, "id", "img",
           p, maxHamming = 4), true),
        ((d, i, b, p) => Multimodal.buildPHashIndex(d, i, b, p),
         (s, o, n, i, b, p) => IndexSync.sync(IndexFamily.pHash(i, b, p), o, n),
         p => Multimodal.dedupAgainstPHashIndex(spark, probes0, "id", "img",
           p, maxHamming = 4), false))) {
      val idx = tmp("graft_sync_perc_")
      build(oldSnap, "id", "img", idx)
      sync(spark, oldSnap, newSnap, "id", "img", idx)
      val fresh = tmp("graft_sync_percf_")
      build(newSnap, "id", "img", fresh)
      def serve(p: String) = probe(p)
      assertSameRows(serve(idx), serve(fresh))
      if (strict) {
        // the stale dark hash is gone: the dark probe matches nothing
        assert(serve(idx).filter(col("id") === 10L).isEmpty)
        // and the re-encoded image serves under its NEW hash
        assert(serve(idx).filter(col("id") === 11L)
          .select("index_id").as[Long].collect().toSet == Set(1L, 3L))
      }
    }
  }
}
