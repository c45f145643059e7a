package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.multimodal.Multimodal
import graft.operators.{CorpusDiff, Decontaminate, Dedup, Dsir, IndexSync, Search, SimilaritySearch}

/** Every [[IndexFamily]] constructor through both change-set entries:
  * a snapshot sync ([[IndexSync.sync]]) and a change feed
  * ([[Streaming.maintainCdc]]) from the old snapshot to the new one —
  * one id added, one changed, one removed — must serve exactly what a
  * one-shot build on the new snapshot serves, and serve its live ids.
  */
class IndexFamilySuite extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One family: its constructor over an index path, its `(old, new)`
    * snapshots (id first), its serving output, and the output column
    * holding served index ids (None for the id-free profile families).
    * Families with a model trained at bootstrap serve only ids: a
    * one-shot build trains on other rows.
    */
  private case class Case(
      name: String,
      family: String => IndexFamily,
      snapshots: () => (DataFrame, DataFrame),
      serve: String => DataFrame,
      servedIds: Option[String])

  // old snapshot: ids 1..6; new: ids 2..7, id 3 changed
  private val oldIds = 1L to 6L
  private val newIds = 2L to 7L
  private def snapshot[T](ids: Seq[Long])(content: (Long, Boolean) => T) =
    ids.map(i => (i, content(i, ids == newIds && i == 3L)))

  private def text(i: Long, changed: Boolean) =
    if (changed) s"common rewritten words tok${i % 3} shared phrase again"
    else s"common word$i tok${i % 3} shared phrase here"
  private lazy val texts = (
    snapshot(oldIds)(text).toDF("doc_id", "text"),
    snapshot(newIds)(text).toDF("doc_id", "text"))
  private lazy val grouped = (
    texts._1.withColumn("grp", when($"doc_id" % 2 === 0, "en").otherwise("es")),
    texts._2.withColumn("grp", when($"doc_id" % 2 === 0, "en").otherwise("es")))
  private lazy val target = texts._2.filter($"doc_id" % 2 === 0)

  private def vec(i: Long, changed: Boolean): Array[Float] =
    Array.tabulate(8)(d => ((if (changed) -1 else 1) * math.sin(i * 2.1 + d) + 0.05 * i).toFloat)
  private lazy val vectors = (
    snapshot(oldIds)(vec).toDF("vec_id", "embedding"),
    snapshot(newIds)(vec).toDF("vec_id", "embedding"))
  private lazy val queries =
    Seq(100L, 101L).map(i => (i, vec(i, changed = false))).toDF("vec_id", "embedding")

  /** A 64x64 two-tone PNG of shape `kind` (0..2). */
  private def png(kind: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 64; y <- 0 until 64) {
      val (fx, fy) = (x / 64.0, y / 64.0)
      val bright = kind match {
        case 0 => fx > fy
        case 1 => (fx - 0.5) * (fx - 0.5) + (fy - 0.5) * (fy - 0.5) < 0.09
        case _ => fx + fy < 0.7
      }
      val v = if (bright) 210 else 45
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }
  private lazy val images = (
    snapshot(oldIds)((i, c) => png(((i + (if (c) 1 else 0)) % 3).toInt)).toDF("doc_id", "payload"),
    snapshot(newIds)((i, c) => png(((i + (if (c) 1 else 0)) % 3).toInt)).toDF("doc_id", "payload"))

  /** A mono 8 kHz WAV: 40 windows of 400 samples, each window at a
    * pseudo-random level drawn from `seed`.
    */
  private def wav(seed: Long): Array[Byte] = {
    def level(wi: Int) = {
      var x = (wi + seed * 1000L) * 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      0.10 + 0.05 * java.lang.Math.floorMod(x ^ (x >>> 31), 5L)
    }
    val n = 40 * 400
    val pcm = new Array[Byte](n * 2)
    for (f <- 0 until n) {
      val v = (level(f / 400) * 20000).toInt.toShort
      pcm(2 * f) = (v & 0xff).toByte
      pcm(2 * f + 1) = ((v >> 8) & 0xff).toByte
    }
    val af = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), af, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    buf.toByteArray
  }
  private lazy val audio = (
    snapshot(oldIds)((i, c) => wav(if (c) 50 + i else i)).toDF("doc_id", "payload"),
    snapshot(newIds)((i, c) => wav(if (c) 50 + i else i)).toDF("doc_id", "payload"))

  /** Whole videos: six frames cut into two scenes; the changed video is
    * one scene.
    */
  private def video(v: Long, changed: Boolean): Seq[(Int, Array[Byte])] =
    (0 until 6).map { fi =>
      val c = (v % 3).toInt
      (fi, png(if (changed) 1 else if (fi <= 1 + c % 2) c else (c + 1) % 3))
    }
  private lazy val videos = (
    snapshot(oldIds)(video).toDF("doc_id", "frames"),
    snapshot(newIds)(video).toDF("doc_id", "frames"))
  private lazy val probeFrames = videos._2
    .select(($"doc_id" + 100L).as("doc_id"), explode($"frames").as("f"))
    .select($"doc_id", $"f._1".as("frame_idx"), $"f._2".as("payload"))

  /** The new snapshot of `media` as probes under other ids. */
  private def probes(media: (DataFrame, DataFrame)) =
    media._2.select(($"doc_id" + 100L).as("doc_id"), $"payload")

  private def annIds(served: DataFrame) = served.select("neighbor_id").distinct()

  private val cases = Seq(
    Case("bm25", IndexFamily.bm25("doc_id", "text", _), () => texts,
      Search.bm25SearchIndex(spark, _, Seq("common", "tok1"), k = 10), Some("doc_id")),
    Case("lexical", IndexFamily.lexical("doc_id", "text", _), () => texts,
      Search.phraseSearchIndex(spark, _, Seq("shared", "phrase"), k = 10), Some("doc_id")),
    Case("minhash", IndexFamily.minhash("doc_id", "text", _), () => texts,
      p => Dedup.dedupAgainstMinhashIndex(spark,
        texts._2.select(($"doc_id" + 100L).as("doc_id"), $"text"), "doc_id", "text", p,
        threshold = 0.5),
      Some("id_right")),
    Case("ivf", IndexFamily.ivf("vec_id", "embedding", _, nCentroids = 2, iters = 1),
      () => vectors,
      SimilaritySearch.searchIvf(spark, _, queries, "vec_id", "embedding", k = 8, nProbe = 2),
      Some("neighbor_id")),
    Case("ivfSq8", IndexFamily.ivfSq8("vec_id", "embedding", _, nCentroids = 2, iters = 1),
      () => vectors,
      SimilaritySearch.searchIvfSq8(spark, _, queries, "vec_id", "embedding", k = 8, nProbe = 2),
      Some("neighbor_id")),
    Case("pq", IndexFamily.pq("vec_id", "embedding", _, m = 2, kCodes = 2), () => vectors,
      p => annIds(SimilaritySearch.searchPqIndex(spark, p, queries, "vec_id", "embedding", k = 8)),
      Some("neighbor_id")),
    Case("ivfPq", IndexFamily.ivfPq("vec_id", "embedding", _, nCentroids = 2, m = 2, kCodes = 2),
      () => vectors,
      p => annIds(SimilaritySearch.searchIvfPq(spark, p, queries, "vec_id", "embedding", k = 8,
        nProbe = 2)),
      Some("neighbor_id")),
    Case("semDedup", IndexFamily.semDedup("vec_id", "embedding", _, k = 2, threshold = 0.99,
        iters = 1),
      () => vectors,
      SimilaritySearch.semDedupIndexStatus(spark, _, "vec_id").select("vec_id"), Some("vec_id")),
    Case("aHash", IndexFamily.aHash("doc_id", "payload", _), () => images,
      Multimodal.dedupAgainstAHashIndex(spark, probes(images), "doc_id", "payload", _,
        maxHamming = 63),
      Some("index_id")),
    Case("pHash", IndexFamily.pHash("doc_id", "payload", _), () => images,
      Multimodal.dedupAgainstPHashIndex(spark, probes(images), "doc_id", "payload", _,
        maxHamming = 63),
      Some("index_id")),
    Case("audioHash", IndexFamily.audioHash("doc_id", "payload", _), () => audio,
      Multimodal.dedupAgainstAudioHashIndex(spark, probes(audio), "doc_id", "payload", _,
        maxHamming = 63),
      Some("index_id")),
    Case("audioFp", IndexFamily.audioFp("doc_id", "payload", _), () => audio,
      Multimodal.dedupAgainstAudioFpIndex(spark, probes(audio), "doc_id", "payload", _,
        minShared = 1),
      Some("index_id")),
    Case("scene", IndexFamily.scene("doc_id", "_1", "_2", _, framesCol = Some("frames")),
      () => videos,
      Multimodal.dedupAgainstSceneIndex(spark, probeFrames, "doc_id", "frame_idx", "payload", _,
        pairMaxHamming = 63),
      Some("index_id")),
    Case("dsir", IndexFamily.dsir("text", _, Some(IndexFamily.DsirTarget(target, "text", 64))),
      () => texts,
      p => {
        val (tp, rp) = Dsir.dsirIndexProfiles(spark, p)
        Dsir.importanceScore(texts._2, "doc_id", "text", tp, rp, 64)
      },
      None),
    Case("dsirByGroup", IndexFamily.dsirByGroup("text", "grp", _,
        Some(IndexFamily.DsirTarget(target.withColumn("grp", lit("en")), "text", 64))),
      () => grouped,
      p => {
        val (tp, rp) = Dsir.dsirIndexProfilesByGroup(spark, p)
        Dsir.importanceScoreByGroup(grouped._2, "doc_id", "text", "grp", tp, rp, 64)
      },
      None),
    Case("eval", IndexFamily.eval("text", _, n = 3), () => texts,
      Decontaminate.evalIndexHashes(spark, _), None))

  /** Bootstrap `family` from `old` through a change feed, then feed the
    * `old -> next` change set as one batch: changed and removed rows
    * carry their old text in `old_text`, removed rows their old content.
    */
  private def feed(family: IndexFamily, old: DataFrame, next: DataFrame): Unit = {
    val id = old.columns.head
    val content = next.columns.toSeq.tail
    val oldText = if (old.columns.contains("text")) col("o.text") else lit(null).cast("string")
    val changes = CorpusDiff.diff(old, next, id, content)
      .join(next.as("n"), Seq(id), "left").join(old.as("o"), Seq(id), "left")
      .select(col(id) +: col("status") +:
        content.map(c => coalesce(col(s"n.$c"), col(s"o.$c")).as(c)) :+ oldText.as("old_text"): _*)
    val boot = old.select(col(id) +: lit("added").as("status") +: content.map(col) :+
      lit(null).cast("string").as("old_text"): _*)
    val schema = StructType(changes.schema.map(_.copy(nullable = true)))
    val input = MemoryStream[Row](Encoders.row(schema), spark.sqlContext)
    val q = Streaming.maintainCdc(family, input.toDF(), "status", tmp("graft_family_ck_"))
    try {
      input.addData(boot.collect().toSeq: _*)
      q.processAllAvailable()
      input.addData(changes.collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  for (c <- cases)
    test(s"IndexFamily.${c.name}: sync and change feed serve a one-shot build of the new " +
        "snapshot") {
      val (old, next) = c.snapshots()
      val synced = tmp(s"graft_family_${c.name}_sync_")
      c.family(synced).build(old, None)
      IndexSync.sync(c.family(synced), old, next)
      val fed = tmp(s"graft_family_${c.name}_cdc_")
      feed(c.family(fed), old, next)
      val fresh = tmp(s"graft_family_${c.name}_fresh_")
      c.family(fresh).build(next, None)
      val want = c.serve(fresh)
      assertSameRows(c.serve(synced), want)
      assertSameRows(c.serve(fed), want)
      c.servedIds.foreach { ids =>
        assert(want.select(ids).as[Long].collect().toSet == newIds.toSet, "served live ids")
      }
    }
}
