package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Search

/** Scale probe for the streaming-maintenance lifecycle: the BM25 index
  * grown as `batches` append segments (the shape a crawl stream
  * produces via [[graft.streaming.Streaming.maintain]]) vs a
  * one-shot build — per-append cost, serving cost against a long
  * segment chain vs the compacted single segment, and the compaction
  * itself. Usage: runMain graft.tools.MaintenanceStress [sfDir] [batches]
  */
object MaintenanceStress {
  def t[T](l: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[stress] $l: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batches = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val n = docs.count()
    println(s"[stress] corpus $n docs, $batches append batches")

    val terms = Seq("vector", "stream", "spark")
    val oneShot = java.nio.file.Files.createTempDirectory("maint_oneshot").toString
    t("one-shot build") {
      Search.buildBm25Index(docs, "doc_id", "text", oneShot)
    }
    val chained = java.nio.file.Files.createTempDirectory("maint_chain").toString
    t(s"bootstrap (batch 1/$batches)") {
      Search.buildBm25Index(docs.filter(col("doc_id") % batches === 0),
        "doc_id", "text", chained, marker = Some("b0"))
    }
    (1 until batches).foreach { i =>
      t(f"append batch ${i + 1}%2d/$batches") {
        Search.appendToBm25Index(docs.filter(col("doc_id") % batches === i),
          "doc_id", "text", chained, marker = Some(s"b$i"))
      }
    }
    println(s"[stress] chain segments: " +
      graft.sources.IndexIO.segments(spark, chained).length +
      ", markers: " + graft.sources.IndexIO.segmentMarkers(spark, chained).size)
    // serving parity + cost: chained vs one-shot vs compacted
    val a = t(s"serve ($batches-segment chain)") {
      Search.bm25SearchIndex(spark, chained, terms, k = 20).collect().toSeq
    }
    val b = t("serve (one-shot index)") {
      Search.bm25SearchIndex(spark, oneShot, terms, k = 20).collect().toSeq
    }
    require(a == b, "chained serving diverged from the one-shot build")
    t("compact chain") { Search.compactBm25Index(spark, chained) }
    println(s"[stress] markers after compact: " +
      graft.sources.IndexIO.segmentMarkers(spark, chained).size)
    val c = t("serve (compacted)") {
      Search.bm25SearchIndex(spark, chained, terms, k = 20).collect().toSeq
    }
    require(c == b, "compacted serving diverged")
    spark.stop()
  }
}
