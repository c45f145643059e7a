package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.operators.IndexSync

/** Spark-job budgets of index-maintenance paths the benchmark does not
  * time: a plain append batch, a retraction CDC batch and a snapshot
  * sync. Each bound is the job count these paths started before the
  * lifecycles moved onto [[IndexFamily]], so the shared lifecycle cannot
  * add a job to any of them.
  */
class MaintainerJobBudgetSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `f` runs, after the listener bus drained. */
  private def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.graft.runtime.ListenerDrain.drain(sc)
    sc.addSparkListener(counter)
    try {
      f
      org.apache.spark.graft.runtime.ListenerDrain.drain(sc)
    } finally sc.removeSparkListener(counter)
    jobs.get
  }

  private def text(i: Long) = s"tok${i % 7} tok${i % 5} word$i common"

  test("maintainBm25Index: one append batch stays within 5 Spark jobs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Streaming.maintainBm25Index(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", tmp("graft_jb_bm25_"), tmp("graft_jb_bm25ck_"))
    val jobs = try {
      input.addData((1L to 8L).map(i => (i, text(i))): _*)
      q.processAllAvailable()
      jobsOf {
        input.addData((9L to 12L).map(i => (i, text(i))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(jobs <= 5, s"$jobs Spark jobs for one append batch")
  }

  test("maintainDsirIndexCdc: one change batch stays within 4 Spark jobs") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 12L).map(i => (i, text(i))).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, String, String)]
    val q = Streaming.maintainDsirIndexCdc(
      input.toDF().toDF("doc_id", "status", "text", "old_text"),
      "doc_id", "status", "text", "old_text", docs, "text", 64,
      tmp("graft_jb_dsir_"), tmp("graft_jb_dsirck_"))
    val jobs = try {
      input.addData((0L until 8L).map(i => (i, "added", text(i), null: String)): _*)
      q.processAllAvailable()
      jobsOf {
        input.addData((8L, "added", text(8), null: String),
          (1L, "removed", null: String, text(1)),
          (2L, "changed", text(2) + " edited", text(2)))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(jobs <= 4, s"$jobs Spark jobs for one change batch")
  }

  test("syncBm25Index: one snapshot sync stays within 15 Spark jobs") {
    val path = tmp("graft_jb_sync_")
    val old = (1L to 10L).map(i => (i, text(i))).toDF("doc_id", "text")
    val next = ((2L to 10L).map(i => (i, if (i == 3L) text(i) + " edited" else text(i))) :+
      (11L, text(11))).toDF("doc_id", "text")
    graft.operators.Search.buildBm25Index(old, "doc_id", "text", path)
    val jobs = jobsOf(IndexSync.syncBm25Index(spark, old, next, "doc_id", "text", path))
    assert(jobs <= 15, s"$jobs Spark jobs for one sync")
  }
}
