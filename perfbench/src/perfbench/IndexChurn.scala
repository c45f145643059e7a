package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.operators.Search
import graft.sources.IndexIO
import graft.streaming.Streaming

/** `index_churn`: a BM25 index kept fresh from a change feed, with reads
  * between the writes.
  *
  * `Streaming.maintainBm25IndexCdc` consumes a MemoryStream; the client
  * hands it one change batch at a time and waits with
  * `processAllAvailable()`. Each batch adds [[IndexChurn.Batch]] new docs
  * and removes the same number of the oldest, so the live size stays at
  * [[IndexChurn.Live]] and round k does the work of round 1. After each
  * batch [[IndexChurn.Queries]] Zipf-popular queries go through
  * `Search.bm25SearchIndex`. With `compactEvery` = [[IndexChurn.CompactEvery]]
  * every second batch compacts (each batch adds a tombstone and an append
  * segment), and a round is exactly those two batches. The maintainer
  * vacuums once per round (`vacuumEvery` = 2, keeping 2 versions), so the
  * directory, and with it the cost of a round, stays bounded.
  *
  * The index lives on the counting `cntfs://` scheme, so every file-system
  * call of the `sources` layer is counted; the stream's checkpoint stays on
  * the plain local file system.
  */
final class IndexChurn(ctx: Ctx) extends Workload {
  import IndexChurn._

  val ops: Seq[String] = Seq("apply", "compact", "search")

  private val spark = ctx.spark
  private var docs: Docs = _
  private var generation = 0
  private var dir: File = _
  private var path: String = _
  private var input: MemoryStream[(Long, String, String)] = _
  private var query: StreamingQuery = _
  private var queryRng: SplittableRandom = _
  /** ids [oldest, next) are live */
  private var oldest = 0L
  private var next = 0L
  private var fed = 0L
  private var bytesWrittenTimed = 0L
  private var ingestedTimed = 0L
  private val spaceAmp = mutable.ArrayBuffer.empty[Double]
  private val segmentsSeen = mutable.ArrayBuffer.empty[Double]
  private val liveRatio = mutable.ArrayBuffer.empty[Double]
  private val versions = mutable.ArrayBuffer.empty[Double]

  /** micro-batches the stream ran (non-empty), and their durations */
  private object progress extends StreamingQueryListener {
    val batches = new java.util.concurrent.atomic.AtomicLong
    val addBatchMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val overheadMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    @volatile var recording = false
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0 && recording) {
        batches.incrementAndGet()
        val d = p.durationMs
        val add = Option(d.get("addBatch")).map(_.longValue).getOrElse(0L)
        val trig = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        addBatchMs.add(add)
        overheadMs.add(trig - add)
      }
    }
  }
  spark.streams.addListener(progress)

  def generate(): Unit = {
    docs = new Docs(ctx.args.seed)
    queryRng = new SplittableRandom(ctx.args.seed ^ 0x5DEECE66DL)
  }

  def bootstrap(): Unit = {
    stopQuery()
    generation += 1
    dir = new File(ctx.args.scratch, s"churn-$generation")
    if (generation > 1) deleteTree(new File(ctx.args.scratch, s"churn-${generation - 1}"))
    path = s"cntfs://${new File(dir, "index").getAbsolutePath}"
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[(Long, String, String)]
    query = Streaming.maintainBm25IndexCdc(
      input.toDF().toDF("doc_id", "status", "text"), "doc_id", "status", "text",
      path, new File(dir, "checkpoint").getAbsolutePath, compactEvery = CompactEvery,
      vacuumEvery = BatchesPerRound, vacuumRetain = 2)
    oldest = 0L
    next = Live.toLong
    input.addData((0L until next).map(i => (i, "added", docs.text(i))))
    query.processAllAvailable()
    if (IndexIO.segments(spark, path).length != 1)
      ctx.fail("bootstrap", "the first batch did not build a one-segment index")
  }

  /** Feed one change batch; returns the chain's segment count afterwards. */
  private def changeBatch(): Int = {
    val adds = (next until next + Batch).map(i => (i, "added", docs.text(i)))
    val dels = (oldest until oldest + Batch).map(i => (i, "removed", null: String))
    input.addData(dels ++ adds)
    query.processAllAvailable()
    oldest += Batch
    next += Batch
    fed += 1
    val bytes = adds.map(_._3.getBytes(UTF_8).length.toLong).sum
    if (ctx.timed) ingestedTimed += bytes
    IndexIO.segments(spark, path).length
  }

  private def search(): Unit = {
    val terms = Seq.fill(TermsPerQuery)(docs.zipfWord(queryRng)).distinct
    if (ctx.tracer.enabled && ctx.timed)
      segmentsSeen += IndexIO.segments(spark, path).length
    ctx.dfOp("search")(Search.bm25SearchIndex(spark, path, terms, TopK))(identity) { rows =>
      if (rows.length > TopK) Some(s"${rows.length} rows for top-$TopK")
      else None
    }
  }

  def round(): Unit = {
    val w0 = FsCounters.bytesWritten.get
    for (_ <- 0 until BatchesPerRound) {
      ctx.opNamedBy("apply")(changeBatch())(segs => if (segs == 1) "compact" else "apply") { segs =>
        if (segs < 1) Some(s"chain has $segs segments") else None
      }
      for (_ <- 0 until Queries) search()
    }
    if (ctx.timed) bytesWrittenTimed += FsCounters.bytesWritten.get - w0
  }

  override def afterRound(): Unit = {
    // the fixed query's top-k from the live chain must equal a one-shot
    // BM25 over exactly the live documents
    import spark.implicits._
    val live = (oldest until next).map(i => (i, docs.text(i))).toDF("doc_id", "text")
    val want = Search.bm25TopK(live, "doc_id", "text", FixedQuery, TopK).collect().toSeq
    val got = Search.bm25SearchIndex(spark, path, FixedQuery, TopK).collect().toSeq
    def pairs(rs: Seq[Row]) = rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    ctx.attempted += 1
    Checks.topK(pairs(want), pairs(got)).foreach(ctx.fail("search top-k vs live docs", _))
    if (ctx.timed) {
      val liveBytes = (oldest until next).map(docs.text(_).getBytes(UTF_8).length.toLong).sum
      spaceAmp += treeBytes(new File(dir, "index")).toDouble / liveBytes
      if (ctx.tracer.enabled) {
        val stored = IndexIO.chainTable(spark, path, "lengths").map(_.count()).getOrElse(0L)
        liveRatio += Live.toDouble / math.max(1L, stored)
        versions += IndexIO.versions(spark, path).length
      }
    }
  }

  override def extra: Map[String, Double] = {
    import Stats.{median => med}
    val searchMs = ctx.walls.getOrElse("search", Nil).map(_ * 1000).toSeq
    Map(
      "churn.apply_p50_s" -> med(ctx.walls.getOrElse("apply", Nil).toSeq),
      "churn.compact_s" -> med(ctx.walls.getOrElse("compact", Nil).toSeq),
      "churn.search_p50_ms" -> med(searchMs),
      "churn.search_tail_ms" -> Stats.tail(searchMs)._2,
      "churn.write_amp" -> bytesWrittenTimed.toDouble / math.max(1L, ingestedTimed),
      "churn.space_amp" -> med(spaceAmp.toSeq),
      "sources.chain_segments" -> (if (segmentsSeen.isEmpty) 0.0 else segmentsSeen.sum / segmentsSeen.size),
      "sources.live_ratio" -> med(liveRatio.toSeq),
      "sources.versions_on_disk" -> versions.lastOption.getOrElse(0.0),
      "streaming.add_batch_ms" -> med(progressMs(progress.addBatchMs)),
      "streaming.overhead_ms" -> med(progressMs(progress.overheadMs)),
      "streaming.replayed_batches" -> math.max(0L, progress.batches.get - timedBatches).toDouble)
  }

  private var timedBatches = 0L
  private def progressMs(q: java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]) = {
    import scala.jdk.CollectionConverters._
    q.asScala.map(_.toDouble).toSeq
  }

  /** Stream progress is recorded for the timed rounds only. */
  override def startTimed(): Unit = { progress.recording = true; timedBatches = -fed }
  override def endTimed(): Unit = {
    ctx.tracer.drain()
    progress.recording = false
    timedBatches += fed
  }

  private def stopQuery(): Unit = if (query != null) { query.stop(); query = null }

  override def close(): Unit = {
    stopQuery()
    spark.streams.removeListener(progress)
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L) else f.length

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object IndexChurn {
  val Live = 1000
  val Batch = 100
  val Queries = 1
  val TermsPerQuery = 2
  val TopK = 10
  val CompactEvery = 5
  val BatchesPerRound = 2
  val Vocab = 3000
  val WordsPerDoc = 30
  val FixedQuery: Seq[String] = Seq("t3", "t17", "t101")

  /** Documents by id: each text is a pure function of (seed, id), with
    * words drawn from a Zipf(1.1) vocabulary of `t<rank>` terms.
    */
  final class Docs(seed: Long) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(Vocab)(r => 1.0 / math.pow(r + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def zipfWord(rng: SplittableRandom): String = {
      val u = rng.nextDouble()
      var lo = 0; var hi = cdf.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      s"t$lo"
    }
    def text(id: Long): String = {
      val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
      Seq.fill(WordsPerDoc)(zipfWord(rng)).mkString(" ")
    }
  }
}
