package perfbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counted while a span was open (inclusive of its children). */
final class Tally {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  /** task run times (ms) by stage, for the skew of the largest stage */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    tasks += 1
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      stageTasks.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** max ÷ median task run time in the stage with the most task time */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 0.0
    else {
      val ts = stageTasks.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2).toDouble
      if (med <= 0) 1.0 else ts.last / med
    }
}

/** One traced interval at a boundary the benchmark crosses. */
final class Span(val id: Int, val parent: Int, var name: String, val startNs: Long) {
  var endNs = 0L
  var childNs = 0L
  val tally = new Tally
  val fsStart: Array[Long] = FsCounters.snapshot()
  var fsEnd: Array[Long] = fsStart
  def seconds: Double = (endNs - startNs) / 1e9
  def selfSeconds: Double = (endNs - startNs - childNs) / 1e9
  def fs(i: Int): Long = fsEnd(i) - fsStart(i)
}

/** Listener totals for the whole run, and the spans of a traced run.
  *
  * Spans are opened and closed by the one client thread. The listener adds
  * every task to the run totals and to each open span; before a span
  * closes, the listener bus is drained, so the span holds exactly the work
  * its body started, whichever thread (client or stream) started it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) extends SparkListener {
  val total = new Tally
  private val open = mutable.ArrayBuffer.empty[Span]
  val closed = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    open.foreach(_.tally.jobs += 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    total.stages += 1
    open.foreach(_.tally.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    total.add(e)
    open.foreach(_.tally.add(e))
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(sc)

  /** Run `body` inside a span named `name`; a no-op wrapper when untraced. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = new Span(nextId, open.lastOption.map(_.id).getOrElse(-1), name, System.nanoTime())
        nextId += 1
        open += s
        s
      }
      try body
      finally {
        drain()
        synchronized {
          s.endNs = System.nanoTime()
          s.fsEnd = FsCounters.snapshot()
          open -= s
          open.lastOption.foreach(_.childNs += s.endNs - s.startNs)
          closed += s
        }
      }
    }

  /** Rename the most recently closed span called `from`. */
  def rename(from: String, to: String): Unit =
    if (enabled) synchronized { closed.findLast(_.name == from).foreach(_.name = to) }

  /** Spans as JSON lines, one per span, in the order they closed. */
  def write(path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try closed.foreach { s =>
      val fs = FsCounters.names.indices.map(i => s"\"${FsCounters.names(i)}\":${s.fs(i)}")
      out.println(
        s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${s.selfSeconds},""" +
          s""""jobs":${s.tally.jobs},"stages":${s.tally.stages},"tasks":${s.tally.tasks},""" +
          s""""executor_run_ms":${s.tally.runMs},"executor_cpu_ns":${s.tally.cpuNs},""" +
          s""""shuffle_write_bytes":${s.tally.shuffleWrite},""" +
          s""""shuffle_read_bytes":${s.tally.shuffleRead},"spill_bytes":${s.tally.spill},""" +
          s""""peak_task_mem_bytes":${s.tally.peakMem},"task_skew":${s.tally.taskSkew},""" +
          fs.mkString(",") + "}")
    }
    finally out.close()
  }

  /** Self time summed by span name, largest first. */
  def selfTimes: Seq[(String, Double, Int)] =
    closed.groupBy(_.name).map { case (n, ss) => (n, ss.map(_.selfSeconds).sum, ss.size) }
      .toSeq.sortBy(-_._2)
}
