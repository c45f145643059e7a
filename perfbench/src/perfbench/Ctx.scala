package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Command-line settings of one run. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    scratch: String, spans: String)

/** What one workload does: it makes its inputs from the seed, builds its
  * initial state, and runs one round of its fixed op mix through
  * [[Ctx.op]]. `generate` and `bootstrap` run several times in a run (the
  * set-up is timed as their median), so both must start from scratch.
  */
trait Workload {
  def ops: Seq[String]
  def generate(): Unit
  def bootstrap(): Unit
  def round(): Unit
  /** Correctness checks too costly for every op; run between rounds, untimed. */
  def afterRound(): Unit = ()
  /** Called right before the first and right after the last timed round. */
  def startTimed(): Unit = ()
  def endTimed(): Unit = ()
  /** Workload-specific numbers, keyed like the per-layer metric names. */
  def extra: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Several workloads run as one: each step runs every part in turn. */
final class Composite(parts: Seq[Workload]) extends Workload {
  val ops: Seq[String] = parts.flatMap(_.ops)
  def generate(): Unit = parts.foreach(_.generate())
  def bootstrap(): Unit = parts.foreach(_.bootstrap())
  def round(): Unit = parts.foreach(_.round())
  override def afterRound(): Unit = parts.foreach(_.afterRound())
  override def startTimed(): Unit = parts.foreach(_.startTimed())
  override def endTimed(): Unit = parts.foreach(_.endTimed())
  override def extra: Map[String, Double] = parts.map(_.extra).reduce(_ ++ _)
  override def close(): Unit = parts.foreach(_.close())
}

/** Run state shared by the harness and a workload: op timing, failure
  * counts, and (in a traced run) the spans and plan shapes of each op.
  */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val sc = spark.sparkContext
  var timed = false
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** wall seconds of each op in the timed rounds */
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** plan shape of each DataFrame op's last timed execution (traced runs) */
  val plans = mutable.Map.empty[String, Map[String, Double]]

  def fail(what: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$what: $why"
    System.err.println(s"perfbench: CHECK FAILED $what: $why")
  }

  /** Run one op: time it, count it, and check its result. A throw counts as
    * a failed op. Returns the result when the op completed.
    */
  def op[T](name: String)(body: => T)(check: T => Option[String]): Option[T] =
    run[T](name, _ => name, body, check)

  /** [[op]] for an op whose kind is only known once it ran, e.g. an index
    * batch that turned out to compact: `nameOf` names it from its result.
    */
  def opNamedBy[T](provisional: String)(body: => T)(nameOf: T => String)(
      check: T => Option[String]): Option[T] =
    run[T](provisional, nameOf, body, check)

  private def run[T](name: String, nameOf: T => String, body: => T,
      check: T => Option[String]): Option[T] = {
    attempted += 1
    sc.setJobGroup(s"op:$name", name)
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.span(s"op:$name")(body))
      catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    res match {
      case Right(v) =>
        val n = nameOf(v)
        if (n != name) tracer.rename(s"op:$name", s"op:$n")
        if (timed) walls.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += wall
        check(v).foreach(fail(n, _))
        Some(v)
      case Left(e) =>
        fail(name, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** An op over one DataFrame: `build` is the graft call (planning plus any
    * eager jobs it starts), `finish` reduces the result to a few rows, and
    * collecting those rows is the action.
    */
  def dfOp(name: String)(build: => DataFrame)(finish: DataFrame => DataFrame)(
      check: Array[Row] => Option[String]): Option[Array[Row]] =
    op(name) {
      val df = tracer.span("operators.call")(build)
      val out = finish(df)
      val rows = tracer.span("action")(out.collect())
      if (tracer.enabled && timed) plans(name) = Plans.shape(out)
      rows
    }(check)
}

/** Node counts of a finished query's final (adaptive) physical plan. */
object Plans extends AdaptiveSparkPlanHelper {
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

  def shape(df: DataFrame): Map[String, Double] = {
    val ns = nodes(df)
    def named(n: String) = ns.count(_.getClass.getSimpleName == n).toDouble
    Map(
      "range_broadcast" -> named("BroadcastRangeJoinExec"),
      "range_shuffled" -> named("ShuffledRangeJoinExec"),
      "nested_loop" -> ns.count {
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
        case _ => false
      }.toDouble,
      "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
      "planning_ms" -> df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)
  }
}
