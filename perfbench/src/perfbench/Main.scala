package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import Stats.median

import org.apache.spark.sql.SparkSession

/** One benchmark run: start Spark with GraftExtensions, set the workload up
  * [[Main.SetupRepeats]] times, warm it up, then run timed rounds for
  * `--seconds` and print the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics (`--trace 1`) as the last line of standard output.
  *
  * Exit code 0 when every op completed and passed its check, 1 otherwise,
  * 3 when the session lacks GraftExtensions (nothing is measured then).
  */
object Main {
  val ShufflePartitions = 8
  val BroadcastThreshold: Long = 64L * 1024
  val SetupRepeats = 3
  val MinRounds = 2
  /** Spark's default of 100 generated classes is smaller than one
    * `index_churn` round needs (about 170), so every round recompiled all of
    * them; a cache that holds the op mix keeps the timed window steady.
    */
  val CodegenCacheEntries = 2000
  /** untimed rounds after set-up; part of `setup_s` */
  val WarmupRounds: Map[String, Int] = Map("join_dedup" -> 3, "index_churn" -> 1)

  val Ops: Seq[String] = Seq(
    "fuzzy_band", "ineq_broadcast", "ineq_shuffled_skew", "theta_range", "asof_by",
    "kernel", "ngram_jaccard",
    "apply", "compact", "search")
  val RangeOps: Seq[String] = Seq(
    "fuzzy_band", "ineq_broadcast", "ineq_shuffled_skew", "theta_range", "asof_by", "search")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("scratch"), m.getOrElse("spans", "spans.jsonl"))
  }

  def slots: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(scratch: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.hadoop.fs.cntfs.impl", classOf[CountingFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.cntfs.impl",
        classOf[CountingAbstractFileSystem].getName)
      .getOrCreate()

  /** The range-join operators only plan as range joins when GraftExtensions
    * installed its strategy; without it IneqJoin silently plans a nested
    * loop, which would make every number here meaningless.
    */
  def graftActive(spark: SparkSession): Boolean =
    spark.sessionState.planner.strategies.exists(_ eq graft.plans.RangeJoinStrategy)

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "join_dedup" => new Composite(Seq(new NonequiJoin(ctx), new DedupCorpus(ctx)))
    case "index_churn" => new IndexChurn(ctx)
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.scratch)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (!graftActive(spark)) {
      System.err.println("perfbench: GraftExtensions is not active in the session; refusing to run")
      spark.stop()
      sys.exit(3)
    }
    val tracer = new Tracer(spark.sparkContext, a.trace, s"${a.workload}-${a.seed}-${System.nanoTime()}")
    val ctx = new Ctx(spark, a, tracer)
    val w = workload(a.workload, ctx)
    val code =
      try run(ctx, w, sessionS)
      finally { w.close(); spark.stop() }
    sys.exit(code)
  }

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def run(ctx: Ctx, w: Workload, sessionS: Double): Int = {
    val a = ctx.args
    // set-up, repeated: each repetition regenerates the inputs and rebuilds
    // the initial state from nothing; the median repetition is reported
    val gens = mutable.ArrayBuffer.empty[Double]
    val boots = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until SetupRepeats) {
      gens += timeS(w.generate())
      boots += timeS(w.bootstrap())
    }
    val warmupS = timeS { for (_ <- 0 until WarmupRounds(a.workload)) { w.round(); w.afterRound() } }
    val setupS = sessionS + median(gens.toSeq) + median(boots.toSeq) + warmupS

    // timed rounds
    val jvm = new JvmProbe
    ctx.tracer.drain()
    val before = new Snapshot(ctx, jvm)
    val spansBefore = ctx.tracer.closed.size
    ctx.tracer.total.peakMem = 0L
    ctx.timed = true
    w.startTimed()
    /** `cpu` is the process's CPU time less the JIT compiler threads' (`jit`) */
    final case class Round(wall: Double, cpu: Double, jit: Double, steal: Double)
    val all = mutable.ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    while (all.size < MinRounds || elapsedS < a.seconds) {
      val (s0, c0, j0, r0) = (jvm.stealTicks, jvm.cpuNs, jvm.compilerCpuNs, System.nanoTime())
      ctx.tracer.span("round")(w.round())
      val wall = (System.nanoTime() - r0) / 1e9
      val steal = (jvm.stealTicks - s0) / (wall * JvmProbe.TicksPerS * JvmProbe.nproc)
      val jit = (jvm.compilerCpuNs - j0) / 1e9
      all += Round(wall, (jvm.cpuNs - c0) / 1e9 - jit, jit, steal)
      w.afterRound()
    }
    val roundWall = all.map(_.wall)
    val roundCpu = all.map(_.cpu)
    w.endTimed()
    ctx.timed = false
    ctx.tracer.drain()
    val after = new Snapshot(ctx, jvm)
    val rounds = all.size
    val peakMb = ctx.tracer.total.peakMem / 1048576.0

    val opMedians = w.ops.map(o => median(ctx.walls.getOrElse(o, Nil).toSeq)).filter(_ > 0)
    val geomean = if (opMedians.isEmpty) 0.0 else math.exp(opMedians.map(math.log).sum / opMedians.size)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "round_s" -> (median(roundWall.toSeq), "s"),
      "round_cpu_s" -> (median(roundCpu.toSeq), "s"),
      "op_geomean_s" -> (geomean, "s"),
      "peak_exec_mem_mb" -> (peakMb, "MB"),
      "ok_rate" -> ((ctx.attempted - ctx.failed).toDouble / math.max(1L, ctx.attempted), "ratio"))

    val extra = w.extra
    val correct = ctx.failed == 0 && ctx.attempted > 0
    println(s"perfbench ${a.workload} seed=${a.seed} rounds=$rounds seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} ops attempted=${ctx.attempted} failed=${ctx.failed}")
    println(s"config ${Config.describe(ctx.spark, a)}")
    println(s"setup session=${fmt(sessionS)}s generate=${gens.map(fmt).mkString("/")}s " +
      s"bootstrap=${boots.map(fmt).mkString("/")}s warmup=${fmt(warmupS)}s")
    println(s"rounds wall=${all.map(r => fmt(r.wall)).mkString(" ")} cpu=${all.map(r => fmt(r.cpu)).mkString(" ")} " +
      s"jit_cpu=${all.map(r => fmt(r.jit)).mkString(" ")} steal=${all.map(r => f"${r.steal}%.3f").mkString(" ")}")
    ctx.walls.foreach { case (o, ws) => println(f"  op $o%-20s median ${fmt(median(ws.toSeq))} s of ${ws.size}") }
    e2e.foreach { case (k, (v, u)) => println(f"  $k%-18s ${fmt(v)} $u") }
    extra.foreach { case (k, v) => println(f"  $k%-34s ${fmt(v)}") }
    ctx.failures.foreach(f => println(s"  FAILED $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else {
        val layer = Layers.metrics(ctx, w, before, after, spansBefore, rounds,
          median(roundWall.toSeq), sessionS, median(gens.toSeq), median(boots.toSeq), warmupS, extra)
        ctx.tracer.write(a.spans)
        println(s"spans -> ${a.spans}")
        println("self time by span (timed and untimed):")
        ctx.tracer.selfTimes.foreach { case (n, s, c) => println(f"  $n%-22s ${fmt(s)}%12s s  x$c") }
        layer.foreach { case (k, v, u) => println(f"  $k%-40s ${fmt(v)} $u") }
        layer
      }
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$json}}""")
    if (correct) 0 else 1
  }

  def fmt(v: Double): String = if (v == v.toLong && math.abs(v) < 1e15) v.toLong.toString else f"$v%.6g"
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

object JvmProbe {
  val TicksPerS = 100.0
  val nproc: Int = Runtime.getRuntime.availableProcessors()
}

/** Process CPU time, host steal, and JVM compiler / collector totals. */
final class JvmProbe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  /** CPU time of the JIT compiler threads (`C1/C2 CompilerThread<n>`, named
    * `C2 CompilerThre` in `/proc/self/task/<tid>/comm`), in ns; 0 where
    * `/proc` is not readable. run.py keeps every compiler thread alive for
    * the whole run, so none of their time drops out of the sum.
    */
  def compilerCpuNs: Long = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def ns(task: Path): Long =
      try {
        if (!new String(Files.readAllBytes(task.resolve("comm"))).contains("CompilerThre")) 0L
        else {
          // fields after "(comm) ": state is field 3, utime 14, stime 15
          val stat = new String(Files.readAllBytes(task.resolve("stat")))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          ((f(11).toLong + f(12).toLong) * (1e9 / JvmProbe.TicksPerS)).toLong
        }
      } catch { case scala.util.control.NonFatal(_) => 0L }
    try {
      val tasks = Files.list(Paths.get("/proc/self/task"))
      try tasks.iterator.asScala.map(ns).sum finally tasks.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }
  }
  /** CPU time the host gave other tenants while this VM wanted it, summed
    * over all CPUs, in ticks; 0 where /proc/stat is not readable.
    */
  def stealTicks: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Run totals at the edge of the timed window. */
final class Snapshot(ctx: Ctx, jvm: JvmProbe) {
  private val t = ctx.tracer.total
  val nanos: Long = System.nanoTime()
  val jobs: Long = t.jobs
  val stages: Long = t.stages
  val tasks: Long = t.tasks
  val runMs: Long = t.runMs
  val cpuNs: Long = t.cpuNs
  val shuffleWrite: Long = t.shuffleWrite
  val shuffleRead: Long = t.shuffleRead
  val spill: Long = t.spill
  val jitMs: Long = jvm.jitMs
  val gcMs: Long = jvm.gcMs
  val compiles: Long = jvm.codegenCompiles
}

/** The run's configuration, recorded with every result. */
object Config {
  def describe(spark: SparkSession, a: Args): String = {
    val c = spark.conf
    Seq(
      "seed" -> a.seed,
      "task_slots" -> Main.slots,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap" -> sys.props.getOrElse("perfbench.heap", s"${Runtime.getRuntime.maxMemory() >> 20}m"),
      "gc" -> sys.props.getOrElse("perfbench.gc", "default"),
      "jit" -> sys.props.getOrElse("perfbench.jit", "default"),
      "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
      "aqe" -> c.get("spark.sql.adaptive.enabled"),
      "broadcast_threshold" -> c.get("spark.sql.autoBroadcastJoinThreshold"),
      "codegen_cache" -> c.get("spark.sql.codegen.cache.maxEntries"),
      "graft_extensions" -> Main.graftActive(spark),
      "spark" -> spark.version,
    ).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }
}
