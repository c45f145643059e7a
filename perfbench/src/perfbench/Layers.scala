package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run, named `<layer>.<what>` after the
  * repo's modules (`operators`, `plans`, `functions`, `sources`,
  * `streaming`) plus `spark`, `jvm` and `setup`. Every workload prints the
  * same list; a layer a workload never reaches reads 0, which is how the
  * workloads isolate layers from each other.
  */
object Layers {
  import Stats.median
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  val FsNames: Seq[String] = FsCounters.names.take(6)

  /** Names and units of every workload-specific number ([[Workload.extra]]). */
  val ExtraUnits: Seq[(String, String)] = Seq(
    "functions.kernel_s" -> "s",
    "functions.kernel_rows_per_s" -> "1/s",
    "sources.chain_segments" -> "count",
    "sources.live_ratio" -> "ratio",
    "sources.versions_on_disk" -> "count",
    "streaming.add_batch_ms" -> "ms",
    "streaming.overhead_ms" -> "ms",
    "streaming.replayed_batches" -> "count",
    "churn.apply_p50_s" -> "s",
    "churn.compact_s" -> "s",
    "churn.search_p50_ms" -> "ms",
    "churn.search_tail_ms" -> "ms",
    "churn.write_amp" -> "ratio",
    "churn.space_amp" -> "ratio")

  def metrics(
      ctx: Ctx, w: Workload, before: Snapshot, after: Snapshot, spansBefore: Int,
      rounds: Int, roundS: Double, sessionS: Double, generateS: Double,
      bootstrapS: Double, warmupS: Double,
      extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))
    val spans = ctx.tracer.closed.drop(spansBefore).toSeq
    def opSpans(op: String) = spans.filter(_.name == s"op:$op")
    def children(s: Span, name: String) = spans.filter(c => c.parent == s.id && c.name == name)
    val perRound = 1.0 / math.max(1, rounds)

    for (op <- Main.Ops) {
      val ss = opSpans(op)
      val calls = ss.flatMap(children(_, "operators.call"))
      put(s"operators.$op.wall_s", median(ss.map(_.seconds)), "s")
      put(s"operators.$op.call_s", median(calls.map(_.seconds)), "s")
      put(s"operators.$op.eager_jobs", mean(calls.map(_.tally.jobs.toDouble)), "count")
    }
    for (op <- Main.RangeOps) {
      val p = ctx.plans.getOrElse(op, Map.empty[String, Double])
      for (k <- Seq("range_broadcast", "range_shuffled", "nested_loop", "exchanges"))
        put(s"plans.$op.$k", p.getOrElse(k, 0.0), "count")
      put(s"plans.$op.planning_ms", p.getOrElse("planning_ms", 0.0), "ms")
    }
    put("plans.ngram_jaccard.exchanges",
      ctx.plans.get("ngram_jaccard").flatMap(_.get("exchanges")).getOrElse(0.0), "count")

    val batches = opSpans("apply") ++ opSpans("compact")
    val searches = opSpans("search")
    for ((n, i) <- FsNames.zipWithIndex) {
      put(s"sources.batch.$n", mean(batches.map(_.fs(i).toDouble)), "count")
      put(s"sources.search.$n", mean(searches.map(_.fs(i).toDouble)), "count")
    }
    val bw = FsCounters.names.indexOf("bytes_written")
    put("sources.bytes_written_per_batch", mean(opSpans("apply").map(_.fs(bw).toDouble)), "bytes")
    put("sources.bytes_written_per_compaction", mean(opSpans("compact").map(_.fs(bw).toDouble)), "bytes")

    val windowS = (after.nanos - before.nanos) / 1e9
    val runS = (after.runMs - before.runMs) / 1e3
    put("spark.jobs", (after.jobs - before.jobs) * perRound, "count")
    put("spark.stages", (after.stages - before.stages) * perRound, "count")
    put("spark.tasks", (after.tasks - before.tasks) * perRound, "count")
    put("spark.executor_run_s", runS * perRound, "s")
    put("spark.executor_cpu_s", (after.cpuNs - before.cpuNs) / 1e9 * perRound, "s")
    put("spark.driver_share", 1.0 - runS / math.max(1e-9, windowS * Main.slots), "ratio")
    put("spark.shuffle_write_mb", (after.shuffleWrite - before.shuffleWrite) / 1048576.0 * perRound, "MB")
    put("spark.shuffle_read_mb", (after.shuffleRead - before.shuffleRead) / 1048576.0 * perRound, "MB")
    put("spark.spill_mb", (after.spill - before.spill) / 1048576.0 * perRound, "MB")
    put("spark.task_skew", median(spans.filter(_.name == "round").map(_.tally.taskSkew)), "ratio")
    put("spark.peak_task_mem_mb",
      spans.filter(_.name == "round").map(_.tally.peakMem).foldLeft(0L)(math.max) / 1048576.0, "MB")
    put("spark.codegen_compiles", (after.compiles - before.compiles) * perRound, "count")
    put("jvm.jit_ms", (after.jitMs - before.jitMs) * perRound, "ms")
    put("jvm.gc_ms", (after.gcMs - before.gcMs) * perRound, "ms")

    put("setup.session_s", sessionS, "s")
    put("setup.generate_s", generateS, "s")
    put("setup.bootstrap_s", bootstrapS, "s")
    put("setup.warmup_s", warmupS, "s")
    put("trace.round_s", roundS, "s")

    for ((n, u) <- ExtraUnits) put(n, extra.getOrElse(n, 0.0), u)
    out.toSeq
  }
}
