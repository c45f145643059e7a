package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for training pipelines: assign documents to
  * fixed-token-budget training sequences ("bins") without splitting a
  * document — the step between curation and the tokenizer that decides
  * which docs share a context window. Greedy first-fit in a
  * deterministic order, so the packing is reproducible run to run and
  * engine to engine.
  *
  * Beyond the reference surface (SURVEY.md §2.4).
  *
  * == Why chunk-scoped ==
  * Exact greedy packing of a global ordering is inherently sequential —
  * bin boundaries depend on the entire prefix. Sharding the order into
  * deterministic CHUNKS (e.g. `doc_id div 1000`) and packing greedily
  * within each chunk makes every chunk independent: at 100 TB the job
  * is embarrassingly parallel across millions of chunks, and the cost
  * is bounded waste — at most one partially-empty bin per chunk, ≤
  * `maxLen` tokens on a chunk holding ~`chunkSize × avg_tokens`, which
  * vanishes for any reasonable chunk size. This mirrors how production
  * packers shard by file/shard id.
  *
  * == Scale shape ==
  * One hash shuffle on the chunk key; `flatMapSortedGroups` streams
  * each chunk's docs in sorted order through constant per-group state
  * (current bin id + fill) — Spark sorts groups within partitions
  * spillably, nothing is collected, group size never bounds memory.
  */
object Packing {

  /** Pack each chunk's docs (ascending `idCol`) into bins of at most
    * `maxLen` tokens: a doc that does not fit opens the next bin; a doc
    * LARGER than `maxLen` occupies a bin alone (truncation is the
    * tokenizer's concern, splitting is not this operator's contract).
    *
    * Returns `(<idCol>, chunk, bin, bin_fill)` — `bin` numbered from 0
    * within its chunk, `bin_fill` the bin's cumulative token count
    * after placing this doc (so the bin's total is the max over its
    * docs; a packed-sequence id is `(chunk, bin)`).
    *
    * `idCol` and `tokensCol` must be numeric (cast to long); `chunk`
    * any long-castable expression — default shards contiguous id
    * ranges.
    */
  def packGreedy(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      maxLen: Long,
      chunk: Column): DataFrame =
    packGreedyFrom(docs, idCol, tokensCol, maxLen, chunk, Map.empty)

  /** [[packGreedy]] continuing from per-chunk carry-over state
    * (`chunk -> (open bin id, open bin fill)`) — the micro-batch step
    * of the STREAMING packer: batch N+1 keeps filling the bin batch N
    * left open instead of starting every chunk at bin 0. An empty
    * carry is exactly [[packGreedy]].
    *
    * The carry rides into tasks as a closure constant: one small tuple
    * per chunk ever touched (a chunk is a caller-chosen shard key —
    * takedown-sized, not row-scaled). Streams over genuinely unbounded
    * chunk spaces should re-shard, not grow the carry.
    */
  def packGreedyFrom(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      maxLen: Long,
      chunk: Column,
      carry: Map[Long, (Long, Long)]): DataFrame = {
    require(maxLen > 0, s"packGreedy: maxLen must be positive, got $maxLen")
    require(!Seq("chunk", "bin", "bin_fill").contains(idCol),
      s"packGreedy: idCol '$idCol' collides with an output column")
    val spark = docs.sparkSession
    import spark.implicits._
    // Contract errors, not encoder NPEs: a null id/token value or a
    // non-castable chunk expression fails HERE with a named message
    // (assert_true is codegen'd inline — no extra pass), matching the
    // explicit require() style above.
    def checked(c: Column, what: String): Column =
      when(assert_true(c.isNotNull,
        lit(s"packGreedy: $what is null or not castable to long")).isNull, c)
    val in = docs.select(
      checked(chunk.cast("long"), "chunk expression").as("chunk"),
      checked(col(idCol).cast("long"), s"idCol '$idCol'").as("id"),
      checked(col(tokensCol).cast("long"), s"tokensCol '$tokensCol'").as("toks"))
      .as[(Long, Long, Long)]
    in.groupByKey(_._1)
      .flatMapSortedGroups(col("id").asc) { (chunkKey: Long, it: Iterator[(Long, Long, Long)]) =>
        val carried = carry.get(chunkKey)
        var bin = carried.map(_._1).getOrElse(0L)
        var fill = carried.map(_._2).getOrElse(0L)
        // continuing an open bin: the chunk's next doc is NOT "first"
        // (a doc that doesn't fit must open the next bin)
        var first = carried.isEmpty
        it.map { case (_, id, toks) =>
          if (!first && fill + toks > maxLen) { bin += 1; fill = 0L }
          first = false
          fill += toks
          (id, chunkKey, bin, fill)
        }
      }
      .toDF(idCol, "chunk", "bin", "bin_fill")
  }

  /** OFFLINE packing: best-fit-decreasing — docs sorted by token count
    * DESC (id-asc tie-break), each placed into the FULLEST open bin it
    * still fits (lowest bin id on equal fills), else a new bin. The
    * classic offline bin-packing heuristic (≤ 11/9·OPT + 4 bins vs
    * first-fit's 17/10·OPT): fewer, fuller bins than [[packGreedy]]
    * when the whole corpus is on disk and arrival order is free — use
    * the greedy form when order IS the contract (streaming carry,
    * curriculum order). A doc larger than `maxLen` still gets its own
    * (overflowing) bin, like the greedy form's first-doc rule.
    *
    * Same scale shape as [[packGreedy]]: one hash shuffle on the chunk
    * key, per-group state = the open-bin fills (TreeMap keyed by fill,
    * O(log bins) per doc), nothing collected. Deterministic under any
    * input partitioning. Output schema is identical, so the two
    * packers are drop-in swaps.
    */
  def packBestFitDecreasing(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      maxLen: Long,
      chunk: Column): DataFrame = {
    require(maxLen > 0, s"packBestFitDecreasing: maxLen must be positive, got $maxLen")
    require(!Seq("chunk", "bin", "bin_fill").contains(idCol),
      s"packBestFitDecreasing: idCol '$idCol' collides with an output column")
    val spark = docs.sparkSession
    import spark.implicits._
    def checked(c: Column, what: String): Column =
      when(assert_true(c.isNotNull,
        lit(s"packBestFitDecreasing: $what is null or not castable to long")).isNull, c)
    val in = docs.select(
      checked(chunk.cast("long"), "chunk expression").as("chunk"),
      checked(col(idCol).cast("long"), s"idCol '$idCol'").as("id"),
      checked(col(tokensCol).cast("long"), s"tokensCol '$tokensCol'").as("toks"))
      .as[(Long, Long, Long)]
    in.groupByKey(_._1)
      .flatMapSortedGroups(col("toks").desc, col("id").asc) {
        (chunkKey: Long, it: Iterator[(Long, Long, Long)]) =>
          val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
          val byFill = new java.util.TreeMap[Long, java.util.TreeSet[Integer]]()
          def link(fill: Long, idx: Int): Unit = {
            var s = byFill.get(fill)
            if (s == null) { s = new java.util.TreeSet[Integer](); byFill.put(fill, s) }
            s.add(idx); ()
          }
          def unlink(fill: Long, idx: Int): Unit = {
            val s = byFill.get(fill)
            s.remove(idx)
            if (s.isEmpty) byFill.remove(fill)
            ()
          }
          it.map { case (_, id, toks) =>
            val e = byFill.floorEntry(maxLen - toks)
            val idx =
              if (e == null) { fills += 0L; fills.length - 1 }
              else e.getValue.first().intValue()
            if (e != null) unlink(fills(idx), idx)
            fills(idx) += toks
            link(fills(idx), idx)
            (id, chunkKey, idx.toLong, fills(idx))
          }
      }
      .toDF(idCol, "chunk", "bin", "bin_fill")
  }

  /** Driver-held carry-over state for streaming packing: feed each
    * micro-batch (arrival order = packing order; sorted by id within
    * the batch) and write the returned packed rows; the open-bin state
    * crosses batch boundaries. Thread-safe the way foreachBatch needs
    * (batches are sequential; the lock is belt-and-braces).
    */
  final class IncrementalPacker(
      idCol: String, tokensCol: String, maxLen: Long, chunkExpr: Column,
      maxCarryChunks: Int = 1 << 20)
      extends Serializable {
    @volatile private var carry: Map[Long, (Long, Long)] = Map.empty

    // the carry is one (bin, fill) pair per DISTINCT chunk ever seen —
    // bounded by the shard count when the chunk expression is a shard
    // key (the intended use), but a caller passing a high-cardinality
    // chunk (doc id, timestamp) would grow it one entry per ROW and
    // silently OOM the driver across a long stream. Guard loudly.
    private def checkCarry(): Unit =
      require(carry.size <= maxCarryChunks,
        s"IncrementalPacker: carry state holds ${carry.size} distinct " +
          s"chunks > maxCarryChunks=$maxCarryChunks — the chunk " +
          "expression is too fine-grained for streaming packing (use a " +
          "bounded shard key), or raise maxCarryChunks if the " +
          "cardinality is intentional")

    /** Current per-chunk open-bin state (for tests/checkpointing). */
    def state: Map[Long, (Long, Long)] = carry

    /** Pack one micro-batch continuing from the carried state; returns
      * the packed rows (materialized — safe to write AND to fold state
      * from without recomputation).
      */
    def addBatch(batch: DataFrame): DataFrame = synchronized {
      val packed = packGreedyFrom(batch, idCol, tokensCol, maxLen, chunkExpr, carry)
        .localCheckpoint(true)
      // the open bin after this batch = the LAST doc's (bin, fill) per
      // chunk — one row per chunk touched, bounded by the shard count
      val last = packed.groupBy(col("chunk"))
        .agg(max_by(
          struct(col("bin"), col("bin_fill")),
          struct(col("bin"), col(idCol))).as("s"))
        .select(col("chunk"), col("s.bin"), col("s.bin_fill"))
        .collect()
      carry = carry ++ last.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      checkCarry()
      packed
    }

    /** Snapshot the carry state as an atomic [[graft.sources.IndexIO]]
      * version (call after the batch's output commits — the usual
      * checkpoint ordering: state snapshot may lag output, never lead,
      * so a restart repacks from a bin boundary instead of losing one).
      */
    def saveState(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
      synchronized {
        val rows = carry.toSeq.map { case (c, (b, f)) =>
          org.apache.spark.sql.Row(c, b, f) }
        graft.sources.IndexIO.publish(spark, path) { vdir =>
          graft.sources.IndexIO.writeRows(spark, s"$vdir/state",
            org.apache.spark.sql.types.StructType.fromDDL(
              "chunk BIGINT NOT NULL, bin BIGINT NOT NULL, fill BIGINT NOT NULL"),
            rows)
        }
        ()
      }

    /** Resume from a [[saveState]] snapshot (restart path). */
    def restoreState(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
      synchronized {
        val vdir = graft.sources.IndexIO.resolve(spark, path)
        // count BEFORE collecting — the guard must protect the driver,
        // not report after the oversized array already landed; the
        // parquet footers give the exact count with no job
        val n = graft.sources.IndexIO.countRows(spark, s"$vdir/state")
        require(n <= maxCarryChunks,
          s"IncrementalPacker.restoreState: snapshot at $path holds $n " +
            s"chunks > maxCarryChunks=$maxCarryChunks — raise the cap " +
            "or repack with a coarser chunk expression")
        carry = graft.sources.IndexIO.readRows(spark, s"$vdir/state")
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      }
  }
}
