package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  * Times count() of each query's full plan — scan to result — after a
  * small warmup job so JIT/codegen costs don't land on the first query.
  */
object Bench {

  /** The rows reported as `degraded`: those that end with at least one
    * but fewer than `passes` samples (budget shedding, or a failed
    * sample). A noisy row whose extra re-samples were shed still has its
    * `passes` samples and is not degraded; a row with none is `failed`.
    */
  def degradedRows(
      names: Seq[String], samples: Map[String, List[Double]], passes: Int): Seq[String] =
    names.filter(n => samples.get(n).exists(_.size < passes))

  /** Headline set: one per operator family (parity joins, dedup,
    * similarity, text, relational built-ins).
    */
  private val headline = Seq(
    "fuzzy_join_acctbal", "fuzzy_join_ts", "fuzzy_join_decimal",
    "fuzzy_join_sql",
    "ineq_join_acctbal", "ineq_join_dates", "ineq_join_shuffled",
    "interval_join_orders",
    "theta_join_mod", "asof_join_events", "asof_join_unbounded",
    "asof_join_left", "asof_join_left_by", "asof_join_nearest", "asof_join_strict",
    "asof_join_sql", "asof_join_by", "asof_interpolate",
    "asof_interpolate_numeric", "stream_asof_events",
    "dedup_exact", "dedup_minhash", "dedup_ngram_jaccard",
    "dedup_cross_corpus_lsh", "dedup_mask_windows", "pack_sequences",
    "pack_sequences_bfd", "pack_sequences_unigram",
    "tokenize_bpe_ids", "tokenize_unigram",
    "dedup_embedding", "ann_topk", "cluster_embeddings", "semdedup_embeddings",
    "semdedup_incremental", "semdedup_deleted", "stream_maintained_semdedup",
    "mmr_rerank", "mine_hard_negatives",
    "mine_hard_negatives_ivf", "ann_topk_pq", "ann_topk_ivf_pq_search",
    "ann_topk_ivf_pq_meta",
    "text_quality", "doc_fingerprint", "scrub_report", "fold_confusables", "heavy_hitters_tokens",
    "tokenize_bpe", "extract_html", "quality_classifier", "corpus_diff", "corpus_report",
    "stream_nb_gate", "pipeline_web_ingest", "sample_top_fraction",
    "gopher_rules", "lm_ccnet_buckets", "clean_lines", "lang_id_nb",
    "dsir_score", "dsir_resample", "stream_dsir_gate",
    "dsir_score_appended", "dsir_source_report",
    "dsir_score_deleted", "dsir_score_by_lang", "stream_dsir_gate_by_lang",
    "dsir_resample_by_lang", "dsir_score_by_lang_deleted",
    "stream_maintained_dsir_by_lang",
    "lang_id_nb_priors", "strip_source_boilerplate",
    "stream_strip_boilerplate",
    "stream_lang_gate", "shard_by_tokens", "shard_write_roundtrip",
    "normalize_scores_by_source", "dedup_by_url",
    "embedding_drift", "stream_embedding_drift", "embedding_drift_by_source",
    "ann_index_drift",
    "embedding_outliers", "stream_embedding_outliers",
    "multimodal_image_dedup", "multimodal_audio_dedup",
    "multimodal_audio_dedup_shift", "multimodal_audio_dedup_shift_indexed",
    "strip_source_boilerplate_lines",
    "multimodal_image_dedup_indexed", "multimodal_image_dedup_phash",
    "multimodal_image_dedup_phash_indexed", "multimodal_video_dedup",
    "multimodal_video_dedup_perceptual", "multimodal_video_scenes",
    "multimodal_video_scene_dedup", "multimodal_video_scene_indexed",
    "chunk_documents_sentences",
    "decontaminate_docs", "contamination_report", "decontaminate_bloom", "stream_decontaminate",
    "stream_lm_gate", "stream_lm_gate3", "lm_score_trigram",
    "lm_score_4gram",
    "bm25_search", "bm25_search_prf", "bm25_search_deleted", "bm25_search_batch",
    "bm25_search_appended", "bm25_search_unified", "phrase_search_unified",
    "bm25_search_merged", "phrase_search_deleted", "asof_interpolate_by",
    "index_sync", "index_sync_ivf", "stream_cdc_bm25", "stream_cdc_ivf", "stream_cdc_lexical", "index_sync_dsir",
    "stream_cdc_minhash", "stream_cdc_semdedup", "index_sync_phash", "index_describe",
    "bm25_search_time_travel", "ann_topk_ivf_time_travel",
    "ann_topk_ivf_sq8_appended", "stream_maintained_bm25",
    "stream_maintained_dsir", "stream_maintained_ann",
    "stream_maintained_pq", "stream_maintained_ivf_sq8",
    "stream_maintained_ahash", "stream_maintained_phash",
    "stream_maintained_audiofp", "stream_maintained_scenes",
    "stream_maintained_eval",
    "phrase_search", "phrase_search_indexed", "phrase_search_batch", "phrase_search_batch_indexed", "phrase_snippets",
    "phrase_search_appended",
    "hybrid_search_rrf", "hybrid_search_rrf_indexed",
    "hybrid_search_rrf_both_indexed", "hybrid_lexical_phrase",
    "mine_hard_negatives_index", "stream_hybrid_decontaminate",
    // serve-only rows (SparkEntry.benchServe): the lifecycle queries
    // above time build+serve in one row by construction; these time the
    // steady-state serving plan alone against the setup-built artifact,
    // so serving regressions are never masked by one-time build cost
    "bm25_search_deleted_serve", "bm25_search_appended_serve",
    "phrase_search_appended_serve", "hybrid_lexical_phrase_serve",
    "hybrid_search_rrf_both_indexed_serve", "mine_hard_negatives_index_serve",
    "stream_hybrid_decontaminate_serve",
    // serve splits of the stream_maintained_* lifecycles: the full rows
    // time bootstrap+appends+compactions+serve in one number; these
    // time serving the stream-built chain alone (setup builds it), so a
    // serving regression behind a maintained chain is directly visible
    // against the batch sibling (bm25_search, ann_topk_ivf_persisted, …)
    "stream_maintained_bm25_serve", "stream_maintained_ann_serve",
    "stream_maintained_pq_serve", "stream_maintained_ivf_sq8_serve",
    "stream_maintained_dsir_serve", "stream_maintained_dsir_by_lang_serve",
    "stream_maintained_semdedup_serve", "stream_maintained_ahash_serve",
    "stream_maintained_phash_serve", "stream_maintained_audiofp_serve",
    "stream_maintained_scenes_serve", "stream_maintained_eval_serve",
    // serve splits of the stream_cdc_* change-feed lifecycles
    "stream_cdc_bm25_serve", "stream_cdc_lexical_serve",
    "stream_cdc_ivf_serve", "stream_cdc_minhash_serve",
    "sample_weighted", "filter_by_source_quality", "lm_score_docs",
    "stream_pack_sequences", "stream_pack_state",
    "mix_sources", "mix_temperature", "shuffle_corpus",
    "sample_token_budget", "sample_token_budget_bpe", "sample_token_budget_unigram",
    "pipeline_semantic_dedup",
    "agg_pricing",
    "stream_window_counts", "sessionize_events", "pipeline_clean_corpus",
    "pipeline_pack_clean", "pipeline_chunk_pack", "pipeline_dsir_select",
    // round-17: the most expensive previously correctness-only queries
    // (round-16 verdict #5 — a query with no timing signal can regress
    // silently). The remaining un-benched entries are sub-100ms scan
    // projections / small-dim relational rows (PLANS.md round-17 note).
    "bpe_train", "unigram_train",
    "dedup_components", "dedup_components_distributed",
    "dedup_components_reliable", "dedup_keep_best",
    "dedup_incremental", "dedup_incremental_appended",
    "dedup_incremental_deleted", "dedup_cross_corpus",
    "dedup_simhash", "dedup_winnow_pairs", "dedup_span_pairs",
    "dedup_suffix_spans", "dedup_strip_spans", "dedup_suffix_spans_self",
    "dedup_embedding_lsh", "dedup_lines",
    "ann_topk_ivf", "ann_topk_ivf_pq", "ann_topk_ivf_pq_rerank",
    "ann_topk_ivf_pq_filtered", "ann_topk_lsh", "ann_topk_sq8",
    "ann_topk_ivf_sq8", "ann_topk_pq_persisted",
    "theta_join_udf", "theta_join_substr", "mem_estimate",
    "sql_curation", "decontaminate_containment",
    "decontaminate_eval_deleted",
    "stream_ingest_pipeline", "stream_ingest_pipeline_bpe",
    "stream_embedding_dedup", "stream_index_dedup",
    "stream_decontaminate_indexed",
    "semdedup_pruned", "lm_score_kn", "stream_kn_gate",
    "mix_temperature_tokens", "sample_token_budget_by_source",
    "chunk_documents_bpe_overlap",
    "stream_cdc_dsir", "stream_cdc_dsir_serve",
    "index_sync_eval", "stream_cdc_eval")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // WALL-CLOCK BUDGET (additions-only; round-18 postmortem): the
    // driver kills the whole bench run at a fixed timeout, and on a
    // slow/noisy VM the full 3-pass + re-sample schedule can exceed it
    // — round 18 lost BOTH bench artifacts (rc=124) and with them every
    // per-query number. Under budget pressure the bench now sheds extra
    // SAMPLES, never ROWS: pass 1 always runs every query (one sample
    // per row minimum — a dropped row reads as a regression), passes
    // 2-3 and the noisy re-sample passes skip a query when the elapsed
    // time plus that query's last observed cost would cross the budget.
    // Rows that end with fewer than `passes` samples are reported in
    // "degraded" so a short median is attributable ([[degradedRows]]). Timing semantics of every sample are unchanged.
    val budgetSecs = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SECS")
      .map(_.toDouble).getOrElse(2400.0)
    val tStart = System.nanoTime()
    def elapsedSecs: Double = (System.nanoTime() - tStart) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: run every headline plan once at the smallest SF so
    // codegen compilation + JVM JIT of each operator's kernels happen
    // before the clock starts (measured runs then reflect steady-state
    // throughput, which is what a long-running cluster job sees).
    // full queries plus the serve-only lifecycle rows (benchServe)
    val allFns: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = SparkEntry.queries ++ SparkEntry.benchServe
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      headline.filter(allFns.contains).foreach { name =>
        try allFns(name)(spark, warmDir).count()
        catch { case _: Throwable => () }
      }
    // setup (untimed) at the MEASURED sf: queries with a build-once
    // artifact pay the build here, so every timed pass — including the
    // first — measures steady-state serving only and the per-query
    // spread stays box-noise-sized instead of carrying one train+encode.
    val setupFailed = scala.collection.mutable.ListBuffer.empty[String]
    Seq("ann_topk_ivf_pq_search", "ann_topk_ivf_pq_meta",
        "stream_lm_gate", "stream_lm_gate3", "tokenize_bpe_ids",
        "tokenize_unigram",
        // lifecycle queries whose *_serve rows need the artifact on
        // disk before the first timed pass
        "bm25_search_deleted", "bm25_search_appended",
        "phrase_search_appended", "hybrid_lexical_phrase",
        "hybrid_search_rrf_both_indexed", "mine_hard_negatives_index",
        "stream_hybrid_decontaminate",
        "stream_dsir_gate", "dsir_score_appended",
        "dsir_score_deleted", "stream_dsir_gate_by_lang", "ann_index_drift",
        "dsir_score_by_lang_deleted", "semdedup_deleted",
        // the maintained _serve rows build-if-missing: running them
        // once here streams the chain untimed, so every timed pass
        // serves the already-built artifact
        "stream_maintained_bm25_serve", "stream_maintained_ann_serve",
        "stream_maintained_pq_serve", "stream_maintained_ivf_sq8_serve",
        "stream_maintained_dsir_serve", "stream_maintained_dsir_by_lang_serve",
        "stream_maintained_semdedup_serve", "stream_maintained_ahash_serve",
        "stream_maintained_phash_serve", "stream_maintained_audiofp_serve",
        "stream_maintained_scenes_serve", "stream_maintained_eval_serve",
        "stream_maintained_pq", "index_sync", "index_sync_ivf",
        "index_sync_dsir", "index_sync_phash",
        // the time-travel gates build + record their pin once here;
        // timed passes measure serving the PINNED view (the audit)
        "bm25_search_time_travel", "ann_topk_ivf_time_travel",
        "mix_temperature_tokens_unigram", "pack_sequences_unigram",
        // the CDC _serve rows build-if-missing, same contract
        "stream_cdc_bm25_serve", "stream_cdc_lexical_serve",
        "stream_cdc_ivf_serve", "stream_cdc_minhash_serve",
        // describe's lifecycle builds once here; timed passes report
        "index_describe")
      .filter(allFns.contains)
      .foreach { name =>
        try allFns(name)(spark, sfDir).count()
        catch { case e: Throwable =>
          // record it: when setup fails, the first timed pass pays the
          // full build cost and the spread metric would misread as box
          // noise — the JSON marker makes the condition attributable
          setupFailed += name
          System.err.println(s"[bench] setup $name failed: $e")
        }
      }

    // three timed passes over the WHOLE suite (not 3 back-to-back runs
    // per query): back-to-back repeats of one query share page cache,
    // JIT state, and any transient box noise, so their min hides
    // cross-invocation variance — the round-4 ineq_join_acctbal reading
    // whipsawed 0.8 s -> 1.85 s -> 0.67 s across rounds while its
    // within-invocation min looked stable. Interleaving whole-suite
    // passes makes each sample an independent visit, and reporting the
    // per-query SPREAD (max - min across passes) alongside the median
    // lets the gate distinguish a real regression from a noisy sample.
    val names = headline.filter(allFns.contains)
    val passes = 3
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    (1 to passes).foreach { pass =>
      names.foreach { name =>
        // budget shedding applies only AFTER the row has one sample:
        // estimate this sample's cost from the row's last observation
        val shed = pass > 1 && samples.contains(name) &&
          elapsedSecs + samples(name).head > budgetSecs
        if (!shed) {
          val t0 = System.nanoTime()
          // a sample is recorded ONLY when the query completes: timing a
          // throw would report time-to-exception as a 10-20x "speedup" and
          // deflate the suite total (round-10 events family did exactly that)
          try {
            allFns(name)(spark, sfDir).count()
            val s = (System.nanoTime() - t0) / 1e9
            samples(name) = s :: samples.getOrElse(name, Nil)
          } catch { case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name failed: $e")
          }
        }
      }
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // adaptive re-sampling: a row whose 3-pass spread exceeds 20% of
    // its median is NOISY — two more interleaved passes over just the
    // noisy set make its reported median a median-of-5, so one bad
    // sample (GC pause, page-cache miss, a maintainer's streaming
    // latencies) can no longer move the row's number. The cheap rows
    // stay at 3 samples; only the noise pays for more.
    val noisy = names.filter { n =>
      samples.get(n).exists { ss =>
        val m = median(ss)
        m > 0 && (ss.max - ss.min) / m > 0.20
      }
    }
    (1 to 2).foreach { _ =>
      noisy.foreach { name =>
        if (elapsedSecs + samples(name).head <= budgetSecs) {
          val t0 = System.nanoTime()
          try {
            allFns(name)(spark, sfDir).count()
            val s = (System.nanoTime() - t0) / 1e9
            samples(name) = s :: samples.getOrElse(name, Nil)
          } catch { case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name failed on re-sample: $e")
          }
        }
      }
    }
    val timed = names.filter(samples.contains)
    // the reported number is the MEDIAN (of 3, or 5 for noisy rows) —
    // robust against one-off outliers in BOTH directions, unlike the
    // old min (which hid slow-mode regressions) or a single sample
    val results = timed.map(n => n -> median(samples(n)))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val mins = timed.map { n =>
      "\"" + n + "\":" + f"${samples(n).min}%.3f"
    }.mkString("{", ",", "}")
    val spreads = timed.map { n =>
      val ss = samples(n)
      "\"" + n + "\":" + f"${ss.max - ss.min}%.3f"
    }.mkString("{", ",", "}")
    val nSamples = timed.map { n =>
      "\"" + n + "\":" + samples(n).size
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val setupFailedJson = setupFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val degradedJson = degradedRows(names, samples.toMap, passes)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full artifact goes to a committed file: the one-line stdout JSON
    // outgrew the driver's tail capture once the suite passed ~50 rows
    // (medians truncated, `parsed: null` in 10 of 11 rounds). The file
    // carries everything; stdout stays compact (2-decimal medians, no
    // spread map) so the captured line parses again.
    val fullJson =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","stat":"median","queries":$qs,"min":$mins,"spread":$spreads,"n_samples":$nSamples,"failed":$failedJson,"setup_failed":$setupFailedJson,"degraded":$degradedJson,"budget_secs":${f"$budgetSecs%.0f"},"elapsed_secs":${f"$elapsedSecs%.1f"},"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(new java.io.File(outPath), "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
    val qsShort = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qsShort,"failed":$failedJson,"setup_failed":$setupFailedJson,"degraded":$degradedJson,"sf":"$sfDir","detail":"$outPath"}""")
    spark.stop()
  }
}
