package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main. Runs the headline queries at SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query seconds.
  *
  * Execution drives the FULL plan — `noop` format write, not `.count()`
  * (count lets Catalyst prune every data column, so scan/projection-heavy
  * plans would bench nothing) — and failures are recorded per-query
  * instead of masquerading as fast successes.
  */
object Bench {

  /** Headline set: the scan/join/agg/window/set relational core plus the
    * LLM-pipeline ops. Streaming + catalog paths are exercised by Verify
    * and the test suite, not timed here (memory-sink streaming timing
    * measures the harness, not the engine).
    *
    * ORDER IS APPEND-ONLY (r15 verdict #1): the driver's stdout tail
    * window only fits the positional `queries_ms_in_headline_order`
    * array at this suite size, so cross-round per-query comparison
    * depends on positions staying stable. New queries go at the END of
    * this list, never inserted mid-list; the name↔position mapping for
    * each round lives in the committed BENCH_FULL_r<NN>.json snapshot. */
  val headline: Seq[String] = Seq(
    "q_scan_filter_project_limit", "q_agg_pricing_summary",
    "q_join_broadcast", "q_join_shuffle", "q_join_semi",
    "q_window_rank", "q_window_running", "q_topk", "q_rollup",
    "q_count_distinct", "q_scalar_string", "q_json_extract",
    "q_sql_revenue_topk", "q_sessionize", "q_range_join", "q_pivot",
    "q_percentile", "q_topk_agg", "q_join_salted", "q_join_bucketed",
    "q_window_navigation", "q_lateral_explode",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "sim_topk_brute", "sim_topk_ann", "sim_vector_norm",
    "dedup_embedding_cosine", "sim_topk_ivf", "q_session_window",
    "text_stats", "text_token_count", "text_source_profile",
    "mm_binary_meta",
    "sim_kmeans", "text_gopher_quality", "text_top_ngrams",
    "q_temperature_mix", "q_zorder_layout",
    "text_dedup_spans", "sim_random_projection", "q_unpivot",
    "q_salted_agg", "q_variant_json",
    "text_unigram_logprob", "mm_image_patches", "q_approx_percentile",
    "q_map_funcs", "text_bm25_topk", "text_repetition", "dedup_semantic",
    "text_quality_classifier", "text_count_min", "q_winsorized_mean",
    "text_pmi_bigrams", "text_difficulty_curriculum",
    "q_histogram", "q_funnel",
    "q_weighted_sample", "q_mixture_epochs", "q_compaction_plan",
    "text_drift_psi", "q_bloom_join", "q_hll_rollup", "q_hilbert_layout",
    "q_theta_setops", "q_kll_rollup", "q_multiway_join",
    "q_concurrency_sweep", "graph_pagerank", "graph_reachability",
    "q_skyline", "sim_pq_adc", "q_scd2_intervals", "q_gap_fill",
    "q_topk_sketch_rollup", "q_rolling_anomaly", "q_cohort_retention",
    "q_markov_transitions", "q_shard_pack", "graph_common_neighbors",
    "q_rfm_segmentation", "q_changepoint_cusum", "text_zipf_slope",
    "q_benford_digits", "q_referential_audit", "graph_triangles",
    "q_regression_trend", "q_ab_welch_ttest", "q_decay_ltv",
    "text_entropy", "dedup_incremental", "graph_label_propagation",
    "q_attribution", "text_ngram_novelty", "dedup_containment",
    "mm_audio_energy", "graph_hits", "sim_centroid_drift",
    "q_acf_daily", "q_seasonal_dow", "q_ewma_forecast", "q_chi_square_dow",
    "text_dsir_weights", "text_kl_divergence", "graph_kcore",
    "q_mann_whitney", "text_readability", "sim_mmr_diversify",
    "q_gini_concentration", "q_bootstrap_ci", "graph_ppr",
    "q_ks_test", "q_quantile_normalize", "mm_scene_cut",
    "q_roc_auc", "q_decile_lift", "q_calibration_bins",
    "q_ece", "q_skew_profile", "text_bigram_logprob",
    "q_langid_confusion", "q_graph_assortativity",
    "q_survival_km", "q_lorenz_deciles", "mm_patch_dedup",
    "q_dp_noisy_counts", "sim_cosine_histogram",
    "q_curation_pipeline", "q_dataset_card", "sim_embedding_pipeline",
    "q_pr_auc", "q_spearman_corr", "q_theil_sen", "q_mad_anomaly",
    "graph_degree_powerlaw", "sim_kcenter_coreset", "text_hashed_features",
    "q_itemset_pairs", "sim_pca_power",
    "q_join_size_estimate", "q_fd_audit",
    "q_weighted_percentile", "text_heaps_law",
    "q_anova_f", "q_fdr_bh", "q_did_lift", "q_conformal_interval",
    "q_kendall_tau", "q_fuzzy_linkage",
    "q_cuped", "q_cem_att", "q_power_mde", "q_qte",
    "q_qini", "q_srm_check", "text_jsd", "text_pack_offsets",
    "q_zonemap_prune", "q_equidepth_histogram", "q_sample_extrapolation",
    "sim_sq8_topk", "q_k_anonymity", "q_shard_manifest",
    "graph_modularity", "text_kneser_ney", "text_perplexity_buckets",
    "spatial_dbscan", "q_freshness_audit", "text_bpe_merges",
    "text_bpe_apply", "text_bpe_encode", "sim_ivf_pq", "q_ndcg",
    // Round-13 additions: retrieval-eval completion, tokenizer audit,
    // perceptual near-dup
    "q_mrr_recall", "text_token_fertility", "mm_phash_dedup",
    "mm_audio_fingerprint", "mm_image_resize", "sim_ivf_prebuilt",
    // Round-14 additions: amortized fingerprint serving, CDF-maintained
    // ANN index, stratified-IPW causal estimate, classical seasonal
    // decomposition, boilerplate strip, content-defined-chunking dedup
    "mm_afp_prebuilt", "q_ipw_ate", "q_stl_decompose",
    "text_boilerplate_strip", "mm_cdc_dedup", "sim_matryoshka_recall",
    "q_tukey_hsd", "q_msprt",
    // Round-15 additions: 1-bit quantized retrieval, the IVF nprobe
    // tuning curve, and group-sequential OBF monitoring
    "sim_binary_quantize", "sim_ivf_recall_sweep", "q_gst_obrien_fleming",
    "text_code_detect", "sim_filtered_ann", "mm_audio_vad",
    "text_logreg_train", "q_did_event_study", "q_smd_balance",
    "text_garbled_detect", "graph_clustering_coeff", "mm_image_blur",
    "dedup_split_leakage", "mm_caption_align", "q_forecast_backtest",
    "mm_dominant_color", "q_active_users",
    // Round-11 additions: every remaining real operator gets a timing
    // signal (round-10 verdict ask #5) — retrieval, dedup-cluster,
    // spatial, fingerprinting, and the asof/quantize/profile family.
    "sim_hybrid_rrf", "sim_margin_mining", "sim_label_centroid_norm",
    "dedup_keep_representatives", "dedup_clusters", "dedup_clusters_logstar",
    "dedup_ngram_jaccard",
    "dedup_edit_distance", "dedup_normalized", "graph_resource_alloc",
    "q_overlap_depth", "q_gaps_islands", "q_asof_join",
    "q_asof_join_salted", "q_quantize_embeddings", "q_tfidf_top_terms",
    "q_stratified_sample", "q_hash_split", "q_upsert_merge",
    "q_data_profile", "q_approx_distinct",
    "text_lexical_diversity", "text_contamination", "text_fingerprint",
    "text_rolling_fingerprint", "text_chunk_windows", "text_langid_quality",
    "text_pii_redact",
    "spatial_cell_density", "spatial_grid_nn", "spatial_haversine_nn",
    "spatial_radius_count",
    "mm_decode_features", "mm_frame_sample",
    // The connector path IS the product (reference src/datasource/
    // reader.rs:25-49): signed-URL scan, pushdown, CDF snapshot fold,
    // and catalog SQL each get a perf-regression signal. Server staging
    // (fixture slicing, temp parquet) happens pre-clock via
    // ConnectorQueries.stage; timings cover client listing → signed
    // URLs → graftshare filesystem → vectorized parquet → operators.
    "connector_scan", "connector_filter_pushdown",
    "connector_cdf_snapshot", "connector_catalog_sql",
    "connector_oauth_scan")

  /** Gated queries deliberately NOT in [[headline]] — every exemption is
    * named so ContractSpec can enforce headline ∪ benchExempt == the full
    * gate (an unbenched operator must be an explicit decision, never a
    * silent gap). Three exemption classes:
    *  - `stream_*`: memory-sink micro-batch timing measures the harness
    *    (trigger scheduling, sink materialization), not the engine;
    *    Verify + StreamingStateSpec exercise them.
    *  - connector variants: the five benched connector queries already
    *    time the full client → signed-URL → parquet path; the variants
    *    differ only in fixture slicing on tiny staged tables, so their
    *    timing is staging noise.
    *  - one-expression relational demos (set ops, outer-join variants,
    *    scalar-function showcases, subquery forms): each is a single
    *    Spark built-in on a small projection — the operators they compose
    *    are timed through the heavier headline queries.
    */
  val benchExempt: Set[String] = Set(
    // streaming
    "stream_ab_monitor", "stream_agg_event_type", "stream_dedup_distinct",
    "stream_dedup_watermark", "stream_late_data", "stream_rolling_anomaly",
    "stream_stateful_sessions", "stream_static_join", "stream_stream_join",
    "stream_windowed_counts", "stream_psi_drift",
    // connector variants of the benched path
    "connector_catalog_time_travel", "connector_cdf_materialize",
    "connector_cdf_stream", "connector_cdf_stream_agg", "connector_changes",
    "connector_layout_skipping",
    // micro-batch trigger scheduling dominates its timing (the operators
    // it composes — classifier scan, LSH dedup, shard rank — are all
    // timed by their own headline rows)
    "connector_incremental_curation",
    // same class: per-commit foreachBatch dimension maintenance
    "connector_cdf_scd2",
    // same class: per-commit foreachBatch index appends (the serve path
    // it certifies is timed by sim_ivf_prebuilt's headline row)
    "connector_ivf_ingest",
    // same class: per-commit foreachBatch index probe + append (the LSH
    // candidate/verify machinery it serves with is timed by the
    // dedup_minhash_lsh / dedup_incremental headline rows)
    "connector_dedup_ingest",
    // same class: per-commit 5-row PSI fold (the quality classifier it
    // scores with is timed by text_quality_classifier's headline row)
    "connector_cdf_drift_monitor",
    // metadata-only by construction (LocalTableScan, zero parquet bytes
    // — the meta_only_ok plan cert under the gate proves it); timing a
    // driver-local row emit measures the harness, not the engine
    "connector_count_pushdown", "connector_minmax_pushdown",
    "connector_changes_by_time", "connector_events_window",
    "connector_join_agg", "connector_nested_types",
    "connector_partition_values", "connector_snapshot_diff",
    "connector_stats_skipping", "connector_time_travel",
    "connector_timestamp_travel",
    // one-expression relational demos
    "q_agg_filter", "q_array_hof", "q_complex_types",
    "q_correlated_subquery", "q_cube", "q_except", "q_exists_subquery",
    "q_grouping_sets", "q_intersect", "q_join_anti", "q_join_full_outer",
    "q_join_left_outer", "q_join_nullsafe", "q_regexp_extract",
    "q_scalar_date", "q_scalar_math", "q_scalar_subquery", "q_setops_all",
    "q_sliding_window", "q_string_agg", "q_time_window", "q_union",
    "q_window_distribution", "q_window_range")

  /** Bench-only RAW operator variants. The gate versions of these
    * queries certify QUALITY by computing the exact ground truth in-plan
    * (brute-force top-k, all-true-pair sets, exact percentiles) next to
    * the approximate operator — correct for the correctness gate, wrong
    * for a throughput benchmark: the truth pipeline would dominate the
    * timing and dilute regressions in the operator under test. The bench
    * therefore times the raw approximate operator; Verify still runs the
    * certified versions. */
  private[graft] def rawBench(name: String)
      : Option[(SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Multimodal, Similarity}
    name match {
      case "mm_afp_prebuilt" => Some((s, d) =>
        // raw amortized serve: bounded probe batch against the standing
        // files index — the gate version additionally runs the
        // in-memory parity twin + exceptAll + catch-floor legs, each a
        // full second pipeline that would dominate the timing
        Multimodal.afpServeBench(s, d))
      case "sim_ivf_pq" => Some((s, d) =>
        // raw IVF-PQ serve (r15 verdict ask #6): train-once coarse
        // quantizer (shared corpusCentroids) + probe + ADC top-k — the
        // gate version additionally computes the exact L2 brute-force
        // truth and recall certification legs, which dominate its plan
        // (most of its Exchanges are certification) and dilute
        // regressions in the index serve path under test
        Similarity.ivfPqTopK(Tables.embeddings(s, d), k = 5,
          numQueries = 10, nprobe = 3,
          centsOpt = Some(Similarity.corpusCentroids(s, d)),
          cbRowOpt = Some(Similarity.corpusPqCodebookRow(s, d))))
      case "sim_topk_ann" => Some((s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.annTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      })
      case "sim_topk_ivf" => Some((s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          numCells = 32, nprobe = 8)
      })
      case "dedup_simhash" => Some((s, d) =>
        Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
          maxHamming = 3))
      case "dedup_embedding_cosine" => Some((s, d) =>
        Similarity.cosinePairs(Tables.embeddings(s, d), threshold = 0.3))
      case "q_approx_distinct" => Some((s, d) =>
        Tables.lineitem(s, d).groupBy("l_returnflag")
          .agg(approx_count_distinct("l_partkey", 0.01).as("approx_parts")))
      case "q_approx_percentile" => Some((s, d) =>
        Tables.lineitem(s, d).groupBy("l_returnflag")
          .agg(approx_percentile(col("l_extendedprice"),
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("apx")))
      case "q_winsorized_mean" => Some((s, d) => {
        // sketch-bounds-only winsorized mean — the production shape
        // (bounded mergeable state); the gate version additionally runs
        // the exact-percentile certification, which would dominate the
        // timing and hide regressions in the operator under test
        val li = Tables.lineitem(s, d)
        val bounds = li.groupBy("l_returnflag")
          .agg(approx_percentile(col("l_extendedprice"),
            array(lit(0.05), lit(0.95)), lit(10000)).as("apx"))
          .select(col("l_returnflag"),
            element_at(col("apx"), 1).as("lo"),
            element_at(col("apx"), 2).as("hi"))
        li.join(broadcast(bounds), "l_returnflag")
          .groupBy("l_returnflag", "lo", "hi")
          .agg(
            round(sum(round(least(greatest(col("l_extendedprice"),
                col("lo")), col("hi")), 4).cast("decimal(18,4)"))
              .cast("double") / count(lit(1)), 4).as("robust_mean"),
            sum(when(col("l_extendedprice") < col("lo") ||
                col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
              .as("n_clipped"))
      })
      case "q_rfm_segmentation" => Some((s, d) => {
        // sketch-only RFM thresholds (production shape; the gate version
        // also runs the exact-percentile certification)
        val o = Tables.orders(s, d)
        val maxd = o.agg(to_date(max("o_orderdate")).as("dmax"))
        val cust = o.groupBy("o_custkey")
          .agg(to_date(max("o_orderdate")).as("dlast"),
            count(lit(1)).as("f"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("m"))
          .crossJoin(broadcast(maxd))
          .select(col("o_custkey"),
            datediff(col("dmax"), col("dlast")).as("r"), col("f"), col("m"))
        val q = cust.agg(
          approx_percentile(col("r"), array(lit(0.25), lit(0.5), lit(0.75)),
            lit(10000)).as("ra"),
          approx_percentile(col("f"), array(lit(0.25), lit(0.5), lit(0.75)),
            lit(10000)).as("fa"),
          approx_percentile(col("m"), array(lit(0.25), lit(0.5), lit(0.75)),
            lit(10000)).as("ma"))
        def seg(x: String, a: String) =
          lit(1) + (col(x) > element_at(col(a), 1)).cast("int") +
            (col(x) > element_at(col(a), 2)).cast("int") +
            (col(x) > element_at(col(a), 3)).cast("int")
        cust.crossJoin(broadcast(q))
          .select(seg("r", "ra").as("r_seg"), seg("f", "fa").as("f_seg"),
            seg("m", "ma").as("m_seg"), col("m"))
          .groupBy("r_seg", "f_seg", "m_seg")
          .agg(count(lit(1)).as("n_cust"),
            sum(col("m").cast("decimal(18,2)")).cast("double").as("total_m"))
      })
      case _ => None
    }
  }

  /** The plan Bench times for `name`: its raw variant, else the gated
    * query. */
  private[graft] def benchPlan(name: String)
      : Option[(SparkSession, String) => org.apache.spark.sql.DataFrame] =
    rawBench(name).orElse(SparkEntry.queries.get(name))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Wall-clock deadline (r14 verdict ask #1): the driver's bench
    // invocation runs under an external wall-clock cap, and the old
    // harness emitted its artifact only at the very end — one loaded
    // host and the round's ENTIRE perf signal was erased (BENCH_r14
    // rc 124, parsed:null). The clock starts at JVM entry (it must
    // cover load-gate waiting, warmup, and staging, not just the timed
    // passes); when the next sample would cross the deadline, sampling
    // stops and the artifact is emitted from what exists. Additionally,
    // BENCH_FULL.json + a self-describing summary line are emitted
    // after EVERY completed pass, so even kill -9 leaves the last
    // completed pass parsable on disk.
    val deadlineS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_S", "840").toDouble
    val benchT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9
    var deadlineHit = false
    def overDeadline: Boolean = {
      if (!deadlineHit && elapsedS > deadlineS) deadlineHit = true
      deadlineHit
    }

    // Load gate (round-11 verdict ask #2): the committed bench number was
    // repeatedly inflated by runs started on a loaded host (r11: 211 s @
    // load 3.8 vs 189 s @ 3.0 on the same code). Measure 1-min loadavg
    // BEFORE any Spark work (the only moment it reflects EXTERNAL load —
    // once warmup's 32 executor threads spin up, loadavg includes this
    // JVM) and wait for a quiet window rather than timing into a storm.
    // If the host never quiets down, run anyway but stamp the override
    // into the artifact so the number is never mistaken for a clean one.
    def loadAvg(): Double =
      try java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val maxLoad =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0").toDouble
    val loadTries =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_TRIES", "10").toInt
    val loadT0 = loadAvg()
    var waits = 0
    // gate waiting may consume at most a third of the deadline — a
    // never-quiet host must still leave time for the passes themselves
    while (loadAvg() > maxLoad && waits < loadTries &&
        elapsedS < deadlineS / 3) {
      System.err.println(
        f"[bench] host load ${loadAvg()}%.2f > $maxLoad%.2f — waiting 30 s " +
          s"(${waits + 1}/$loadTries)")
      Thread.sleep(30000)
      waits += 1
    }
    val loadAfterGate = loadAvg()
    val loadGate =
      // unreadable /proc/loadavg reads as -1.0, which would otherwise
      // satisfy <= maxLoad and stamp "ok" for a host whose load was
      // actually UNKNOWN — the exact mistaken-for-clean case the gate
      // exists to prevent (r12 ADVICE). Stamp it distinctly.
      if (loadAfterGate < 0) "unknown"
      else if (loadAfterGate <= maxLoad && waits == 0) "ok"
      else if (loadAfterGate <= maxLoad) s"ok_after_${waits * 30}s"
      else s"override_still_loaded_after_${waits * 30}s"
    val spark = GraftSession.local(GraftSession.cpus)

    val errors = scala.collection.mutable.ArrayBuffer.empty[String]

    // r15 verdict #2: cross-query shared frames (edge graph, trained
    // quantizers, LSH baskets) are built once per JVM — during warm-up,
    // so the cost lands in NO timed sample. Measure it explicitly and
    // stamp it into the artifact (`shared_build_s`) so the headline
    // total is never mistaken for cold end-to-end cost.
    CacheRegistry.measureSharedBuilds = true

    // One-time INGEST steps for the measured sf dir (bucketed table
    // staging, streaming µs copy) are layout/ingest cost, not query
    // time — run them before the clock starts. A staging failure is
    // recorded: swallowing it would silently shift the ingest work into
    // the timed query that retries it.
    try graft.operators.BucketedJoin.stageBucketed(spark, sfDir)
    catch { case e: Throwable => errors += s"stage_bucketed: ${e.getClass.getSimpleName}" }
    try graft.operators.StreamingOps.stagedEventsDir(spark, sfDir)
    catch { case e: Throwable => errors += s"stage_events: ${e.getClass.getSimpleName}" }
    try graft.operators.ConnectorQueries.stage(spark, sfDir)
    catch { case e: Throwable => errors += s"stage_connector: ${e.getClass.getSimpleName}" }
    // Warmup: run every headline plan once AT THE MEASURED DIR so
    // one-time JVM costs (whole-stage codegen compilation for the
    // actual AQE-chosen sf-shaped plans, expression class loading, JIT
    // profiles, writer init) are paid before timing — they are
    // properties of a cold JVM, not of the measured queries (a
    // long-lived cluster has them amortized to zero). r15: this used
    // to warm at sf0.001, whose AQE plan shapes (broadcast thresholds,
    // coalesced partitions) differ from the measured dir's, leaving
    // pass-1 samples 2-5× over steady state — visible once the <0.5 s
    // tier dropped to single-sample rows.
    headline.foreach { name =>
      // deadline-guarded: a cold JVM on a loaded host can spend minutes
      // here; partially-warmed timings beat an erased artifact
      if (!overDeadline) benchPlan(name).foreach { fn =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        CacheRegistry.releaseAll()
      }
    }

    // Median-of-N over WHOLE-SUITE passes: this host shows migrating
    // ~20 s contention windows that poison a contiguous run-order block
    // (observed two rounds in a row on byte-identical code). Back-to-back
    // repeats of one short query would all fit inside one window, so the
    // repetition is the OUTER loop — the suite runs end to end N times
    // (each pass takes ~30 s+, longer than a window) and a window can
    // only poison a given query in one pass. Per-query median across
    // passes filters it; min is reported too as the contention-free
    // floor. A failed run is excluded from the timing (its near-zero
    // elapsed would otherwise masquerade as a speedup) and recorded once
    // in `errors`.
    // Load evidence (round-10 verdict ask #4): the official artifact was
    // twice poisoned by host contention indistinguishable from a code
    // regression (r9: 16 phantom regressions; r10: a uniform 1.20×
    // inflation on byte-identical bits). Capture 1-min loadavg and the
    // running-process count when the timed section starts and ends, and
    // emit them in the JSON — cross-round comparisons can then quote the
    // host state the numbers were taken under. loadavg INCLUDES this JVM
    // (32 busy executor threads ⇒ ~32 is self-load); the signal for
    // contamination is load well above the core count or a large
    // start→end swing on an otherwise idle box.
    def nProcs(): Int =
      try new java.io.File("/proc").listFiles()
        .count(f => f.getName.forall(_.isDigit))
      catch { case _: Throwable => -1 }
    val loadStart = loadAvg()
    val procsStart = nProcs()

    val runsPerQuery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // Order-randomization knob (round-11 verdict ask #8): per-query
    // times can couple to bench ORDER through executor cache pressure
    // and lingering broadcast state. SPARK_GRAFT_BENCH_SHUFFLE=<seed>
    // runs the same set in a seeded-shuffled order — two runs with
    // different seeds isolate order-coupling from real regressions
    // (output JSON stays keyed by name either way).
    val order = sys.env.get("SPARK_GRAFT_BENCH_SHUFFLE") match {
      case Some(seed) =>
        new scala.util.Random(seed.toLong).shuffle(headline)
      case None => headline
    }
    val benched = order.flatMap(n => benchPlan(n).map(n -> _))
    val errored = scala.collection.mutable.Set.empty[String]
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    def medianSoFar(name: String): Option[Double] = {
      val ts = times(name).sorted
      if (ts.isEmpty) None else Some(ts(ts.length / 2))
    }
    // one timed noop-sink execution; false (excluded from timing) on
    // failure — its near-zero elapsed would masquerade as a speedup
    def runOne(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Boolean = {
      val t0 = System.nanoTime()
      val ok =
        try {
          // noop sink: full plan executes (scan→…→result), nothing lands.
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable =>
            if (errored.add(name))
              errors += s"$name: ${e.getClass.getSimpleName}"
            false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // release operator-internal caches OUTSIDE the timed window —
      // they'd otherwise accumulate across the whole run
      CacheRegistry.releaseAll()
      if (ok) times(name) = times(name) :+ elapsed
      ok
    }

    // Assemble + persist the artifact from whatever samples exist, and
    // return the stdout summary line. Called after every completed pass
    // AND at the end, so the artifact on disk is always the freshest
    // completed state ("runs" tags how many whole passes it covers).
    def buildAndWrite(passes: Int): String = {
      // results stay in HEADLINE order even when execution was
      // shuffled — the ordered-array stdout line documents itself as
      // headline-ordered and must remain so
      val results = headline
        .filter(n => benchPlan(n).isDefined)
        .map { name =>
          val ts = times(name).sorted
          if (ts.isEmpty) name -> (0.0, 0.0)
          else name -> (ts(ts.length / 2), ts.head)
        }
      val errJson = errors.map(e => "\"" + e.replace("\"", "'") + "\"")
        .mkString("[", ",", "]")
      val total = results.map(_._2._1).sum
      val loadJson = f""""load_1m_t0":$loadT0%.2f,"load_gate":"$loadGate","waited_s":${waits * 30},"deadline_s":$deadlineS%.0f,"deadline_hit":$deadlineHit,"elapsed_s":$elapsedS%.0f,"shared_build_s":${CacheRegistry.sharedBuildSeconds}%.1f,"load_1m_start":$loadStart%.2f,"load_1m_end":${loadAvg()}%.2f,"procs_start":$procsStart,"procs_end":${nProcs()}"""

      // FULL artifact → file: the driver's stdout capture keeps only
      // the LAST 2000 characters, which a ~90-query flat JSON line
      // outgrew in r7 (BENCH_r07 "parsed": null). Everything (3-decimal
      // medians, per-query minima, achieved sample counts) lands in
      // BENCH_FULL.json in the repo root, committed with the round.
      val qJson = results.map { case (k, (med, _)) => f""""$k":$med%.3f""" }
        .mkString("{", ",", "}")
      val qMinJson = results.map { case (k, (_, mn)) => f""""$k":$mn%.3f""" }
        .mkString("{", ",", "}")
      val qNJson = results.map { case (k, _) => s""""$k":${times(k).length}""" }
        .mkString("{", ",", "}")
      val fullJson =
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$passes,$loadJson,"queries":$qJson,"queries_min":$qMinJson,"samples":$qNJson,"errors":$errJson,"sf":"$sfDir"}"""
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"), fullJson + "\n")
      catch { case _: Throwable => () } // stdout line still carries medians

      // stdout summary: per-query millisecond integers as an ORDERED
      // ARRAY (values follow Bench.headline order — the name list lives
      // in this commit's Bench.scala, and the named map is in the
      // committed BENCH_FULL.json) plus per-family totals. ~7 chars per
      // query, so every number fits the last 2000 stdout characters the
      // bench harness keeps at any plausible future query count.
      val fams = results
        .groupBy { case (k, _) => k.substring(0, k.indexOf('_')) }
        .toSeq.sortBy(_._1)
        .map { case (fam, es) =>
          s""""$fam":${math.round(es.map(_._2._1).sum * 1000)}"""
        }.mkString("{", ",", "}")
      val ordered = results
        .map { case (_, (med, _)) => math.round(med * 1000) }
        .mkString("[", ",", "]")
      val sfShort = sfDir.split('/').last
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$passes,$loadJson,"qunit":"ms","queries_ms_in_headline_order":$ordered,"families_ms":$fams,"detail":"BENCH_FULL.json","errors":$errJson,"sf":"$sfShort"}"""
    }

    // Slow-row deflake top-up (r13 verdict ask #7): the >=3 s rows carry
    // a documented ~2x same-code ambient spread; top them up to 5
    // samples and report the median-of-5. Runs right AFTER PASS 2 (and
    // again at the end): under a wall-clock deadline the extra slow-row
    // samples are worth more than a third pass of the mid rows, so they
    // must not be the first thing the deadline sacrifices.
    val slowExtra =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_SAMPLES", "5").toInt
    def topUpSlowRows(): Unit =
      for ((name, fn) <- benched if medianSoFar(name).exists(_ >= 3.0)) {
        // a failed top-up sample is retried once (r14 ADVICE: silently
        // swallowed failures turned "median-of-5" into an unmarked
        // median-of-4/3); the achieved per-query sample count is
        // recorded in BENCH_FULL.json ("samples") either way
        var failures = 0
        while (!overDeadline && times(name).length < slowExtra &&
            failures < 2) {
          if (!runOne(name, fn)) failures += 1
        }
      }
    var passesDone = 0
    for (pass <- 1 to runsPerQuery if !overDeadline) {
      for ((name, fn) <- benched if !overDeadline) {
        // Sub-second budget policy (r14 verdict ask #5, BENCH_NOTES):
        // rows whose median so far is < 1 s stop after two passes, and
        // the < 0.5 s rows stop after ONE (r15: the suite crossed 235
        // rows and a cold-cache pass-1 ran the 840 s deadline out of a
        // third pass — a ±30% swing on a 0.3 s row is noise-floor
        // territory, so the second sample buys nothing the wall clock
        // can afford); the ≥1 s rows keep all passes and the ≥3 s rows
        // additionally get the median-of-5 top-up.
        val skip = (pass >= 3 && medianSoFar(name).exists(_ < 1.0)) ||
          (pass >= 2 && medianSoFar(name).exists(_ < 0.5))
        if (!skip) runOne(name, fn)
      }
      if (!overDeadline) passesDone = pass
      if (pass == 2) topUpSlowRows()
      // emit after EVERY completed pass (r14 verdict ask #1a): a later
      // kill leaves this pass's artifact on disk and its summary line
      // in the stdout tail, both tagged with the passes completed
      println(buildAndWrite(math.max(passesDone, 1)))
    }

    // final top-up sweep: no-op for rows already at `slowExtra`; catches
    // rows that only crossed the 3 s line during pass 3
    topUpSlowRows()
    val line = buildAndWrite(math.max(passesDone, 1))
    CacheRegistry.releaseShared()
    graft.operators.ConnectorQueries.stopAll()
    spark.stop()
    // The JSON line prints AFTER spark.stop(): with the raw-stdout
    // output strategy (build.sbt), nothing may land on stdout behind it
    // or the driver's last-line json.loads breaks again.
    println(line)
    sys.exit(0) // don't let stray non-daemon threads pin the JVM
  }
}
