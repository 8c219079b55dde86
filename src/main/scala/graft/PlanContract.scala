package graft

/** The SinglePartition CONTRACT (round-13 verdict ask #2).
  *
  * A `SinglePartition` exchange is the one plan shape that silently
  * kills a query at 100 TB: everything upstream funnels through one
  * task. Every audited plan that carries one must do so over a frame
  * whose size is BOUNDED BY CONSTRUCTION — a 1-row global aggregate, a
  * domain-bounded window (calendar buckets, quantile grids, distinct
  * rounded values, vocabulary types), a ≤k-row pool, a per-iteration
  * convergence scalar, or GlobalRank's ≤#partitions offset frames.
  *
  * Until round 13 this was a manual judge pass over PLANS.md (157
  * mentions re-read every round). This object makes it a contract, the
  * `Bench.benchExempt` named-exemption pattern: every audited query
  * with ≥1 SinglePartition exchange must carry an entry here pinning
  * its EXPECTED mention count and the bounded-frame class, and
  * PlanContractSpec fails the build when
  *  - an audited plan gains an unannotated SinglePartition (new query,
  *    or a plan-shape change adding one to an annotated query),
  *  - an annotation goes stale (query dropped it, or no longer exists),
  *  - PLANS.md is missing an audited query's section (stale artifact).
  *
  * `graft.PlanAudit` applies the same check at generation time, so the
  * violation surfaces while the plan text is in front of you.
  */
object PlanContract {

  /** Bounded-frame classes. The string is documentation — what a
    * reviewer must confirm the exchange's input actually is before
    * annotating a query. */
  val OneRow =
    "1-row global-aggregate frame(s) (totals / certification counters / " +
      "sketch merges / threshold scalars / injected runtime bloom-filter " +
      "builds) collapsed then broadcast"
  val BoundedWindow =
    "global window or rank over a domain-bounded frame (calendar " +
      "buckets, quantile/decile grids, distinct 4dp-rounded values, " +
      "vocabulary-bounded types, bounded sample pairs)"
  val BoundedPool =
    "bounded top-k pool (TakeOrderedAndProject / <=k-row candidate or " +
      "retrieval-eval frame at any corpus size)"
  val Convergence =
    "per-iteration convergence scalar (1-row fixpoint delta / norm / " +
      "dangling-mass aggregate per round, k-bounded rounds)"
  val RankOffsets =
    "GlobalRank offset frames (<= #partitions rows ordered by " +
      "partition id) plus vocabulary-bounded type aggregates"
  val KRowCodebook =
    "k-row centroid/codebook frame collapsed to ONE broadcast array row " +
      "(collect_list over k<=8 trained centroids / 8x16 PQ codebook " +
      "entries) for the in-row argmin kernels — r15 kmeansAssignTo/" +
      "pqEncode fusion"

  /** query name -> (expected SinglePartition mention count in its
    * PLANS.md formatted plan, audited bounded-frame class). */
  val boundedSinglePartition: Map[String, (Int, String)] = Map(
    "dedup_embedding_cosine" -> ((2, OneRow)),
    "dedup_simhash" -> ((2, OneRow)),
    "graph_degree_powerlaw" -> ((1, OneRow)),
    "graph_hits" -> ((2, Convergence)),
    "graph_modularity" -> ((1, OneRow)),
    "graph_pagerank" -> ((4, Convergence)),
    "graph_triangles" -> ((2, OneRow)),
    "mm_afp_prebuilt" -> ((3, OneRow)),
    "mm_audio_fingerprint" -> ((2, OneRow)),
    // catch-floor counter, cohort count, grid-blindness counter
    "mm_cdc_dedup" -> ((3, OneRow)),
    "mm_phash_dedup" -> ((1, OneRow)),
    "q_acf_daily" -> ((1, OneRow)),
    "q_anova_f" -> ((1, OneRow)),
    "q_benford_digits" -> ((1, OneRow)),
    "q_bootstrap_ci" -> ((2, OneRow)),
    "q_cem_att" -> ((2, OneRow)),
    "q_changepoint_cusum" -> ((2, OneRow)),
    "q_chi_square_dow" -> ((2, OneRow)),
    "q_concurrency_sweep" -> ((1, OneRow)),
    "q_conformal_interval" -> ((3, OneRow)),
    "q_count_distinct" -> ((1, OneRow)),
    "q_cuped" -> ((2, OneRow)),
    // raw-moment + weighted-term 1-row aggs, re-derived per union branch
    "q_smd_balance" -> ((5, OneRow)),
    // ≤|days| calendar frame (row_number + dcnt) collapsed to 5 looks
    "q_gst_obrien_fleming" -> ((1, BoundedWindow)),
    "q_curation_pipeline" -> ((3, OneRow)),
    "q_data_profile" -> ((1, OneRow)),
    "q_dataset_card" -> ((1, OneRow)),
    "q_decay_ltv" -> ((1, OneRow)),
    "q_decile_lift" -> ((2, BoundedWindow)),
    "q_did_lift" -> ((2, OneRow)),
    // the 1-row date anchor + the 1-row pooled pre-gap baseline
    "q_did_event_study" -> ((2, OneRow)),
    "q_ece" -> ((1, OneRow)),
    "q_equidepth_histogram" -> ((2, BoundedWindow)),
    "q_ewma_forecast" -> ((1, BoundedWindow)),
    // the same calendar-day lag window as q_ewma_forecast, then 1-row agg
    "q_forecast_backtest" -> ((1, BoundedWindow)),
    "q_fd_audit" -> ((4, OneRow)),
    "q_fdr_bh" -> ((2, BoundedWindow)),
    "q_freshness_audit" -> ((1, OneRow)),
    "q_funnel" -> ((3, OneRow)),
    "q_gap_fill" -> ((1, BoundedWindow)),
    "q_gini_concentration" -> ((5, OneRow)),
    "q_graph_assortativity" -> ((1, OneRow)),
    "q_histogram" -> ((1, OneRow)),
    // the q_cem_att shape: persisted stratum terms collapse to the
    // 1-row Hájek estimate then broadcast back onto the bins
    "q_ipw_ate" -> ((2, OneRow)),
    "q_hll_rollup" -> ((2, OneRow)),
    "q_itemset_pairs" -> ((1, OneRow)),
    "q_join_size_estimate" -> ((1, OneRow)),
    "q_k_anonymity" -> ((1, OneRow)),
    "q_kendall_tau" -> ((2, OneRow)),
    "q_ks_test" -> ((3, BoundedWindow)),
    "q_lorenz_deciles" -> ((3, BoundedWindow)),
    "q_mad_anomaly" -> ((3, OneRow)),
    "q_mann_whitney" -> ((1, BoundedWindow)),
    "q_mixture_epochs" -> ((1, OneRow)),
    "q_mrr_recall" -> ((2, BoundedPool)),
    "q_ndcg" -> ((1, BoundedPool)),
    "q_overlap_depth" -> ((1, OneRow)),
    "q_power_mde" -> ((1, OneRow)),
    "q_pr_auc" -> ((1, BoundedWindow)),
    "q_qini" -> ((4, BoundedWindow)),
    "q_qte" -> ((4, BoundedWindow)),
    "q_quantile_normalize" -> ((1, BoundedWindow)),
    "q_referential_audit" -> ((6, OneRow)),
    "q_rfm_segmentation" -> ((3, OneRow)),
    "q_roc_auc" -> ((1, BoundedWindow)),
    "q_rolling_anomaly" -> ((1, BoundedWindow)),
    "q_sample_extrapolation" -> ((1, OneRow)),
    "q_seasonal_dow" -> ((1, BoundedWindow)),
    "q_shard_pack" -> ((1, BoundedWindow)),
    "q_skew_profile" -> ((1, OneRow)),
    "q_skyline" -> ((1, BoundedPool)),
    "q_spearman_corr" -> ((4, BoundedWindow)),
    // the calendar-day cumulative/running-min windows + the 1-row
    // pooled-variance collapse
    "q_msprt" -> ((2, BoundedWindow)),
    "q_srm_check" -> ((2, OneRow)),
    // calendar-day centered-MA window (persisted, runs once) + the
    // 7-row seasonal frame collapsing to the centering scalar
    "q_stl_decompose" -> ((2, BoundedWindow)),
    "q_survival_km" -> ((2, BoundedWindow)),
    "q_tfidf_top_terms" -> ((1, BoundedPool)),
    "q_theil_sen" -> ((1, BoundedWindow)),
    // the q_anova_f shape: the 1-row arms pivot collapse, broadcast
    // onto the 10-row literal pair frame
    "q_tukey_hsd" -> ((1, OneRow)),
    "q_theta_setops" -> ((2, OneRow)),
    "q_zonemap_prune" -> ((1, OneRow)),
    // injected runtime bloom-filter build over the 10-row query frame
    "sim_filtered_ann" -> ((1, OneRow)),
    "sim_hybrid_rrf" -> ((1, BoundedPool)),
    // the trained-centroid row, codebook row and per-query probe/LUT
    // row each collapse via a 1-row collect_list (k ≤ 8 centroids /
    // 8×16 codebook entries / 10 queries — all bounded by construction)
    // then broadcast; 6 since the trained codebook is one shared frame
    // per corpus (its collapse is planned once, inside that frame)
    "sim_ivf_pq" -> ((6, KRowCodebook)),
    // codebook row + query-LUT row collapses — same bounded frames as
    // sim_ivf_pq's; 2 since the codebook is shared per corpus
    "sim_pq_adc" -> ((2, KRowCodebook)),
    // the k·|queries|-bounded per-query frame collapsing to the 1-row
    // mean-recall pair then broadcast back
    "sim_matryoshka_recall" -> ((1, OneRow)),
    // 4 one-row hit-count aggregates + the 4-row probe-grid sweep window
    "sim_ivf_recall_sweep" -> ((5, BoundedWindow)),
    "sim_ivf_prebuilt" -> ((1, OneRow)),
    "sim_kmeans" -> ((2, KRowCodebook)),
    "dedup_semantic" -> ((2, KRowCodebook)),
    "sim_embedding_pipeline" -> ((2, KRowCodebook)),
    "spatial_dbscan" -> ((1, Convergence)),
    "text_bigram_logprob" -> ((1, OneRow)),
    "text_bm25_topk" -> ((1, OneRow)),
    "text_count_min" -> ((1, OneRow)),
    "text_drift_psi" -> ((1, OneRow)),
    "text_dsir_weights" -> ((2, OneRow)),
    "text_heaps_law" -> ((10, RankOffsets)),
    "text_jsd" -> ((1, OneRow)),
    "text_kl_divergence" -> ((1, OneRow)),
    "text_kneser_ney" -> ((1, OneRow)),
    "text_perplexity_buckets" -> ((1, BoundedWindow)),
    "text_pmi_bigrams" -> ((2, OneRow)),
    "text_unigram_logprob" -> ((1, OneRow)))

  /** The audit set: the bench set (which already holds
    * connector_filter_pushdown) plus three connector pushdown plans
    * (single-sourced with PlanAudit). */
  def auditSet: Seq[String] =
    Bench.headline ++ Seq("connector_partition_values",
      // the metadata-only COUNT: its audited evidence is the ABSENCE of
      // any scan exchange (LocalTableScan over pre-computed agg rows)
      "connector_count_pushdown", "connector_minmax_pushdown")

  /** Check one query's formatted plan text against the contract.
    * Returns a violation message, or None when in contract. */
  def check(name: String, planText: String): Option[String] = {
    val mentions = "SinglePartition".r.findAllIn(planText).length
    boundedSinglePartition.get(name) match {
      case None if mentions > 0 =>
        Some(s"$name: $mentions UNANNOTATED SinglePartition exchange(s) — " +
          "confirm each input frame is bounded by construction, then " +
          "annotate it in PlanContract.boundedSinglePartition")
      case Some((expected, _)) if mentions != expected =>
        Some(s"$name: SinglePartition mentions changed " +
          s"($expected annotated, $mentions in plan) — re-audit the plan " +
          "and update PlanContract.boundedSinglePartition")
      case _ => None
    }
  }
}
