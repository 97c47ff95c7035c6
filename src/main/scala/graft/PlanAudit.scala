package graft

import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans for the headline queries and greps
  * them for the scale-critical properties (pushed filters, broadcast
  * joins, no cartesian products except the intended broadcast-range
  * ones). Output is committed as PLANS.md so plan regressions show up
  * in review diffs: what differs between two runs of the same plans
  * (expression ids `#123`, exchange ids `plan_id=45`, object hashes
  * `@1a2b3c4d`, lambda class numbers, snapshot temp dirs) is stripped,
  * so a plan change is the only diff.
  */
object PlanAudit {
  val Headline = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier",
    "q_topk_customers", "q_asof_join", "q_jaccard_pairs", "q_minhash_pairs",
    "q_knn_bruteforce", "q_embed_neardup", "q_grid3d", "q_knn_ivf",
    "q_interp_grid", "q_percentiles", "q_corpus_curation", "q_split_sample",
    "q_range_join", "q_cube", "q_mode_per_group", "q_weighted_median",
    "q_contamination", "q_hkl_inverse", "q_array_rebin", "q_quality_buckets",
    "q_ub_matrix", "q_dark_stack", "q_spe_frames", "q_sixc_hkl",
    "q_repetition", "q_pii_scrub",
    "q_line_dedup", "q_lm_perplexity", "q_dsir_weights", "q_mix_rebalance",
    "q_substr_dedup", "q_lm_bigram", "q_dsir_select", "q_edf_frames",
    "q_radial_profile", "q_incremental_dedup", "q_edf_dark_radial",
    "q_lm_trigram", "q_curation_pipeline",
    "q_bm25", "q_heavy_hitters", "q_ppl_buckets", "q_audio_fingerprint",
    "q_domain_cap", "q_chunking", "q_profile", "q_zorder", "q_pmi",
    "q_mad_outliers", "q_tiff_frames", "q_iq_profile", "q_wav_stats",
    "q_bloom_contamination", "q_lm_kn", "q_funnel", "q_retention",
    "q_contrastive_pairs", "q_full_outer", "q_edit_neardup",
    "q_cluster_reps", "q_flat_radial", "q_peak_com", "q_soft_dedup",
    "q_mix_temperature", "q_sector_profile", "q_masked_radial",
    "q_peak_widths", "q_ttr", "q_kl_mix",
    "q_deadtime", "q_set_ops", "q_embed_int8", "q_scan_merge",
    "q_snip_background", "q_xcorr_align", "q_rolling_actives", "q_rfm",
    "q_window_funcs", "q_benford",
    "q_scan_pipeline", "q_split_radial", "q_containment_pairs",
    "q_event_transitions", "q_user_paths", "q_rolling_zscore",
    "q_peak_find", "q_trimmed_mean", "q_random_projection", "q_hist_eq",
    "q_w1_drift", "q_source_overlap", "q_rrf_fusion", "q_xcorr_subsample",
    "q_auc", "q_reliability", "q_spearman",
    "q_chisq", "q_ttest", "q_cusum", "q_acf", "q_avg_precision", "q_ndcg",
    "q_pagerank", "q_gini", "q_bootstrap_ci", "q_kaplan_meier", "q_theil",
    "q_quantile_sketch", "q_periodogram", "q_holt", "q_corr_matrix",
    "q_range_window", "q_approx_distinct", "q_peakfit_pipeline",
    "q_interval_join", "q_tfidf_terms", "q_novelty",
    "q_twap", "q_ohlc", "q_weighted_sample",
    // runs its driver-side scatter/eigen fit eagerly during planning
    // (like the IVF gates); the audited plan is the small result scan
    "q_pca_var", "q_ks_test",
    // round-6 continuation: eval metrics, time-series/monitoring,
    // curation/audit, relational completeness, graph, ANN eval
    "q_confusion", "q_brier", "q_ece", "q_cohen_kappa", "q_anova",
    "q_mannwhitney", "q_prop_test", "q_moments",
    "q_zipf_fit", "q_minkpct", "q_boilerplate", "q_oov_rate",
    "q_negative_sampling", "q_quantile_norm", "q_hill_tail",
    "q_attribution", "q_stickiness", "q_json_extract", "q_unpivot",
    "q_asof_forward", "q_flat_field", "q_matryoshka", "q_mutual_nn",
    "q_seasonal", "q_changepoint", "q_mutual_info", "q_theil_sen",
    "q_rolling_corr", "q_label_prop", "q_kfold", "q_learning_curve",
    "q_countmin", "q_winsorized", "q_dtw_align",
    // round-6 continuation: graph/audit/ops/attribution batches
    "q_triangles", "q_kcore", "q_assoc_rules", "q_item_cf",
    "q_jarque_bera", "q_pacf", "q_mann_kendall", "q_levene", "q_jsd",
    "q_simpson", "q_hurst", "q_mcnemar", "q_cramers_v", "q_grubbs",
    "q_seasonal_strength", "q_ccf", "q_dp_counts", "q_did", "q_sprt",
    "q_holt_winters", "q_kalman", "q_mmr_rerank", "q_markov_attrib",
    "q_shapley_attrib", "q_skew_audit", "q_psi", "q_label_centroids",
    "q_vocab_coverage", "q_conformal", "q_gains", "q_forecast_acc",
    "q_kanon", "q_ref_integrity", "q_bfs_hops", "q_drawdown", "q_fano",
    "q_burst_episodes", "q_runs_test", "q_abc", "q_growth_acct", "q_tukey",
    "q_cohort_ltv", "q_ess", "q_absorption_radial",
    // round-6 tail: divergence/effect-size/A-B-design/EVT/cluster-quality
    "q_bhattacharyya", "q_cliffs_delta", "q_odds_ratio", "q_eb_shrinkage",
    "q_power_mde", "q_extreme_value", "q_calinski", "q_srm", "q_keyness",
    "q_davies_bouldin", "q_dispersion", "q_silhouette", "q_bartlett",
    // round-7: EDF-test / cluster-quality / itemset completions
    "q_anderson_darling", "q_silhouette_sampled", "q_itemsets3",
    "q_kruskal_wallis", "q_durbin_watson", "q_ljung_box",
    "q_cvm", "q_friedman", "q_moore_lewis",
    // round-8: association/agreement/retrieval/survival/uplift batches
    "q_kendall", "q_chao1", "q_cochran_armitage", "q_partial_corr",
    "q_scan_stat", "q_ql_retrieval", "q_capture_recapture", "q_icc",
    "q_gtest", "q_krippendorff", "q_vmeasure", "q_mantel_haenszel",
    "q_nelson_aalen", "q_err", "q_qini", "q_burrows_delta",
    "q_cochran_q", "q_cohens_d", "q_gk_gamma", "q_fleiss_kappa",
    "q_rbo", "q_page_trend", "q_jonckheere", "q_pr_curve",
    "q_gini_split", "q_index_coincidence", "q_kupiec_pof", "q_mrr",
    "q_lepage", "q_rank_churn", "q_seasonal_mk", "q_cronbach",
    "q_sen_slope", "q_split_half", "q_bland_altman", "q_twoway_anova",
    "q_source_hhi", "q_youden", "q_hour_entropy", "q_siegel_tukey",
    "q_somers_d",
    // round-8 continuation: clones/spatial/causal/fairness/planning
    "q_lcp_clones", "q_murphy", "q_turning_points", "q_burstiness",
    "q_moran_geary", "q_assortativity", "q_diebold_mariano",
    "q_entropy_rate", "q_good_turing", "q_yule_k", "q_wilcoxon",
    "q_cucconi", "q_adamic_adar", "q_embed_isotropy", "q_gain_map",
    "q_ipf_raking", "q_hbos", "q_heaps_law", "q_rake", "q_textrank",
    "q_iv_wald", "q_rdd", "q_oaxaca", "q_truncation_loss",
    "q_median_test", "q_breusch_pagan", "q_chow", "q_concurrency",
    "q_woe_iv", "q_fairness", "q_dickey_fuller", "q_granger",
    "q_theil_u2", "q_bradley_terry", "q_nemenyi",
    // round-9: survival/robust-location/ordinal additions
    "q_hodges_lehmann", "q_cox_ph", "q_ologit_score",
    // round-10: graph/causal additions
    "q_ktruss", "q_ipw_ate", "q_evalue",
    // round-11: causal/spline/layout/ordinal additions
    "q_aipw_ate", "q_spline_rate", "q_bucketed_join", "q_prop_odds",
    "q_hubness", "q_html_extract", "q_encoding_repair",
    // round-12: the Moore–Lewis snapshot consumer (the other r12
    // de-global-sorted gates — q_gains/q_qini/q_heaps_law/q_ipw_ate/
    // q_aipw_ate — are already in the rounds above; their plans must
    // show the single-partition window only AFTER the value-collapse
    // aggregate, never over a per-row relation)
    "q_moore_lewis_bi",
    // the gate_mix benchmark gates not listed above, and the survival
    // family on the shared lifetime relations
    "q04_order_priority", "q_bg_subtract", "q_compress_ratio", "q_derivative",
    "q_gauss2d_fit", "q_logrank", "q_logrank_strat", "q_aalen", "q_rmst",
    "q_cum_incidence", "q_turnbull", "q_schoenfeld", "q_cindex")

  /** `plan` without the parts that differ between runs. */
  def stripIds(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("@[0-9a-f]{5,}\\b", "@")
      .replaceAll("graft_shared_\\d+", "graft_shared_")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // AQE stays ON in production sessions; the audit disables it so
      // the pre-execution plan carries codegen-id annotations.
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("# PLANS — physical-plan audit (generated by graft.PlanAudit)")
    println()
    println(s"Source: `$sfDir`; audit checks per plan are listed inline.")
    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = stripIds(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val pushed = formatted.linesIterator.count(_.contains("PushedFilters: ["))
      val pushedNonEmpty = formatted.linesIterator
        .count(l => l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
      val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
      val cartesian = plan.linesIterator.count(l =>
        l.contains("CartesianProduct"))
      val nestedLoop = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      val wsc = formatted.linesIterator
        .flatMap(l => "\\[codegen id : (\\d+)\\]".r.findAllMatchIn(l).map(_.group(1)))
        .toSet.size
      println(s"\n## $name")
      println(s"- scans with pushed filters: $pushedNonEmpty/$pushed; " +
        s"broadcast hash joins: $broadcasts; broadcast nested-loop: $nestedLoop; " +
        s"cartesian products: $cartesian; whole-stage-codegen spans: $wsc")
      println("```")
      println(plan.trim.take(4000))
      println("```")
    }
    spark.stop()
  }
}
