package perfbench

/** The query pools of the three query workloads, as explicit lists.
  *
  * Rule: every query of `SparkEntry.queries` falls in exactly one pool.
  *  - `maintenance`: the 8 queries that call into `graft.catalog`'s
  *    write paths (Mutate, Snapshots, Materialized, Rollup, Scd2 and the
  *    maintained inverted index). Seven of them commit files;
  *    `q242_scd2_fold` applies `Scd2.applyChanges` to an in-memory
  *    DataFrame and writes nothing.
  *  - `corpus`: the other queries declared in `queries/LlmOps.scala` —
  *    dedup, similarity, text and embedding operators over `documents`
  *    and `embeddings`.
  *  - `olap`: the other queries declared in every other `queries/` file.
  *
  * Each pool is listed in ascending order of its queries' single-run
  * times on 4 cores, measured once when the pools were built
  * (`expected.json` records a later such measurement as `seconds`), which
  * [[stratified]] samples by position.
  */
object Pools {

  val maintenance: Seq[String] = Seq(
    "q122_time_travel", "q127_snapshot_diff", "q119_inverted_index", "q242_scd2_fold",
    "q139_hll_rollup", "q134_maintained_agg", "q121_merge_upsert", "q128_maintained_index")

  val corpus: Seq[String] = Seq(
    "q62_stratified_sample", "q93_train_split", "q53_datum_export", "q72_group_sample",
    "q85_volume_trend", "q21_dedup_exact", "q23_quality_score", "q24_langid",
    "q71_heavy_terms", "q84_source_dedup_rate", "q96_vocab_drift", "q183_stratified_kfold",
    "q109_embed_quantize", "q182_negative_sampling", "q172_embedding_gram",
    "q66_corpus_shuffle", "q105_video_pipeline", "q79_heavy_terms_by_lang",
    "q28_cosine_topk", "q181_class_weights", "q180_feature_hashing", "q158_rrf_fusion",
    "q65_sequence_packing", "q74_nfc_normalize", "q120_index_search", "q67_doc_chunks",
    "q150_corpus_health", "q31_embed_neardups", "q154_markov_transitions",
    "q77_hourly_anomaly", "q29_ann_topk", "q46_multimodal_features", "q75_embed_outliers",
    "q73_length_curriculum", "q152_cohort_retention", "q153_chi2_keywords",
    "q124_strip_markup", "q179_target_encoding", "q94_lexical_diversity", "q151_funnel",
    "q69_lang_mixture", "q296_source_value", "q30_fingerprints", "q34_ann_ivf",
    "q115_semantic_dedup", "q125_temperature_resample", "q25_simhash", "q22_token_stats",
    "q68_bm25_probe", "q301_layer_dsl", "q42_simhash_dups", "q129_ann_recall",
    "q106_audio_pipeline", "q123_lm_bigram_score", "q283_source_communities",
    "q114_bpe_stats", "q64_decontaminate", "q76_source_overlap", "q32_tfidf_topterms",
    "q184_class_geometry", "q111_pii_redact", "q61_pii_redact", "q63_repetition_score",
    "q155_interevent_gaps", "q60_curation_fast", "q231_dedup_sweep", "q43_dup_clusters",
    "q112_repetition_stats", "q54_corpus_report", "q56_incremental_dedup",
    "q57_bow_sparse", "q40_neardups_fast", "q273_lsh_quality", "q41_curation_stats",
    "q78_dup_reach", "q113_cdc_dedup", "q227_cluster_sampling", "q26_minhash_neardups",
    "q220_split_leakage", "q27_jaccard_brute", "q51_langid_trigram", "q173_setsim_join")

  val olap: Seq[String] = Seq(
    "q265_noisy_counts", "q05_anti_join", "q06_forecast_revenue", "q148_map_funcs",
    "q82_scd2_intervals", "q290_privacy_utility", "q185_error_rate_ci", "q20_array_funcs",
    "q14_string_funcs", "q91_nation_roster", "q99_value_distribution",
    "q258_simpson_diversity", "q266_proportion_test", "q160_kll_quantiles",
    "q08_distinct_agg", "q48_window_navigation", "q38_above_nation_avg",
    "q282_capped_balance", "q247_annotator_kappa", "q97_latest_per_user",
    "q07_full_outer_nation", "q11_window_rank", "q262_cuped", "q17_events_hourly",
    "q288_ntile_quartiles", "q88_wow_growth", "q159_skyline", "q39_pivot_status",
    "q98_hopping_counts", "q245_k_anonymity", "q149_width_bucket", "q275_uplift_deciles",
    "q281_max_drawdown", "q252_zipf_head", "q246_l_diversity", "q87_salted_hot_agg",
    "q201_rank_distribution", "q267_power_mde", "q02_filter_project", "q255_calibration",
    "q146_listagg", "q102_top_supplier", "q189_topk_with_ties", "q198_feature_scaling",
    "q44_set_ops_all", "q285_km_logrank", "q279_stickiness", "q92_mode_quantity",
    "q37_promo_share", "q55_gapfill_hourly", "q176_key_skew_gini", "q234_prefix_sums",
    "q223_lag_features", "q269_slo_burn", "q277_dispersion", "q19_above_avg_orders",
    "q18_sessionize", "q192_daily_trend", "q251_heaps_law", "q90_inactive_rich_customers",
    "q13_set_ops", "q280_new_vs_returning", "q299_kendall_tau", "q144_not_in_nulls",
    "q240_feature_snapshot", "q289_pseudonymized_report", "q235_pps_sample",
    "q80_retention_cohorts", "q70_attribution", "q169_gap_fill_locf",
    "q166_small_qty_revenue", "q164_promo_share", "q232_union_by_name", "q15_date_funcs",
    "q59_gapfill_locf", "q58_lateral_topn", "q16_json_case", "q178_seasonal_anomaly",
    "q194_changepoint", "q221_pareto_coverage", "q263_srm_check", "q86_order_distribution",
    "q83_event_transitions", "q243_seq_patterns", "q213_conversion_latency",
    "q293_quota_allocation", "q202_bitmap_intersect", "q276_stl_lite", "q207_ks_test",
    "q270_returned_revenue_topk", "q117_sales_prospects", "q100_rollup_grouping",
    "q10_cube_counts", "q244_join_delta_rule", "q257_disorder_profile", "q211_benford",
    "q45_grouping_sets", "q195_ewma_volume", "q09_rollup_revenue", "q04_semi_join",
    "q225_trailing_distinct", "q186_hilbert_layout", "q163_cust_order_dist",
    "q210_event_trigrams", "q118_event_pagerank", "q291_forecast_7d",
    "q131_disjunctive_revenue", "q239_zonemap_prune", "q260_policy_replay",
    "q206_mannwhitney", "q253_time_weighted", "q171_assoc_rules",
    "q272_priority_order_check", "q196_cumulative_users", "q81_event_funnel",
    "q261_diff_in_diff", "q89_small_qty_revenue", "q254_kaplan_meier",
    "q162_ship_delay_mix", "q297_sign_test", "q12_window_running", "q133_bloom_join",
    "q284_absorption", "q170_mode_median", "q104_large_orders", "q236_countmin_freq",
    "q295_rendezvous_sharding", "q47_window_range", "q140_correlation",
    "q209_rolling_corr", "q250_good_turing", "q230_top_decile", "q03_topk_revenue",
    "q191_interval_union", "q50_range_join", "q256_langid_eval", "q01_pricing_summary",
    "q35_regional_volume", "q165_supplier_dist", "q208_cramers_v", "q222_corr_matrix",
    "q233_forecast_backtest", "q294_shrunk_rates", "q188_percentile_trend",
    "q101_dominant_suppliers", "q286_group_sequential", "q116_min_cost_supplier",
    "q238_ols_normal_eq", "q214_bounce_rate", "q300_integration_summary", "q215_ndcg",
    "q175_peak_concurrency", "q248_bradley_terry", "q292_forecast_backtest2",
    "q187_attribution", "q197_vocab_bitmask", "q249_spatial_pairs", "q193_autocorr",
    "q298_wilcoxon_signed", "q137_nation_volume", "q204_image_phash_dups",
    "q103_waiting_suppliers", "q287_adstock_regression", "q161_profit_by_nation",
    "q147_skew_kurtosis", "q142_session_window", "q138_market_share", "q36_returned_items",
    "q95_unpivot_measures", "q264_textrank_keywords", "q49_asof_join", "q205_spearman",
    "q110_zorder_curve", "q278_blocking_quality", "q141_asof_forward", "q143_zorder3",
    "q167_important_parts", "q135_fuzzy_join", "q229_asof_tolerance",
    "q136_quality_checks", "q132_lpa_communities", "q228_cohort_ltv",
    "q190_share_of_total", "q203_theil_sen", "q177_reconcile_totals", "q224_topk_others",
    "q108_variant_shred", "q216_quantile_norm", "q130_triangle_count", "q174_rfm_segments",
    "q200_join_advisor", "q199_equidepth_hist", "q33_approx_stats", "q274_sssp",
    "q126_mad_outliers", "q226_revenue_bridge", "q168_bfs_distances", "q259_impute_median",
    "q157_kcore", "q107_profile", "q212_weighted_median", "q268_join_order_advisor",
    "q219_join_size", "q156_winsorized_stats", "q217_perceptron", "q145_quantile_cont",
    "q271_part_supplier_census", "q237_fk_discovery", "q241_boilerplate_grams",
    "q52_exact_quantiles", "q218_containment_join")

  /** The `table_maintenance` sample: one query for each of the catalog's
    * commit paths, taken only from the queries that commit files —
    * `Mutate` (`q121_merge_upsert`: upsert and delete on a partitioned
    * table), `Snapshots` (`q127_snapshot_diff`: versioned partition
    * replace and change feed) and a maintained view (`q134_maintained_agg`:
    * `Materialized` aggregate kept in step with a keyed `Snapshots`
    * commit). */
  val maintenanceSample: Seq[String] =
    Seq("q121_merge_upsert", "q127_snapshot_diff", "q134_maintained_agg")

  /** The middle query of each of `k` equal consecutive strata of a
    * cost-ordered `pool`: a fixed sample spanning the pool's cost range.
    * The sample is fixed, not drawn by the seed, because a seeded sample
    * of this size moves p50, p90 and the rate by 10-40% from its
    * composition alone (simulated over the pools' single-run times),
    * which would swamp any bound; the seed draws the order. */
  def stratified(pool: Seq[String], k: Int): Seq[String] =
    (0 until k).map(i => pool((i * pool.size / k + (i + 1) * pool.size / k) / 2))
}
