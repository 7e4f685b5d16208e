"""The driver grades the FIRST 50 registry names in order
(CORRECTNESS_r{N}.json) — any insertion or reorder ahead of position 50
silently swaps which queries are graded.  This pin freezes the graded
prefix; new operators must append in modules AFTER the prefix (see
operators/__init__.py _MODULES ordering note).  The full name set is
pinned too, and the registry is grouped by domain: every operator
module that defines QUERIES is registered exactly once and no operator
module is named after the round it shipped in."""
import ast
import glob
import os


GRADED_PREFIX = ['q01_pricing_summary', 'q02_filter_project', 'q03_join_revenue', 'q04_star_dims', 'q05_semi_join', 'q06_anti_join', 'q07_window_rank', 'q08_window_running', 'q09_rollup', 'q10_cube', 'q11_topk', 'q12_setops', 'q41_setops_all', 'q43_histogram', 'q13_distinct_agg', 'q14_string_funcs', 'q15_date_funcs', 'q16_case_buckets', 'q17_exists', 'q18_having', 'q19_grouping_sets', 'q20_pivot', 'q21_array_funcs', 'q22_range_join', 'q23_json_extract', 'q24_asof_join', 'q25_percentiles', 'q26_unpivot', 'q27_math_funcs', 'q28_ntile', 'q29_bucketed_range_join', 'q30_dedup_rows', 'q31_approx_aggs', 'q32_left_outer', 'q33_full_outer', 'q34_cross_join', 'q35_window_partition_stats', 'q36_salted_agg', 'q37_map_funcs', 'q38_salted_join', 'q39_range_frame_window', 'q40_correlated_scalar', 'q42_stats_aggs', 'volume_cutout_sum', 'dedup_exact', 'dedup_incremental', 'dedup_fingerprint', 'dedup_minhash_pairs', 'dedup_ngram_jaccard', 'dedup_embedding_cosine']


# sorted; a new query is added here on purpose, never by accident
ALL_NAMES = ['ann_cosine_topk', 'ann_ivf_kmeans_topk', 'ann_ivf_nprobe2_topk',
    'ann_ivf_pq_topk', 'ann_ivf_sq8_topk', 'ann_ivf_topk',
    'ann_ivfpq_recall_audit', 'ann_kmeans_cells', 'ann_pq_recall_knee',
    'ann_pq_topk', 'ann_recall_audit', 'ann_sq8_topk', 'basket_pairs',
    'basket_triples', 'bloom_decontaminate', 'boilerplate_prefixes',
    'chi2_type_dow', 'cm_heavyhitters', 'cross_source_leakage',
    'customer_reorder_gaps', 'day_funnel_conversion', 'dedup_audit_pr',
    'dedup_canonical_pick', 'dedup_cluster_hist', 'dedup_components',
    'dedup_embedding_cosine', 'dedup_exact', 'dedup_exact_substring',
    'dedup_fingerprint', 'dedup_incremental', 'dedup_incremental_minhash',
    'dedup_minhash_pairs', 'dedup_ngram_jaccard', 'dedup_span_excise',
    'dedup_storage_savings', 'dq_audit', 'dsir_importance', 'emb_covariance',
    'emb_outlier_zscore', 'entity_res_golden', 'events_absence_match',
    'events_anomaly_zscore', 'events_debounce', 'events_funnel',
    'events_funnel_steps', 'events_gapfill', 'events_hdr_merge',
    'events_hdr_quantiles', 'events_interpolate', 'events_journeys',
    'events_kleene_match', 'events_pattern_match', 'events_retention',
    'events_rolling_dau', 'events_rollup_two_level', 'events_sessionize',
    'events_sliding', 'events_transitions', 'events_tumbling', 'events_twap',
    'events_windowed_topk', 'events_winsorize', 'fk_reconciliation',
    'fuzzy_name_pairs', 'graph_degree_stats', 'graph_hops_lsh',
    'graph_knn_edges', 'graph_lpa_lsh', 'graph_pagerank',
    'graph_pagerank_lsh', 'graph_sssp_lsh', 'graph_triangle_stats',
    'graph_triangles_lsh', 'interval_overlap_join', 'kmv_distinct_users',
    'ks_two_sample', 'layout_zorder_scan', 'leadtime_quantiles',
    'lorenz_curve', 'mann_whitney_u', 'markov_backtest', 'mine_bitext_pairs',
    'mm_byte_features', 'mm_decode_audio', 'mm_decode_video',
    'mm_fingerprint', 'mm_frame_sample', 'mm_metadata', 'mm_phash_neardup',
    'mm_resize_thumb', 'ngram_novelty', 'phrase_search',
    'pipeline_apply_changes', 'pipeline_apply_changes_nullable',
    'pipeline_chunk_documents', 'pipeline_clean_corpus',
    'pipeline_decontaminate', 'pipeline_e2e_curate', 'pipeline_global_ids',
    'pipeline_mixture_report', 'pipeline_pack_sequences',
    'pipeline_split_report', 'pipeline_temperature_mix',
    'q01_pricing_summary', 'q02_filter_project', 'q03_join_revenue',
    'q04_star_dims', 'q05_semi_join', 'q06_anti_join', 'q07_window_rank',
    'q08_window_running', 'q09_rollup', 'q10_cube', 'q11_topk', 'q12_setops',
    'q13_distinct_agg', 'q14_string_funcs', 'q15_date_funcs',
    'q16_case_buckets', 'q17_exists', 'q18_having', 'q19_grouping_sets',
    'q20_pivot', 'q21_array_funcs', 'q22_range_join', 'q23_json_extract',
    'q24_asof_join', 'q25_percentiles', 'q26_unpivot', 'q27_math_funcs',
    'q28_ntile', 'q29_bucketed_range_join', 'q30_dedup_rows',
    'q31_approx_aggs', 'q32_left_outer', 'q33_full_outer', 'q34_cross_join',
    'q35_window_partition_stats', 'q36_salted_agg', 'q37_map_funcs',
    'q38_salted_join', 'q39_range_frame_window', 'q40_correlated_scalar',
    'q41_setops_all', 'q42_stats_aggs', 'q43_histogram', 'q44_correlated_avg',
    'q45_late_sole_supplier', 'q46_missed_opportunities',
    'q47_region_supplier_volume', 'q48_nation_trade_flows',
    'q49_market_share', 'q50_min_cost_supplier', 'q51_top_supplier',
    'q52_large_orders', 'q53_important_parts', 'q54_idle_rich_customers',
    'q55_order_count_dist', 'q56_bracket_revenue',
    'q57_excess_stock_suppliers', 'q58_asof_forward', 'q59_asof_nearest',
    'q60_profit_by_nation_year', 'q61_supplier_part_counts',
    'q62_hierarchy_depth', 'q63_interval_concurrency', 'q64_weighted_median',
    'q65_pareto_frontier', 'q66_allocation', 'q68_cusum',
    'q69_interval_coverage', 'q70_mad_outliers', 'q71_quantile_screen',
    'q72_winsorized_mean', 'q73_ema_decay', 'q75_stock_runout',
    'q76_attribution', 'q77_regression_slope', 'q78_kanonymity',
    'q79_mutual_info', 'q80_welch_ttest', 'q81_cuped', 'q82_gini',
    'q83_seasonal_backtest', 'q84_rfm_segments', 'q85_qq_drift',
    'q86_kaplan_meier', 'q87_autocorr', 'q88_cohort_ltv',
    'q89_stratified_effect', 'q90_benford', 'q91_dow_seasonality',
    'q92_priority_count', 'q93_revenue_delta', 'q94_returned_item_top20',
    'q95_priority_by_class', 'q96_promo_share', 'q97_share_of_parent',
    'q98_fano_burstiness', 'q99_t_closeness', 'quality_calibration',
    'quality_filter_funnel', 'retrieval_mmr_rerank', 'retrieval_rrf_hybrid',
    'sample_cluster_balanced', 'sample_domain_cap', 'sample_stratified',
    'sample_temperature_mix', 'sample_weighted_exact', 'sample_weighted_mix',
    'scd2_history', 'scd2_point_in_time', 'semdedup_prune',
    'session_bounce_rate', 'set_sim_join', 'sim_label_centroid_norm',
    'sim_lsh_buckets', 'sim_lsh_pairs', 'sketch_jaccard',
    'sketch_union_distinct', 'text_bigram_logprob', 'text_bm25',
    'text_corpus_divergence', 'text_doc_freq', 'text_dup_ngrams',
    'text_fingerprint', 'text_gopher_rules', 'text_heavy_hitters',
    'text_langid', 'text_ngram_topk', 'text_paragraph_dedup', 'text_quality',
    'text_quality_buckets', 'text_quality_classifier', 'text_repetition',
    'text_simhash', 'text_stats', 'text_tfidf_topk', 'text_token_count',
    'text_unigram_logprob', 'text_vocab_growth', 'text_zipf_fit',
    'theil_sen_slope', 'type_corr_matrix', 'user_erasure_audit',
    'volume_agglomerate', 'volume_channel_histogram', 'volume_components',
    'volume_cutout_sum', 'volume_equalized_histogram', 'volume_histogram',
    'volume_label_moments', 'volume_label_sizes', 'volume_label_surface',
    'volume_mip1_histogram', 'volume_mip_projection', 'volume_rag',
    'volume_roi_stats', 'volume_slice_ncc', 'volume_slice_qc',
    'volume_stencil_smooth', 'wilson_error_ci']

OPS = os.path.join(os.path.dirname(__file__), os.pardir,
                   "bigarrays_jl_spark", "operators")


def test_graded_prefix_is_frozen():
    from bigarrays_jl_spark.operators import ALL_QUERIES
    assert list(ALL_QUERIES)[:50] == GRADED_PREFIX


def test_every_query_has_oracle_or_tolerance():
    from bigarrays_jl_spark.operators import (ALL_ORACLES, ALL_QUERIES,
                                              ALL_TOLERANCE_ORACLES)
    missing = [n for n in ALL_QUERIES
               if n not in ALL_ORACLES and n not in ALL_TOLERANCE_ORACLES]
    assert not missing, missing


def test_full_name_set_is_pinned():
    from bigarrays_jl_spark.operators import ALL_QUERIES
    assert len(ALL_NAMES) == 262
    assert sorted(ALL_QUERIES) == ALL_NAMES


def test_every_queries_module_is_registered_once():
    from bigarrays_jl_spark.operators import _MODULES
    defining = set()
    for path in glob.glob(os.path.join(OPS, "*.py")):
        tree = ast.parse(open(path).read())
        if any(isinstance(n, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "QUERIES"
                for t in n.targets) for n in tree.body):
            defining.add(os.path.basename(path)[:-3])
    registered = [m.__name__.rsplit(".", 1)[1] for m in _MODULES]
    assert sorted(registered) == sorted(set(registered))
    assert set(registered) == defining


# the round 8-10 test files keep their names (their tests' ids are
# pinned under them); no other test file is named after a round
ROUND_TEST_FILES = [
    "test_round10_ops.py", "test_round10b_ops.py", "test_round10c_ops.py",
    "test_round10d_ops.py", "test_round10e_ops.py", "test_round10f_ops.py",
    "test_round10g_ops.py", "test_round10gh_plans.py", "test_round10h_ops.py",
    "test_round10i_ops.py", "test_round10im_plans.py", "test_round10j_ops.py",
    "test_round10k_ops.py", "test_round10l_ops.py", "test_round10m_ops.py",
    "test_round8_ops.py", "test_round9_ops.py"]


def test_no_round_named_modules():
    tests = os.path.dirname(__file__)
    assert not glob.glob(os.path.join(OPS, "round*.py"))
    assert sorted(os.path.basename(p) for p in glob.glob(
        os.path.join(tests, "test_round*.py"))) == ROUND_TEST_FILES
