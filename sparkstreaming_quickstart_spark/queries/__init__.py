"""Oracle-checked query registry (the driver contract).

Every implemented operator from SURVEY.md section 2 registers here as a named
query: a `(spark, sf_dir) -> DataFrame` builder plus (when SQL-expressible) a
DuckDB oracle SQL string over the same tables.  `__spark_entry__.py` exposes
this registry verbatim.

Registration is import-driven: importing this package pulls in every query
module, each of which calls `register(...)` at import time.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> rows-only check
    doc: str = ""
    # "scale" = safe at 100 TB (the default contract); "ground-truth" = a
    # deliberately registered exact/all-pairs twin of a bucketed scale path,
    # kept for oracle parity and recall evaluation -- NOT for production
    # runs (the CLI warns, --list-queries marks it).
    scale_class: str = "scale"


_REGISTRY: dict[str, Query] = {}


def register(
    name: str, sql: str | None = None, doc: str = "", scale_class: str = "scale"
):
    """Decorator: register a query builder under `name`."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Query(
            name=name,
            fn=fn,
            sql=sql,
            doc=doc or (fn.__doc__ or ""),
            scale_class=scale_class,
        )
        return fn

    return wrap


def all_queries() -> dict[str, Query]:
    _ensure_loaded()
    return dict(_REGISTRY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {n: q.fn for n, q in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {n: q.sql for n, q in _REGISTRY.items() if q.sql is not None}


_LOADED = False

# The driver samples the FIRST 50 registered queries per round for its
# CORRECTNESS report.  Rounds 1-5 cumulatively hash-checked 247 of the 289
# entries (r5's sample covered waves 11-16, the round-2 TPC-H shapes and the
# q126-q144 block, all green).  This round-6 ordering front-loads the final
# 42 never-driver-checked entries (the q149-q182 stragglers + wave 17
# q286-q294), so ONE driver sample completes the registry-wide proof; every
# previously-green entry is rotated to the tail.  tests/test_coverage_doc.py
# guards this: with fewer than 50 unchecked entries remaining, the head must
# be exactly that set.
_PRIORITY: list[str] = [
    # Round-13 head (50 = 1 new + 11 value-changed/edited + 30 r5/r6-era
    # staleness rotations (60%, round-12 verdict #6) + 8 stalest r3
    # leftovers).  New never-driver-checked entries FIRST (rotation
    # contract), then the queries whose VALUES or spellings changed this
    # round: adaptive hyperplane bits (q65/q55/q297/q300), the vectorized
    # fold ports (q307/q224), the sharded-state q372, and the lockstep-scan
    # users (q380/q383/q393/q396).
    "q397_stream_join_window_rollup",
    "q65_dedup_embedding_cosine", "q55_similarity_ann_lsh",
    "q297_ann_recall_eval", "q300_hard_negative_mining",
    "q307_matryoshka_eval", "q224_record_linkage",
    "q372_stream_minhash_neardup", "q380_dictionary_tagging",
    "q383_dictionary_scan_automaton", "q393_tag_dictionary_auto",
    "q396_stream_dictionary_monitor",
    "q115_tpch_q2_min_cost", "q116_tpch_q9_profit",
    "q117_tpch_q11_important_stock", "q118_tpch_q16_supplier_cnt",
    "q119_tpch_q20_promotion", "q120_tpch_q21_waiting", "q126_bigram_lm",
    "q127_winsorized_stats", "q128_hll_sketch_union",
    "q130_multimodal_resize", "q131_variant_json", "q132_approx_top_k",
    "q133_collation_group", "q134_xml_decode", "q135_timeseries_gapfill",
    "q136_anomaly_zscore", "q137_similarity_topk_int8", "q138_scd2_orders",
    "q139_decontaminate", "q140_repetition_score", "q141_token_shards",
    "q144_data_card", "q157_countmin_heavy_hitters",
    "q158_corpus_dup_ngrams", "q159_stream_chained_windows",
    "q160_null_safe_join", "q161_pq_topk", "q162_try_functions",
    "q163_state_store_reader", "q164_stream_dedup_within_watermark",
    "q192_inverted_index", "q193_contiguous_ids", "q194_ntile_binning",
    "q195_map_hof", "q196_aes_roundtrip", "q197_zorder_layout",
    "q198_window_count_distinct", "q199_corr_matrix",
    # Round-12 head (50 = 2 new + 7 adaptive-family rewrites + 31 r4-era +
    # 10 r3-era staleness rotations).  New never-driver-checked entries
    # FIRST (rotation contract), then the queries whose VALUES changed this
    # round (the adaptive-nlist IVF family -- q391 is untouched), then the
    # round-11 verdict #6 rotation: 31 entries whose last hash proof is the
    # r4 sample (q208-q259 families, 62% of the head) and the 10 stalest
    # r3 leftovers.
    "q393_tag_dictionary_auto", "q394_stream_session_append",
    "q395_ivf_nprobe_recall_curve", "q396_stream_dictionary_monitor",
    "q385_ivf_partition_pruned_probe", "q386_mutual_knn_ivf_cells",
    "q387_ivf_adc_rerank", "q388_semdedup_ivf_report",
    "q389_knn_cell_recall", "q390_ivf_cell_balance",
    "q392_stream_ivf_cell_monitor",
    "q208_train_val_test_split", "q209_weighted_sample",
    "q210_grouping_sets_api", "q211_stream_window_distinct",
    "q212_sql_pipe_syntax", "q213_dq_checks", "q214_column_profile",
    "q215_binned_interval_join", "q216_variant_explode",
    "q218_transition_matrix", "q219_keyset_pagination",
    "q220_classifier_eval", "q221_benford_digits",
    "q223_session_entry_exit", "q224_record_linkage", "q225_golden_record",
    "q226_rag_index_build", "q227_decayed_engagement", "q228_growth_curve",
    "q229_ab_test_ztest", "q230_gini_concentration",
    "q231_chi_square_independence", "q232_psi_drift",
    "q233_dedup_provenance", "q234_share_of_parent", "q235_cluster_sample",
    "q236_multiclass_eval", "q237_kaplan_meier", "q238_zipf_fit",
    "q239_burstiness", "q240_heaps_law",
    "q183_c4_span_dedup", "q184_gopher_quality", "q186_semdedup",
    "q187_table_checksum", "q188_snapshot_diff", "q189_mode_countif",
    "q190_window_median", "q191_bm25_search", "q192_inverted_index",
    "q193_contiguous_ids",
    # Round-11 head (50 = new + edited + 48 staleness rotations).  New
    # never-driver-checked entries FIRST (rotation contract), then q329
    # (its dense kernel was factored into operators/similarity.
    # knn_edges_exact this round -- bit-identical by test pin, but the
    # edited spelling gets a fresh driver hash), then the entries with the
    # OLDEST surviving proofs: the full r02 block (33) and the head of the
    # r03 block (15) -- post-r10 these are the stalest families
    # (round-10 verdict #3).
    "q386_mutual_knn_ivf_cells", "q387_ivf_adc_rerank",
    "q388_semdedup_ivf_report", "q389_knn_cell_recall",
    "q390_ivf_cell_balance", "q391_pq_distortion",
    "q392_stream_ivf_cell_monitor",
    "q329_mutual_knn_graph",
    "q146_stream_stream_left_outer", "q147_salted_skew_join",
    "q148_embedding_gram", "q152_stream_global_topk", "q36_percentiles",
    "q50_dedup_exact", "q51_dedup_jaccard_exact", "q52_dedup_minhash_lsh",
    "q54_similarity_topk", "q55_similarity_ann_lsh", "q56_text_stats",
    "q57_text_quality", "q58_text_langid", "q59_text_fingerprint",
    "q60_multimodal_meta", "q61_tokens_regex", "q64_similarity_ivf",
    "q65_dedup_embedding_cosine", "q68_scalar_extras",
    "q69_agg_approx_percentile", "q70_stream_tumbling", "q71_stream_sliding",
    "q72_stream_dedup", "q73_stream_stream_join", "q74_stream_stateful_counts",
    "q75_stream_static_join", "q77_json_roundtrip_zip",
    "q78_multimodal_frames", "q84_stream_session_window",
    "q85_dedup_minhash_mllib", "q86_training_data_pipeline",
    "q87_stratified_sample", "q88_freq_items",
    "q101_hash_encode", "q103_struct_ops", "q104_date_extras",
    "q105_math_bitwise", "q106_window_nth_value",
    "q107_higher_order_predicates", "q108_regexp_extras",
    "q112_recursive_cte_spine", "q113_lateral_topk", "q183_c4_span_dedup",
    "q184_gopher_quality", "q186_semdedup", "q187_table_checksum",
    "q188_snapshot_diff", "q189_mode_countif",
    # Round-10 never-driver-checked entries FIRST (the rotation contract:
    # with <50 unchecked the head must be exactly that set).
    "q379_winnowing_neardup", "q380_dictionary_tagging",
    "q381_image_dhash_neardup", "q382_neardup_safe_split",
    "q383_dictionary_scan_automaton", "q384_filter_attribution",
    "q385_ivf_partition_pruned_probe",
    "q372_stream_minhash_neardup", "q373_bucketed_colocated_join",
    "q374_partition_pruned_scan", "q375_tfidf_cosine_lsh",
    "q376_tfidf_keywords", "q377_ewma_smoothing",
    "q378_corpus_snapshot_diff",
    # Round-10 head (50 = 2 + 48): first the two entries whose round-10 diff
    # changed values-relevant code (q222's df>50% posting-list prune --
    # output pairs change, oracle mirrored; q359's C(n,2) moved from double
    # '/2' to integer DIV so BIGINT pair counts stay exact past 2^53), THEN
    # 48 STALENESS rotations: the entries with the oldest surviving driver
    # hash (23 last proven in r01, 25 in r02 -- after r09 all 366 are
    # proven, so the 50-sample budget refreshes the stalest proofs per the
    # round-9 verdict contract; every head entry except q359 has last proof
    # <= r04).  Any new round-10 queries are prepended ABOVE this block so
    # the never-checked-first rule keeps holding.
    "q222_tfidf_cosine_pairs", "q359_adjusted_rand",
    "q100_tpch_q22_idle_customers", "q29_grouping_sets",
    "q35_session_window_builtin", "q37_pivot", "q38_scalar_subquery",
    "q46_map_funcs", "q47_higher_order", "q48_pandas_udf", "q49_grouped_map",
    "q63_udtf_tokenize", "q67_agg_moments", "q79_grouped_agg_udaf",
    "q80_tpch_q10_returns", "q81_tpch_q13_order_counts",
    "q82_tpch_q14_promo", "q83_tpch_q18_large_orders",
    "q93_tpch_q4_priority", "q94_tpch_q7_volume", "q95_tpch_q8_market_share",
    "q96_tpch_q12_late_lines", "q97_tpch_q15_top_supplier",
    "q98_tpch_q17_small_qty", "q99_tpch_q19_disjunctive",
    "q102_array_set_algebra", "q109_doc_chunking", "q110_text_normalize",
    "q111_label_centroids", "q114_dedup_embedding_exact", "q121_tfidf",
    "q122_embedding_quantize", "q123_hash_sample", "q124_kmeans_refine",
    "q125_key_skew_histogram", "q143_dataset_mixing",
    "q146_stream_stream_left_outer", "q147_salted_skew_join",
    "q148_embedding_gram", "q152_stream_global_topk", "q36_percentiles",
    "q50_dedup_exact", "q51_dedup_jaccard_exact", "q52_dedup_minhash_lsh",
    "q54_similarity_topk", "q55_similarity_ann_lsh", "q56_text_stats",
    "q57_text_quality", "q58_text_langid", "q59_text_fingerprint",
    # Round-9 head (50 = 19 + 4 + 27): the 19 never-driver-checked
    # wave-33..37 entries come first per the rotation contract (with <50
    # unchecked the head must be EXACTLY that set), THEN the four queries
    # whose round-9 diff changed values-relevant code (q324 full-grid chi2,
    # q329 cosine association order, q296/q301 rows-only -> value-oracle
    # redesigns) -- so the edited spellings get a fresh hash proof -- THEN
    # 27 STALENESS rotations: core entries whose last driver-hash proof
    # predates round 4 (the round-8 verdict item #6; 143 entries were last
    # proven in r01-r03, these are the oldest relational/join/agg/window
    # families).
    "q353_isotonic_calibration", "q354_cem_att",
    "q355_procrustes_alignment", "q356_kmv_distinct", "q357_theil_sen",
    "q358_cuped", "q359_adjusted_rand",
    "q360_sprt_conversion", "q361_brier_decomposition",
    "q362_quantile_treatment_effects",
    "q363_linear_cka", "q364_ledoit_wolf", "q365_pps_systematic",
    "q366_linear_mmd", "q367_stream_kmv_distinct",
    "q368_friedman_test", "q369_kneser_ney_ppl",
    "q370_mcnemar_test", "q371_token_gini",
    "q324_cramers_v", "q329_mutual_knn_graph",
    "q296_pca_scree", "q301_embedding_whitening",
    "q01_pricing_summary", "q02_filter_project", "q03_sort_limit",
    "q04_distinct", "q05_set_ops", "q06_tpch_q3_shipping",
    "q07_tpch_q5_local_supplier", "q08_tpch_q6_forecast",
    "q09_multiset_ops", "q10_join_inner", "q11_join_multiway",
    "q12_join_left_outer", "q13_join_semi", "q14_join_anti",
    "q15_join_theta", "q16_join_range", "q17_join_cross", "q18_join_asof",
    "q20_agg_groupby", "q21_agg_rollup", "q22_agg_cube", "q23_agg_having",
    "q24_agg_approx_distinct", "q25_agg_stats", "q26_agg_corr",
    "q27_agg_collect", "q28_agg_minmax_by",
    # Round-8 head follows (wave-23..32, proven in CORRECTNESS_r08).
    "q322_dup_graph_clustering", "q323_degree_assortativity",
    "q325_cohens_d", "q326_theil_index",
    "q327_perplexity_tertiles", "q328_subsample_ci",
    "q330_weighted_reservoir_sample",
    "q331_cross_lang_neardups", "q332_vocab_overlap_matrix",
    "q333_reciprocal_rank_fusion", "q334_brown_forsythe",
    "q335_kruskal_wallis", "q336_mmr_rerank",
    "q337_wasserstein_1d", "q338_rfm_segmentation", "q339_cumulative_gains",
    "q340_stream_weighted_reservoir", "q341_dedup_keep_longest",
    "q342_auc_roc", "q343_precision_recall_curve",
    "q344_aggregation_reversal", "q345_forecast_mase",
    "q346_greedy_mixture_budget", "q347_srm_check",
    "q348_mergeable_moments", "q349_adamic_adar", "q350_embedding_outliers",
    "q351_minhash_union_estimate", "q352_dup_cluster_purity",
    "q303_bpe_encode", "q306_corpus_pipeline_v3", "q320_lpa_modularity",
    # Round-7 head follows.
    "q295_embedding_covariance", "q296_pca_scree", "q297_ann_recall_eval",
    "q298_boilerplate_segments", "q299_quality_classifier_inference",
    "q300_hard_negative_mining", "q301_embedding_whitening",
    "q302_bloom_decontaminate", "q303_bpe_encode", "q304_dp_histogram",
    "q305_consistent_hash_ring", "q306_corpus_pipeline_v3",
    "q307_matryoshka_eval", "q308_dup_span_islands",
    "q309_adaptive_quality_gate", "q310_dedup_saturation",
    "q311_stream_asof_enrich", "q312_corpus_pipeline_v4",
    "q313_truncation_loss", "q314_source_semantic_matrix",
    "q315_neardup_source_matrix", "q316_embedding_coverage",
    "q317_pareto_front", "q318_oov_rate", "q319_lpa_communities",
    "q320_lpa_modularity", "q321_dup_graph_2core",
    "q289_token_budget_curriculum", "q286_fdr_bh_correction",
    "q262_exponential_gof", "q185_containment_neardup", "q53_dedup_simhash",
    "q293_kcenter_coreset",
    # Session-2 oracle-side MATERIALIZED edits (values identical; rotated
    # into the 50-sample window so the edited oracle spellings get a fresh
    # driver-hash proof):
    "q89_dedup_clusters", "q129_pagerank_neardup", "q145_sequence_packing",
    "q169_neardup_triangles",
    "q252_anova_f", "q263_twap",
    "q273_join_cardinality_audit", "q277_experiment_power", "q142_token_pmi",
    "q217_market_basket",
    "q149_funnel_steps", "q150_retention_cohorts", "q151_fuzzy_title_join",
    "q153_regr_aggregates", "q154_listagg_median", "q155_doc_perplexity",
    "q156_random_projection", "q157_countmin_heavy_hitters",
    "q158_corpus_dup_ngrams", "q159_stream_chained_windows",
    "q160_null_safe_join", "q161_pq_topk", "q162_try_functions",
    "q163_state_store_reader", "q164_stream_dedup_within_watermark",
    "q165_sql_udf", "q166_sql_scripting", "q167_map_in_arrow",
    "q168_feature_hashing", "q169_neardup_triangles", "q170_union_by_name",
    "q171_parameterized_sql", "q172_apply_in_arrow", "q173_bitmap_distinct",
    "q174_percentile_cont_disc", "q175_url_functions", "q176_from_csv",
    "q177_foreachbatch_upsert", "q178_brp_lsh_euclidean",
    "q179_stream_stream_full_outer", "q180_generators_xml",
    "q181_mllib_summarizer", "q182_width_bucket_histogram",
    "q286_fdr_bh_correction", "q287_cluster_quality",
    "q288_leakage_safe_split", "q289_token_budget_curriculum",
    "q290_acf_lags", "q291_ngram_novelty", "q292_dsir_importance",
    "q294_k_anonymity_generalize", "q293_kcenter_coreset",
    "q260_fpgrowth_itemsets", "q261_hapax_share", "q262_exponential_gof",
    "q263_twap", "q264_ohlc_bars", "q265_ir_eval", "q266_stream_psi_drift",
    "q267_mahalanobis_outliers", "q268_prefixspan_sequences",
    "q269_behavior_trigrams", "q270_bpe_merges", "q271_stream_user_topk",
    "q272_multimodal_audio_energy", "q273_join_cardinality_audit",
    "q274_blocking_recall_eval", "q275_lateness_profile", "q276_diff_in_diff",
    "q277_experiment_power", "q278_mad_robust_scale", "q279_kendall_tau",
    "q280_spearman_rho", "q281_mutual_information",
    "q282_distribution_reweight", "q283_conformal_interval",
    "q284_asof_forward", "q285_asof_nearest", "q115_tpch_q2_min_cost",
    "q116_tpch_q9_profit", "q117_tpch_q11_important_stock",
    "q118_tpch_q16_supplier_cnt", "q119_tpch_q20_promotion",
    "q120_tpch_q21_waiting", "q126_bigram_lm", "q127_winsorized_stats",
    "q128_hll_sketch_union", "q129_pagerank_neardup",
    "q130_multimodal_resize", "q131_variant_json", "q132_approx_top_k",
    "q133_collation_group", "q134_xml_decode", "q135_timeseries_gapfill",
    "q136_anomaly_zscore", "q137_similarity_topk_int8", "q138_scd2_orders",
    "q139_decontaminate", "q140_repetition_score", "q141_token_shards",
    "q142_token_pmi", "q144_data_card", "q208_train_val_test_split",
    "q209_weighted_sample", "q210_grouping_sets_api",
    "q211_stream_window_distinct", "q212_sql_pipe_syntax", "q213_dq_checks",
    "q214_column_profile", "q215_binned_interval_join",
    "q216_variant_explode", "q217_market_basket", "q218_transition_matrix",
    "q219_keyset_pagination", "q220_classifier_eval", "q221_benford_digits",
    "q222_tfidf_cosine_pairs", "q223_session_entry_exit",
    "q224_record_linkage", "q225_golden_record", "q226_rag_index_build",
    "q227_decayed_engagement", "q228_growth_curve", "q229_ab_test_ztest",
    "q230_gini_concentration", "q231_chi_square_independence",
    "q232_psi_drift", "q233_dedup_provenance", "q234_share_of_parent",
    "q235_cluster_sample", "q236_multiclass_eval", "q237_kaplan_meier",
    "q238_zipf_fit", "q239_burstiness", "q240_heaps_law",
    "q241_weighted_median", "q242_touch_attribution", "q243_source_overlap",
    "q244_welch_ttest", "q245_seasonality_profile", "q246_user_trend",
    "q247_calibration_curve", "q250_ks_test", "q251_mannwhitney_u",
    "q252_anova_f", "q253_cohens_kappa", "q254_js_divergence",
    "q255_ewma_smooth", "q256_cusum_changepoint", "q257_tokenizer_fertility",
    "q258_corpus_entropy", "q259_quantile_normalize", "q50_dedup_exact",
    "q51_dedup_jaccard_exact", "q52_dedup_minhash_lsh", "q53_dedup_simhash",
    "q65_dedup_embedding_cosine", "q114_dedup_embedding_exact",
    "q54_similarity_topk", "q55_similarity_ann_lsh", "q56_text_stats",
    "q57_text_quality", "q58_text_langid", "q59_text_fingerprint",
    "q60_multimodal_meta", "q61_tokens_regex", "q78_multimodal_frames",
    "q85_dedup_minhash_mllib", "q86_training_data_pipeline",
    "q89_dedup_clusters", "q109_doc_chunking", "q110_text_normalize",
    "q111_label_centroids", "q70_stream_tumbling", "q71_stream_sliding",
    "q72_stream_dedup", "q75_stream_static_join",
    "q74_stream_stateful_counts", "q73_stream_stream_join",
    "q84_stream_session_window", "q24_agg_approx_distinct", "q27_agg_collect",
    "q69_agg_approx_percentile", "q68_scalar_extras",
    "q77_json_roundtrip_zip", "q102_array_set_algebra",
    "q87_stratified_sample", "q88_freq_items", "q64_similarity_ivf",
    "q09_multiset_ops", "q36_percentiles", "q121_tfidf",
    "q122_embedding_quantize", "q123_hash_sample", "q124_kmeans_refine",
    "q125_key_skew_histogram", "q145_sequence_packing",
    "q146_stream_stream_left_outer", "q147_salted_skew_join",
    "q148_embedding_gram", "q152_stream_global_topk", "q143_dataset_mixing",
    "q01_pricing_summary", "q02_filter_project", "q03_sort_limit",
    "q04_distinct", "q05_set_ops", "q06_tpch_q3_shipping",
    "q07_tpch_q5_local_supplier", "q08_tpch_q6_forecast", "q63_udtf_tokenize",
    "q80_tpch_q10_returns", "q81_tpch_q13_order_counts", "q82_tpch_q14_promo",
    "q83_tpch_q18_large_orders", "q93_tpch_q4_priority", "q94_tpch_q7_volume",
    "q95_tpch_q8_market_share", "q96_tpch_q12_late_lines",
    "q97_tpch_q15_top_supplier", "q98_tpch_q17_small_qty",
    "q99_tpch_q19_disjunctive", "q100_tpch_q22_idle_customers",
    "q10_join_inner", "q11_join_multiway", "q12_join_left_outer",
    "q13_join_semi", "q14_join_anti", "q15_join_theta", "q16_join_range",
    "q17_join_cross", "q18_join_asof", "q20_agg_groupby", "q21_agg_rollup",
    "q22_agg_cube", "q23_agg_having", "q25_agg_stats", "q67_agg_moments",
    "q26_agg_corr", "q28_agg_minmax_by", "q29_grouping_sets",
    "q35_session_window_builtin", "q37_pivot", "q38_scalar_subquery",
    "q46_map_funcs", "q47_higher_order", "q48_pandas_udf", "q49_grouped_map",
    "q79_grouped_agg_udaf", "q30_window_topk", "q31_window_ranks",
    "q32_window_running", "q33_window_frame", "q34_session_windows",
    "q66_window_distribution", "q90_window_range_frame",
    "q106_window_nth_value", "q40_string_funcs", "q41_date_funcs",
    "q42_math_conditional", "q43_array_funcs", "q44_json_funcs",
    "q45_explode_posexplode", "q62_from_json_struct", "q91_explode_outer",
    "q92_unpivot", "q101_hash_encode", "q103_struct_ops", "q104_date_extras",
    "q105_math_bitwise", "q107_higher_order_predicates", "q108_regexp_extras",
    "q112_recursive_cte_spine", "q113_lateral_topk", "q183_c4_span_dedup",
    "q184_gopher_quality", "q185_containment_neardup", "q186_semdedup",
    "q187_table_checksum", "q188_snapshot_diff", "q189_mode_countif",
    "q190_window_median", "q191_bm25_search", "q192_inverted_index",
    "q193_contiguous_ids", "q194_ntile_binning", "q195_map_hof",
    "q196_aes_roundtrip", "q197_zorder_layout", "q198_window_count_distinct",
    "q199_corr_matrix", "q200_corpus_pipeline_v2", "q201_calendar_extras",
    "q202_udtf_table_arg", "q203_incremental_dedup", "q204_string_extras",
    "q205_transpose", "q206_asof_tolerance", "q207_dynamic_session_gap",
]


def _ensure_loaded() -> None:
    global _LOADED
    if _LOADED:
        return
    # Import every query module for its registration side effects.
    from . import relational  # noqa: F401
    from . import tpch  # noqa: F401
    from . import tpch_more  # noqa: F401
    from . import joins  # noqa: F401
    from . import aggregates  # noqa: F401
    from . import advanced  # noqa: F401
    from . import extras  # noqa: F401
    from . import windows  # noqa: F401
    from . import scalar  # noqa: F401
    from . import scalar2  # noqa: F401
    from . import llm  # noqa: F401
    from . import streaming  # noqa: F401
    from . import tpch_full  # noqa: F401
    from . import llm_extras  # noqa: F401
    from . import timeseries  # noqa: F401
    from . import traindata  # noqa: F401
    from . import analytics  # noqa: F401
    from . import statistics  # noqa: F401
    from . import corpus_quality  # noqa: F401
    from . import vectors  # noqa: F401
    from . import wave5  # noqa: F401
    from . import wave6  # noqa: F401
    from . import wave7  # noqa: F401
    from . import wave8  # noqa: F401
    from . import wave9  # noqa: F401
    from . import wave10  # noqa: F401
    from . import wave11  # noqa: F401
    from . import wave12  # noqa: F401
    from . import wave13  # noqa: F401
    from . import wave14  # noqa: F401
    from . import wave15  # noqa: F401
    from . import wave16  # noqa: F401
    from . import wave17  # noqa: F401
    from . import wave18  # noqa: F401
    from . import wave19  # noqa: F401
    from . import wave20  # noqa: F401
    from . import wave21  # noqa: F401
    from . import wave22  # noqa: F401
    from . import wave23  # noqa: F401
    from . import wave24  # noqa: F401
    from . import wave25  # noqa: F401
    from . import wave26  # noqa: F401
    from . import wave27  # noqa: F401
    from . import wave28  # noqa: F401
    from . import wave29  # noqa: F401
    from . import wave30  # noqa: F401
    from . import wave31  # noqa: F401
    from . import wave32  # noqa: F401
    from . import wave33  # noqa: F401
    from . import wave34  # noqa: F401
    from . import wave35  # noqa: F401
    from . import wave36  # noqa: F401
    from . import wave37  # noqa: F401
    from . import wave38  # noqa: F401
    from . import wave39  # noqa: F401
    from . import wave40  # noqa: F401
    from . import wave42  # noqa: F401

    # First occurrence wins: a rotation may promote a name to the head while
    # its old position remains further down the list.
    rank: dict[str, int] = {}
    for i, name in enumerate(_PRIORITY):
        rank.setdefault(name, i)
    ordered = sorted(
        enumerate(_REGISTRY.items()),
        key=lambda t: (rank.get(t[1][0], len(_PRIORITY) + t[0]),),
    )
    _REGISTRY.clear()
    _REGISTRY.update(dict(item for _, item in ordered))

    _LOADED = True
