"""The engine's query registry (package form of the former flat
queries.py - split mechanically in round 10 per VERDICT r9 #6; the
public surface, registry contents, and insertion order are unchanged).
"""

from __future__ import annotations

from ._common import QueryFn
from .approx_rows_only import ANN_LSH_RECALL_SQL, ANN_LSH_TOPK_SQL, PDF_OCR_CONTRACT_SQL, TEXT_KNN_HASHED_SQL, ann_lsh_recall, ann_lsh_topk, ann_lsh_topk_contract, image_features_demo, pdf_ocr_pipeline_demo, pdf_ocr_roundtrip_contract, text_knn_hashed_embedding
from .curation import ASSOCIATION_RULES_SQL, BM25_SQL, BUCKETED_JOIN_SQL, C4_FILTER_SQL, COUNT_MIN_SQL, DSIR_SQL, EVENT_PATTERN_SQL, EXPECTATIONS_SQL, INTERVAL_CONCURRENCY_SQL, JL_PROJECTION_SQL, LARGEST_REMAINDER_SQL, MOR_DELETE_SQL, MUTUAL_NN_SQL, OLS_TREND_SQL, OUTLIER_MAD_SQL, PAGERANK_SQL, RECURSIVE_BOM_SQL, RFM_SQL, SCD2_PIT_SQL, TABLE_CLONE_SQL, TABLE_FINGERPRINT_SQL, TABLE_PROFILE_SQL, TRAIN_SPLIT_SQL, TWAP_SQL, UNIMAX_SQL, USER_STREAKS_SQL, VOCAB_COVERAGE_SQL, association_rules_report, bm25_topk_contract, bucketed_join_report, c4_quality_filter_report, count_min_sketch_contract, dsir_importance_sample, event_pattern_match_report, expectations_audit_report, interval_concurrency_report, jl_projection_topk, largest_remainder_allocation, mor_delete_lifecycle_report, mutual_nn_pairs, ols_trend_by_segment, outlier_mad_report, pagerank_part_copurchase, recursive_bom_closure_report, rfm_segmentation_report, scd2_dimension_pit_report, table_clone_report, table_fingerprint_report, table_profile_report, train_val_test_split_report, twap_user_daily, unimax_language_budgets, user_streaks_report, vocab_coverage_report
from .data_skipping_ann import BINARY_HAMMING_SQL, COLBERT_MAXSIM_SQL, COMPACTION_SQL, DPP_SQL, JOIN_CARDINALITY_SQL, ORC_ROUNDTRIP_SQL, PSEUDONYMIZE_SQL, THETA_SETOPS_SQL, ZONEMAP_SQL, binary_quant_hamming_topk, colbert_maxsim_topk, compaction_report, dynamic_partition_pruning_report, join_cardinality_estimate, orc_roundtrip_report, pseudonymize_consistent_report, theta_sketch_setops, zonemap_pruning_report
from .dedup_text import BPE_TOKENIZE_SQL, CLUSTERS_SQL, CURATION_SQL, DECONTAM_SQL, DEDUP_EXACT_SQL, DEDUP_MINHASH_RECALL_SQL, DEDUP_MINHASH_SQL, DEDUP_SIMHASH_SQL, DOMAIN_QUOTA_SQL, EMB_QUANT_SQL, INCREMENTAL_DEDUP_SQL, KMEANS_SQL, KMV_SQL, MIXTURE_SQL, PACK_SQL, QUALITY_WEIGHTED_SQL, REPETITION_SQL, STRATIFIED_SAMPLE_SQL, TEXT_LANG_SQL, TEXT_QUALITY_SQL, TOKEN_COUNTS_SQL, bpe_tokenize_report, corpus_curation_report, decontam_benchmark_overlap, dedup_clusters_report, dedup_exact_groups, dedup_minhash_lsh, dedup_minhash_recall, dedup_simhash, domain_quota_cap, embedding_quantize_int8, incremental_dedup_report, kmeans_embeddings_clusters, kmv_distinct_sketch, pack_context_windows, quality_weighted_sample, source_mixture_weights, stratified_sample_documents, text_lang_id, text_quality_metrics, text_repetition_metrics, token_counts
from .doc_pipeline import CLASSIFY_SUMMARY_SQL, FIELD_FLATTEN_SQL, HISTORY_CLASS_SUMMARY_SQL, HISTORY_DOCS_SQL, PIPELINE_EAV_SQL, PIPELINE_WIDE_SQL, SUMMARIZE_SQL, history_class_summary, history_documents_current, history_field_flatten_filtered, pipeline_classify_summary, pipeline_extract_eav, pipeline_extract_wide, summarize_documents
from .gdpr_lifecycle import GDPR_LIFECYCLE_SQL, gdpr_erasure_lifecycle
from .ir_graph_analytics import BENFORD_SQL, BIGRAM_COLLOCATIONS_SQL, BITMAP_INDEX_SQL, CUBE_SQL, CUSUM_SQL, DRIFT_SHARE_SQL, ENCODING_ADVISOR_SQL, EQUIDEPTH_HISTOGRAM_SQL, EVENT_TRANSITION_SQL, FD_AUDIT_SQL, FREQUENT_SEQUENCES_SQL, FUZZY_LINKAGE_SQL, GAP_FILLED_HOURLY_SQL, GDPR_ERASURE_SQL, INTERARRIVAL_SQL, INVERTED_INDEX_SQL, KCORE_SQL, K_ANONYMITY_SQL, NATION_PROFILE_SIM_SQL, NDCG_MRR_SQL, RAKE_SQL, REFERENTIAL_INTEGRITY_SQL, SKEW_ADVISOR_SQL, SKYLINE_SQL, TRIANGLE_COUNT_SQL, TRIANGLE_SAMPLED_SQL, VOCAB_GROWTH_SQL, WEIGHTED_MEDIAN_SQL, WINDOW_RANK_SQL, benford_first_digit_audit, bigram_collocations_topk, bitmap_index_report, cube_returnflag_status, cusum_changepoint_hourly, drift_share_report, encoding_advisor_report, equidepth_histogram_orders, event_interarrival_histogram, event_transition_matrix, events_gap_filled_hourly, fd_violation_audit, frequent_event_sequences, fuzzy_record_linkage, gdpr_erasure_cascade, inverted_index_report, k_anonymity_audit, kcore_decomposition, nation_profile_similarity, ndcg_mrr_eval, rake_keyphrases, referential_integrity_audit, skew_advisor_report, skyline_parts_2d, triangle_count_copurchase, triangle_count_sampled, vocab_growth_report, weighted_median_by_flag, window_rank_functions_suite
from .lookups_joins import ANTI_JOIN_SQL, CUSTOMER_ORDER_STATS_SQL, FILTER_PRED_SQL, POINT_LOOKUP_SQL, SEMI_JOIN_SQL, anti_join_modest_customers, customer_order_stats, filter_predicates_customers, point_lookup_customer, semi_join_big_spenders
from .relational_breadth import ANN_IVF_SQL, ANN_PQ_RECALL_SQL, ANN_PQ_SQL, ANN_PQ_SUBSPACE_SQL, BLOOM_PRUNE_SQL, BOILERPLATE_SQL, CATALOG_COUNTS_SQL, CDC_SQL, CENTROIDS_SQL, CROSSTAB_SQL, DEDUP_CONTAINMENT_SQL, DEDUP_NGRAM_SQL, DML_DELETE_APPEND_SQL, DML_UPSERT_SQL, EMB_NEARDUP_SQL, ENTROPY_SQL, EXACT_SUBSTRING_SQL, EXPORT_ROUNDTRIP_SQL, FINGERPRINT_SQL, FULL_OUTER_SQL, FUNNEL_SQL, FUZZY_NAME_SQL, HEAVY_HITTERS_SQL, HISTOGRAM_SQL, HYBRID_SQL, IVM_ROLLUP_SQL, LM_PERPLEXITY_SQL, MERGE_PARTITIONED_SQL, NATION_SHARE_SQL, PERCENTILES_SQL, PII_SQL, PROFILE_SQL, PROMPT_NORM_SQL, Q10_SQL, Q13_SQL, Q14_SQL, Q15_SQL, Q16_SQL, Q17_SQL, Q18_SQL, Q22_SQL, Q2_SQL, Q4_SQL, Q6_SQL, Q7_SQL, Q9_SQL, RETENTION_SQL, ROLLUP_SQL, SCHEMA_EVOLUTION_SQL, SEMDEDUP_SQL, SESSION_DEFAULTS_SQL, SETOPS_SQL, TABLE_CHANGES_SQL, TFIDF_SQL, TIME_TRAVEL_SQL, TOP_TERMS_SQL, VARIANT_PROPS_SQL, WAREHOUSE_BOOTSTRAP_SQL, WINDOW_FRAMES_SQL, WINNOW_SQL, ZORDER_SQL, ann_ivf_topk, ann_pq_recall, ann_pq_subspace_topk, ann_pq_topk_contract, bloom_join_prune_report, boilerplate_removal_report, catalog_counts_report, corpus_top_terms, dedup_containment_pairs, dedup_embedding_cosine, dedup_ngram_jaccard, dedup_ngram_jaccard_prefix, dml_delete_append_lifecycle, dml_upsert_customers, doc_chunking_cdc, doc_fingerprint_rolling, doc_winnowing_fingerprints, docs_lang_source_crosstab, embedding_label_centroids, exact_substring_dedup_report, export_roundtrip_report, full_outer_nation_balance, funnel_signup_view_purchase, fuzzy_name_dedup, heavy_hitters_contract, history_documents_sparksql, hybrid_search_topk, ivm_rollup_maintenance, lm_perplexity_filter, merge_partitioned_lifecycle, nation_revenue_share, orders_value_histogram, percentiles_by_segment, profile_customer_columns, prompt_normalization_contract, q10_returned_items, q13_order_count_distribution, q14_promo_revenue, q15_top_suppliers, q16_part_supplier_counts, q17_small_quantity_revenue, q18_big_orders, q22_global_sales_opportunity, q2_min_cost_supplier, q4_priority_with_late_items, q6_forecast_revenue, q7_nation_pair_volume, q9_profit_by_nation_year, retention_cohorts, rollup_order_stats, schema_evolution_report, semdedup_report, session_defaults_contract, setops_customer_years, table_changes_stream_report, table_time_travel_report, text_clean_pii, text_token_entropy, tfidf_top_term_per_doc, variant_native_extract, variant_props_extract, warehouse_bootstrap_report, window_frames_running, zorder_layout_report
from .similarity_events import ASOF_SQL, EMB_TOPK_SQL, HOURLY_MAVG_SQL, HOURLY_SQL, RRF_FUSION_SQL, SESSIONIZE_SQL, asof_purchase_last_view, emb_cosine_topk, events_hourly_counts, events_hourly_moving_avg, rrf_hybrid_fusion, sessionize_summary
from .streaming_join import FLAKY_RECOVERY_SQL, STREAM_INTERVAL_JOIN_SQL, pipeline_flaky_transport_recovery, streaming_interval_join_attribution
from .streaming_media import AUDIO_FEATURES_SQL, CONT_ROLLUP_SQL, END_TO_END_DEDUP_SQL, IMAGE_FEATURES_SQL, SKETCH_BOUNDS_SQL, STREAM_EAV_SQL, VIDEO_FRAMES_SQL, audio_features_contract, audio_features_demo, continuous_rollup_events, dedup_end_to_end_report, image_features_contract, sketch_event_stats, streaming_intake_eav, video_frame_sample_demo, video_frames_contract
from .tpch_headline import Q1_SQL, Q3_SQL, Q5_SQL, q1_pricing_summary, q3_top_revenue_orders, q5_region_volume
from .tpch_shapes import ARGMAX_SQL, ARRAY_FUNCS_SQL, BOOL_BIT_SQL, CORR_STATS_SQL, DATETIME_SUITE_SQL, DET_SAMPLE_SQL, GROUPING_SETS_SQL, JSON_ROUNDTRIP_SQL, KEY_SKEW_SQL, LEAD_LAG_SQL, NULL_SEMANTICS_SQL, Q11_SQL, Q12_SQL, Q19_SQL, Q20_SQL, Q21_SQL, Q8_SQL, QUALITY_CLASSIFIER_SQL, RANGE_FRAME_SQL, RANGE_JOIN_SQL, REGEX_SUITE_SQL, SESSION_WINDOW_SQL, SKEW_SALTED_SQL, STRING_AGG_SQL, TRAINING_SHARD_SQL, UNPIVOT_SQL, argmax_latest_event, array_functions_suite, bool_bit_aggs, corr_stats_exact, datetime_functions_suite, deterministic_sample_orders, grouping_sets_order_stats, json_roundtrip_suite, key_skew_diagnosis, null_semantics_suite, q11_important_parts, q12_late_priority_counts, q19_disjunctive_revenue, q20_promo_part_suppliers, q21_waiting_suppliers, q8_market_share, quality_classifier_filter, range_join_views_before_purchase, regex_functions_suite, session_window_native, skew_salted_join_report, string_agg_region_nations, training_shard_manifest, unpivot_customer_metrics, window_lead_lag_ntile, window_range_frame_hour
from .windows_scalars import DISTINCT_SOURCES_SQL, EVENT_SUMMARY_SQL, GLOBAL_ORDER_STATS_SQL, LATEST_EVENT_SQL, PIVOT_SQL, SCALAR_SUITE_SQL, TOP_USERS_SQL, UNION_LABELS_SQL, distinct_sources_by_lang, event_type_summary, global_order_stats, latest_event_per_user, pivot_event_values, scalar_functions_suite, top_users_per_event_type, union_distinct_labels
from .occ_lifecycle import OCC_LIFECYCLE_SQL, occ_transact_lifecycle
from .occ_partitioned import OCC_PARTITIONED_SQL, occ_partitioned_lifecycle
from .occ_recovery import OCC_RECOVERY_SQL, occ_recover_stale_lifecycle
from .image_text import IMAGE_GLYPH_OCR_SQL, image_glyph_ocr_contract
from . import _common, tpch_headline, lookups_joins, windows_scalars, doc_pipeline, dedup_text, similarity_events, approx_rows_only, relational_breadth, streaming_media, tpch_shapes, curation, data_skipping_ann, ir_graph_analytics, gdpr_lifecycle, streaming_join, occ_lifecycle

# Re-create the pre-split flat-module surface exactly: every name each
# topical module defines (including _helpers and SQL constants) is
# reachable as unstructured_data_pipeline_spark.queries.<name>, in the
# original definition order (later chunks win name collisions, as the
# flat file's later definitions did).
for _mod in (_common, tpch_headline, lookups_joins, windows_scalars, doc_pipeline, dedup_text, similarity_events, approx_rows_only, relational_breadth, streaming_media, tpch_shapes, curation, data_skipping_ann, ir_graph_analytics, gdpr_lifecycle, streaming_join, occ_lifecycle):
    globals().update(
        {_k: _v for _k, _v in vars(_mod).items() if not _k.startswith('__')}
    )
del _mod

# ---------------------------------------------------------------------------
# registry

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    # round-2 additions + previously driver-unchecked queries lead the
    # insertion order so the driver's correctness sweep reaches them first
    "dedup_ngram_jaccard_prefix": (dedup_ngram_jaccard_prefix, DEDUP_NGRAM_SQL),
    "ann_lsh_recall": (ann_lsh_recall, ANN_LSH_RECALL_SQL),
    "streaming_intake_eav": (streaming_intake_eav, STREAM_EAV_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "ann_pq_topk_contract": (ann_pq_topk_contract, ANN_PQ_SQL),
    "ann_pq_recall": (ann_pq_recall, ANN_PQ_RECALL_SQL),
    "ann_pq_subspace_topk": (ann_pq_subspace_topk, ANN_PQ_SUBSPACE_SQL),
    "variant_props_extract": (variant_props_extract, VARIANT_PROPS_SQL),
    "variant_native_extract": (variant_native_extract, VARIANT_PROPS_SQL),
    "window_frames_running": (window_frames_running, WINDOW_FRAMES_SQL),
    "rollup_order_stats": (rollup_order_stats, ROLLUP_SQL),
    "nation_revenue_share": (nation_revenue_share, NATION_SHARE_SQL),
    "docs_lang_source_crosstab": (docs_lang_source_crosstab, CROSSTAB_SQL),
    "percentiles_by_segment": (percentiles_by_segment, PERCENTILES_SQL),
    "orders_value_histogram": (orders_value_histogram, HISTOGRAM_SQL),
    "funnel_signup_view_purchase": (funnel_signup_view_purchase, FUNNEL_SQL),
    "retention_cohorts": (retention_cohorts, RETENTION_SQL),
    "setops_customer_years": (setops_customer_years, SETOPS_SQL),
    "q13_order_count_distribution": (q13_order_count_distribution, Q13_SQL),
    "q15_top_suppliers": (q15_top_suppliers, Q15_SQL),
    "q16_part_supplier_counts": (q16_part_supplier_counts, Q16_SQL),
    "q17_small_quantity_revenue": (q17_small_quantity_revenue, Q17_SQL),
    "q22_global_sales_opportunity": (q22_global_sales_opportunity, Q22_SQL),
    "profile_customer_columns": (profile_customer_columns, PROFILE_SQL),
    "corpus_top_terms": (corpus_top_terms, TOP_TERMS_SQL),
    "text_token_entropy": (text_token_entropy, ENTROPY_SQL),
    "text_clean_pii": (text_clean_pii, PII_SQL),
    "doc_chunking_cdc": (doc_chunking_cdc, CDC_SQL),
    "hybrid_search_topk": (hybrid_search_topk, HYBRID_SQL),
    "tfidf_top_term_per_doc": (tfidf_top_term_per_doc, TFIDF_SQL),
    "embedding_label_centroids": (embedding_label_centroids, CENTROIDS_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q11_important_parts": (q11_important_parts, Q11_SQL),
    "q12_late_priority_counts": (q12_late_priority_counts, Q12_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_SQL),
    "q20_promo_part_suppliers": (q20_promo_part_suppliers, Q20_SQL),
    "q21_waiting_suppliers": (q21_waiting_suppliers, Q21_SQL),
    "grouping_sets_order_stats": (grouping_sets_order_stats, GROUPING_SETS_SQL),
    "window_lead_lag_ntile": (window_lead_lag_ntile, LEAD_LAG_SQL),
    "range_join_views_before_purchase": (range_join_views_before_purchase, RANGE_JOIN_SQL),
    "session_window_native": (session_window_native, SESSION_WINDOW_SQL),
    "corr_stats_exact": (corr_stats_exact, CORR_STATS_SQL),
    "deterministic_sample_orders": (deterministic_sample_orders, DET_SAMPLE_SQL),
    "window_range_frame_hour": (window_range_frame_hour, RANGE_FRAME_SQL),
    "unpivot_customer_metrics": (unpivot_customer_metrics, UNPIVOT_SQL),
    "argmax_latest_event": (argmax_latest_event, ARGMAX_SQL),
    "bool_bit_aggs": (bool_bit_aggs, BOOL_BIT_SQL),
    "array_functions_suite": (array_functions_suite, ARRAY_FUNCS_SQL),
    "string_agg_region_nations": (string_agg_region_nations, STRING_AGG_SQL),
    "regex_functions_suite": (regex_functions_suite, REGEX_SUITE_SQL),
    "datetime_functions_suite": (datetime_functions_suite, DATETIME_SUITE_SQL),
    "null_semantics_suite": (null_semantics_suite, NULL_SEMANTICS_SQL),
    "json_roundtrip_suite": (json_roundtrip_suite, JSON_ROUNDTRIP_SQL),
    # round-2 additions past slot 50: driver rows expected next round
    "dedup_minhash_recall": (dedup_minhash_recall, DEDUP_MINHASH_RECALL_SQL),
    "corpus_curation_report": (corpus_curation_report, CURATION_SQL),
    "decontam_benchmark_overlap": (decontam_benchmark_overlap, DECONTAM_SQL),
    "kmeans_embeddings_clusters": (kmeans_embeddings_clusters, KMEANS_SQL),
    "pack_context_windows": (pack_context_windows, PACK_SQL),
    "stratified_sample_documents": (stratified_sample_documents, STRATIFIED_SAMPLE_SQL),
    "text_repetition_metrics": (text_repetition_metrics, REPETITION_SQL),
    "embedding_quantize_int8": (embedding_quantize_int8, EMB_QUANT_SQL),
    "source_mixture_weights": (source_mixture_weights, MIXTURE_SQL),
    "kmv_distinct_sketch": (kmv_distinct_sketch, KMV_SQL),
    "dedup_clusters_report": (dedup_clusters_report, CLUSTERS_SQL),
    "incremental_dedup_report": (incremental_dedup_report, INCREMENTAL_DEDUP_SQL),
    "dml_delete_append_lifecycle": (dml_delete_append_lifecycle, DML_DELETE_APPEND_SQL),
    "merge_partitioned_lifecycle": (merge_partitioned_lifecycle, MERGE_PARTITIONED_SQL),
    "table_time_travel_report": (table_time_travel_report, TIME_TRAVEL_SQL),
    "heavy_hitters_contract": (heavy_hitters_contract, HEAVY_HITTERS_SQL),
    "catalog_counts_report": (catalog_counts_report, CATALOG_COUNTS_SQL),
    "warehouse_bootstrap_report": (warehouse_bootstrap_report, WAREHOUSE_BOOTSTRAP_SQL),
    "prompt_normalization_contract": (prompt_normalization_contract, PROMPT_NORM_SQL),
    "session_defaults_contract": (session_defaults_contract, SESSION_DEFAULTS_SQL),
    "export_roundtrip_report": (export_roundtrip_report, EXPORT_ROUNDTRIP_SQL),
    "zorder_layout_report": (zorder_layout_report, ZORDER_SQL),
    "continuous_rollup_events": (continuous_rollup_events, CONT_ROLLUP_SQL),
    "ann_lsh_topk_contract": (ann_lsh_topk_contract, ANN_LSH_TOPK_SQL),
    "text_knn_hashed_embedding": (text_knn_hashed_embedding, TEXT_KNN_HASHED_SQL),
    "pdf_ocr_roundtrip_contract": (pdf_ocr_roundtrip_contract, PDF_OCR_CONTRACT_SQL),
    "video_frames_contract": (video_frames_contract, VIDEO_FRAMES_SQL),
    "audio_features_contract": (audio_features_contract, AUDIO_FEATURES_SQL),
    "image_features_contract": (image_features_contract, IMAGE_FEATURES_SQL),
    "sketch_event_stats": (sketch_event_stats, SKETCH_BOUNDS_SQL),
    "dedup_end_to_end_report": (dedup_end_to_end_report, END_TO_END_DEDUP_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_revenue_orders": (q3_top_revenue_orders, Q3_SQL),
    "q5_region_volume": (q5_region_volume, Q5_SQL),
    "point_lookup_customer": (point_lookup_customer, POINT_LOOKUP_SQL),
    "filter_predicates_customers": (filter_predicates_customers, FILTER_PRED_SQL),
    "customer_order_stats": (customer_order_stats, CUSTOMER_ORDER_STATS_SQL),
    "semi_join_big_spenders": (semi_join_big_spenders, SEMI_JOIN_SQL),
    "anti_join_modest_customers": (anti_join_modest_customers, ANTI_JOIN_SQL),
    "latest_event_per_user": (latest_event_per_user, LATEST_EVENT_SQL),
    "top_users_per_event_type": (top_users_per_event_type, TOP_USERS_SQL),
    "event_type_summary": (event_type_summary, EVENT_SUMMARY_SQL),
    "global_order_stats": (global_order_stats, GLOBAL_ORDER_STATS_SQL),
    "distinct_sources_by_lang": (distinct_sources_by_lang, DISTINCT_SOURCES_SQL),
    "union_distinct_labels": (union_distinct_labels, UNION_LABELS_SQL),
    "scalar_functions_suite": (scalar_functions_suite, SCALAR_SUITE_SQL),
    "pivot_event_values": (pivot_event_values, PIVOT_SQL),
    "pipeline_extract_eav": (pipeline_extract_eav, PIPELINE_EAV_SQL),
    "pipeline_classify_summary": (pipeline_classify_summary, CLASSIFY_SUMMARY_SQL),
    "pipeline_extract_wide": (pipeline_extract_wide, PIPELINE_WIDE_SQL),
    "summarize_documents": (summarize_documents, SUMMARIZE_SQL),
    "history_class_summary": (history_class_summary, HISTORY_CLASS_SUMMARY_SQL),
    "history_documents_current": (history_documents_current, HISTORY_DOCS_SQL),
    "history_field_flatten_filtered": (history_field_flatten_filtered, FIELD_FLATTEN_SQL),
    "history_documents_sparksql": (history_documents_sparksql, HISTORY_DOCS_SQL),
    "dedup_exact_groups": (dedup_exact_groups, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "text_quality_metrics": (text_quality_metrics, TEXT_QUALITY_SQL),
    "token_counts": (token_counts, TOKEN_COUNTS_SQL),
    "text_lang_id": (text_lang_id, TEXT_LANG_SQL),
    "emb_cosine_topk": (emb_cosine_topk, EMB_TOPK_SQL),
    "events_hourly_counts": (events_hourly_counts, HOURLY_SQL),
    "events_hourly_moving_avg": (events_hourly_moving_avg, HOURLY_MAVG_SQL),
    "sessionize_summary": (sessionize_summary, SESSIONIZE_SQL),
    "asof_purchase_last_view": (asof_purchase_last_view, ASOF_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_containment_pairs": (dedup_containment_pairs, DEDUP_CONTAINMENT_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, EMB_NEARDUP_SQL),
    "semdedup_report": (semdedup_report, SEMDEDUP_SQL),
    "boilerplate_removal_report": (boilerplate_removal_report, BOILERPLATE_SQL),
    "bloom_join_prune_report": (bloom_join_prune_report, BLOOM_PRUNE_SQL),
    "lm_perplexity_filter": (lm_perplexity_filter, LM_PERPLEXITY_SQL),
    "exact_substring_dedup": (exact_substring_dedup_report, EXACT_SUBSTRING_SQL),
    "rrf_hybrid_fusion": (rrf_hybrid_fusion, RRF_FUSION_SQL),
    "training_shard_manifest": (training_shard_manifest, TRAINING_SHARD_SQL),
    "quality_classifier_filter": (quality_classifier_filter, QUALITY_CLASSIFIER_SQL),
    "skew_salted_join_report": (skew_salted_join_report, SKEW_SALTED_SQL),
    "key_skew_diagnosis": (key_skew_diagnosis, KEY_SKEW_SQL),
    "table_changes_stream_report": (table_changes_stream_report, TABLE_CHANGES_SQL),
    "ivm_rollup_maintenance": (ivm_rollup_maintenance, IVM_ROLLUP_SQL),
    "schema_evolution_report": (schema_evolution_report, SCHEMA_EVOLUTION_SQL),
    "bpe_tokenize_report": (bpe_tokenize_report, BPE_TOKENIZE_SQL),
    "domain_quota_cap": (domain_quota_cap, DOMAIN_QUOTA_SQL),
    "quality_weighted_sample": (quality_weighted_sample, QUALITY_WEIGHTED_SQL),
    "doc_fingerprint_rolling": (doc_fingerprint_rolling, FINGERPRINT_SQL),
    "fuzzy_name_dedup": (fuzzy_name_dedup, FUZZY_NAME_SQL),
    "dml_upsert_customers": (dml_upsert_customers, DML_UPSERT_SQL),
    "q2_min_cost_supplier": (q2_min_cost_supplier, Q2_SQL),
    "q4_priority_with_late_items": (q4_priority_with_late_items, Q4_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "q7_nation_pair_volume": (q7_nation_pair_volume, Q7_SQL),
    "q9_profit_by_nation_year": (q9_profit_by_nation_year, Q9_SQL),
    "full_outer_nation_balance": (full_outer_nation_balance, FULL_OUTER_SQL),
    "doc_winnowing_fingerprints": (doc_winnowing_fingerprints, WINNOW_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "q14_promo_revenue": (q14_promo_revenue, Q14_SQL),
    "q18_big_orders": (q18_big_orders, Q18_SQL),
    # round-5 additions (never driver-checked -> the computed freshness
    # rotation surfaces them right behind the changed-this-round list automatically)
    "dsir_importance_sample": (dsir_importance_sample, DSIR_SQL),
    "bm25_topk_contract": (bm25_topk_contract, BM25_SQL),
    "unimax_language_budgets": (unimax_language_budgets, UNIMAX_SQL),
    "count_min_sketch_contract": (count_min_sketch_contract, COUNT_MIN_SQL),
    "c4_quality_filter_report": (c4_quality_filter_report, C4_FILTER_SQL),
    "table_profile_report": (table_profile_report, TABLE_PROFILE_SQL),
    "table_clone_report": (table_clone_report, TABLE_CLONE_SQL),
    "bucketed_join_report": (bucketed_join_report, BUCKETED_JOIN_SQL),
    "jl_projection_topk": (jl_projection_topk, JL_PROJECTION_SQL),
    "pagerank_part_copurchase": (pagerank_part_copurchase, PAGERANK_SQL),
    "vocab_coverage_report": (vocab_coverage_report, VOCAB_COVERAGE_SQL),
    "train_val_test_split_report": (train_val_test_split_report, TRAIN_SPLIT_SQL),
    "mor_delete_lifecycle_report": (mor_delete_lifecycle_report, MOR_DELETE_SQL),
    "event_pattern_match_report": (event_pattern_match_report, EVENT_PATTERN_SQL),
    "outlier_mad_report": (outlier_mad_report, OUTLIER_MAD_SQL),
    "scd2_dimension_pit_report": (scd2_dimension_pit_report, SCD2_PIT_SQL),
    "recursive_bom_closure_report": (recursive_bom_closure_report, RECURSIVE_BOM_SQL),
    "interval_concurrency_report": (interval_concurrency_report, INTERVAL_CONCURRENCY_SQL),
    "expectations_audit_report": (expectations_audit_report, EXPECTATIONS_SQL),
    "mutual_nn_pairs": (mutual_nn_pairs, MUTUAL_NN_SQL),
    "ols_trend_by_segment": (ols_trend_by_segment, OLS_TREND_SQL),
    "user_streaks_report": (user_streaks_report, USER_STREAKS_SQL),
    "table_fingerprint_report": (table_fingerprint_report, TABLE_FINGERPRINT_SQL),
    "rfm_segmentation_report": (rfm_segmentation_report, RFM_SQL),
    "association_rules_report": (association_rules_report, ASSOCIATION_RULES_SQL),
    "largest_remainder_allocation": (largest_remainder_allocation, LARGEST_REMAINDER_SQL),
    "twap_user_daily": (twap_user_daily, TWAP_SQL),
    # round-6 additions (never driver-checked -> the computed freshness
    # rotation surfaces them right behind the changed-this-round list automatically)
    "zonemap_pruning_report": (zonemap_pruning_report, ZONEMAP_SQL),
    "binary_quant_hamming_topk": (binary_quant_hamming_topk, BINARY_HAMMING_SQL),
    "theta_sketch_setops": (theta_sketch_setops, THETA_SETOPS_SQL),
    "orc_roundtrip_report": (orc_roundtrip_report, ORC_ROUNDTRIP_SQL),
    "pseudonymize_consistent_report": (
        pseudonymize_consistent_report,
        PSEUDONYMIZE_SQL,
    ),
    "colbert_maxsim_topk": (colbert_maxsim_topk, COLBERT_MAXSIM_SQL),
    "join_cardinality_estimate": (join_cardinality_estimate, JOIN_CARDINALITY_SQL),
    "compaction_report": (compaction_report, COMPACTION_SQL),
    "dynamic_partition_pruning_report": (
        dynamic_partition_pruning_report,
        DPP_SQL,
    ),
    # round-6 second block: IR structures, planner statistics, graph+analytics
    "inverted_index_report": (inverted_index_report, INVERTED_INDEX_SQL),
    "bigram_collocations_topk": (bigram_collocations_topk, BIGRAM_COLLOCATIONS_SQL),
    "event_transition_matrix": (event_transition_matrix, EVENT_TRANSITION_SQL),
    "events_gap_filled_hourly": (events_gap_filled_hourly, GAP_FILLED_HOURLY_SQL),
    "triangle_count_copurchase": (triangle_count_copurchase, TRIANGLE_COUNT_SQL),
    "skyline_parts_2d": (skyline_parts_2d, SKYLINE_SQL),
    "equidepth_histogram_orders": (
        equidepth_histogram_orders,
        EQUIDEPTH_HISTOGRAM_SQL,
    ),
    "weighted_median_by_flag": (weighted_median_by_flag, WEIGHTED_MEDIAN_SQL),
    # round-6 third block: data-quality gates and monitoring statistics
    "referential_integrity_audit": (
        referential_integrity_audit,
        REFERENTIAL_INTEGRITY_SQL,
    ),
    "benford_first_digit_audit": (benford_first_digit_audit, BENFORD_SQL),
    "drift_share_report": (drift_share_report, DRIFT_SHARE_SQL),
    "cusum_changepoint_hourly": (cusum_changepoint_hourly, CUSUM_SQL),
    "frequent_event_sequences": (frequent_event_sequences, FREQUENT_SEQUENCES_SQL),
    "kcore_decomposition": (kcore_decomposition, KCORE_SQL),
    "encoding_advisor_report": (encoding_advisor_report, ENCODING_ADVISOR_SQL),
    "rake_keyphrases": (rake_keyphrases, RAKE_SQL),
    "bitmap_index_report": (bitmap_index_report, BITMAP_INDEX_SQL),
    "fd_violation_audit": (fd_violation_audit, FD_AUDIT_SQL),
    "k_anonymity_audit": (k_anonymity_audit, K_ANONYMITY_SQL),
    "ndcg_mrr_eval": (ndcg_mrr_eval, NDCG_MRR_SQL),
    "vocab_growth_report": (vocab_growth_report, VOCAB_GROWTH_SQL),
    "event_interarrival_histogram": (
        event_interarrival_histogram,
        INTERARRIVAL_SQL,
    ),
    "nation_profile_similarity": (
        nation_profile_similarity,
        NATION_PROFILE_SIM_SQL,
    ),
    # round-7 additions
    "fuzzy_record_linkage": (fuzzy_record_linkage, FUZZY_LINKAGE_SQL),
    "gdpr_erasure_cascade": (gdpr_erasure_cascade, GDPR_ERASURE_SQL),
    "skew_advisor_report": (skew_advisor_report, SKEW_ADVISOR_SQL),
    "cube_returnflag_status": (cube_returnflag_status, CUBE_SQL),
    "window_rank_functions_suite": (
        window_rank_functions_suite,
        WINDOW_RANK_SQL,
    ),
    # round-8 additions (never driver-checked -> the computed freshness
    # rotation surfaces them right behind the changed-this-round list automatically)
    "gdpr_erasure_lifecycle": (gdpr_erasure_lifecycle, GDPR_LIFECYCLE_SQL),
    # round 11: OCC protocol lifecycle (VERDICT r10 #3 — the one r10
    # component with unit/race evidence but no hash-gated driver row)
    "occ_transact_lifecycle": (occ_transact_lifecycle, OCC_LIFECYCLE_SQL),
    "occ_partitioned_lifecycle": (occ_partitioned_lifecycle, OCC_PARTITIONED_SQL),
    "occ_recover_stale_lifecycle": (occ_recover_stale_lifecycle, OCC_RECOVERY_SQL),
    "image_glyph_ocr_contract": (image_glyph_ocr_contract, IMAGE_GLYPH_OCR_SQL),
    "triangle_count_sampled": (triangle_count_sampled, TRIANGLE_SAMPLED_SQL),
    # round-9 additions (never driver-checked -> the computed freshness
    # rotation surfaces them right behind the changed-this-round list automatically)
    "streaming_interval_join_attribution": (
        streaming_interval_join_attribution,
        STREAM_INTERVAL_JOIN_SQL,
    ),
    "pipeline_flaky_transport_recovery": (
        pipeline_flaky_transport_recovery,
        FLAKY_RECOVERY_SQL,
    ),
}

# Rows-only demos retired from REGISTRY per VERDICT r3 #1: their hash-checked
# `*_contract` siblings carry the driver evidence; the demos remain importable
# here (exercised by pytest + examples/) so the pipelines stay executable.
DEMOS = {
    "ann_lsh_topk": ann_lsh_topk,
    "pdf_ocr_pipeline_demo": pdf_ocr_pipeline_demo,
    "image_features_demo": image_features_demo,
    "video_frame_sample_demo": video_frame_sample_demo,
    "audio_features_demo": audio_features_demo,
}

# The driver's correctness sweep checks ~50 registry entries per round in
# insertion order, so insertion order IS the evidence-freshness policy.
# Round 4's hand-curated priority list forgot its own six newest entries
# (VERDICT r4 "What's missing" #1), so from round 5 the rotation is
# COMPUTED from the tracked CORRECTNESS_r*.json artifacts at import time:
#   1. entries whose implementation or oracle changed in the latest change
#      (hand-listed below — the only part that must be curated, because
#      only the author knows what changed before the driver runs);
#   2. entries with no green driver row in any tracked round (new or
#      previously failing — they need evidence most);
#   3. everything else, oldest green round first (ties keep registry
#      insertion order), so no green row ages silently.
# Entries past the ~50 budget simply wait; the computed order guarantees
# they are the FRESHEST-evidence entries, never forgotten ones.

# Entries whose own implementation (and execution path shape) changed in
# the latest change set: they lead the rotation so their oracle evidence is
# re-proved before anything else.  Replace the list with each change set's
# own; the assert below keeps every name a live registry entry.
_CHANGED_PATHS = [
    # one on-disk table layout: one `_scan` for flat and partitioned
    # versions, `recover_stale` removes every root entry but the `v-*`
    # dirs, and `compact` counts partitioned data files
    "occ_recover_stale_lifecycle",
    "occ_transact_lifecycle",
    "occ_partitioned_lifecycle",
    "schema_evolution_report",
    "table_clone_report",
    "table_time_travel_report",
    "mor_delete_lifecycle_report",
    "merge_partitioned_lifecycle",
    "compaction_report",
]


def _latest_green_rounds() -> dict[str, int]:
    """name -> latest round with a fully green driver row, parsed from the
    repo's tracked CORRECTNESS_r*.json files (absent/failed -> not listed).
    Returns {} outside the repo checkout — the rotation then degrades to
    plain insertion order."""
    import json as _json
    import re as _re
    from pathlib import Path as _Path

    latest: dict[str, int] = {}
    # walk up to the checkout root (the dir holding pyproject.toml) — robust
    # to this module living at queries.py or queries/__init__.py depth
    root = _Path(__file__).resolve().parent
    for _ in range(4):
        if (root / "pyproject.toml").exists():
            break
        root = root.parent
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = _re.fullmatch(r"CORRECTNESS_r(\d+)", f.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = _json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        for name, rec in data.items():
            if (
                isinstance(rec, dict)
                and rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match") is not False  # rows-only checks count
                and rec.get("err") is None
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _freshness_order(names: list[str]) -> list[str]:
    changed = [n for n in _CHANGED_PATHS if n in names]
    green = _latest_green_rounds()
    pos = {n: i for i, n in enumerate(names)}
    rest = sorted(
        (n for n in names if n not in set(changed)),
        key=lambda n: (green.get(n, -1), pos[n]),
    )
    return changed + rest


assert set(_CHANGED_PATHS) <= set(REGISTRY), sorted(set(_CHANGED_PATHS) - set(REGISTRY))
REGISTRY = {n: REGISTRY[n] for n in _freshness_order(list(REGISTRY))}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
