"""Query modules — importing this package fills registry.REGISTRY."""

from crm_etl_pipeline_spark.queries import (  # noqa: F401
    aggregates,
    bucketing_q,
    catalog_q,
    crm_q,
    decode_q,
    embeddings_q,
    events_q,
    gateway_q,
    joins,
    layout_q,
    llmops,
    multimodal_q,
    relational,
    scd_q,
    sketch_filters_q,
    sources_q,
    stats_q,
    streaming_q,
    transforms,
    windows,
)

# Queries the external correctness check (the __spark_entry__ consumer)
# verifies FIRST: it checks a bounded prefix of the registry, and
# registry.load_all moves these names to its front; the rest follow in
# module order. Rotation policy, applied when the list is refreshed:
# seat the queries whose code changed first, then fill the remaining
# seats with the rows whose last external check is oldest. At most 50
# names, so the list fits that 50-query prefix;
# test_driver_priority_window enforces the fit.
DRIVER_PRIORITY: list[str] = [
    # --- (a) Spark code changed by the shared similarity-search kernels ---
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "ann_ivf_nprobe2",
    "ann_ivf_probe",
    "ann_ivf_persisted_index",
    "ann_ivf_incremental_index",
    "knn_label_disagreement",
    "embedding_kmeans",
    "kmeans_cluster_purity",
    "semantic_dedup",
    "ann_pq_adc",
    "embedding_near_dup",
    "ann_recall_selfcheck",
    "bm25_topk_search",
    "hybrid_rank_fusion",
    "rerank_fused_topk",
    "chunk_bm25_retrieval",
    "chunk_hybrid_retrieval",
    # --- (b) oldest external check first (all last checked in r12) ---
    "kmv_distinct_sketch",
    "approx_value_percentiles",
    "grouping_sets_region_segment",
    "bucketed_join_colocated",
    "catalog_recursive_paths",
    "ab_test_conversion",
    "session_window_builtin",
    "variant_props_shred",
    "credential_rotation_schedule",
    "zorder_range_scan",
    "partition_evolution_regrain",
    "doc_quality_score",
    "doc_fingerprint",
    "train_split_stratified",
    "contamination_ngram_overlap",
    "vocab_top_tokens",
    "doc_repetition_ratio",
    "tfidf_top_terms",
    "point_lookup",
    "filtered_scan",
    "topk_orders_by_revenue",
    "exists_returned_lineitems",
    "correlated_min_cost_supplier",
    "disjunctive_filter_scan",
    "csv_source_roundtrip",
    "dq_audit_orders",
    "global_rank_two_phase",
    "streaming_tumbling_counts",
    "streaming_stateful_sessions",
    "safe_numeric_cast",
    "system_column_enrichment",
    "latest_order_per_customer",
]
