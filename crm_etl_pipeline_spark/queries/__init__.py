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
    # --- (a) Spark code changed by the shared scalar attach (attach.py) ---
    "funnel_conversion",
    "rfm_segmentation",
    "copurchase_lift_topk",
    "copurchase_pagerank",
    "decile_gains_table",
    "histogram_order_values",
    "weighted_sample_allocation",
    "dq_audit_orders",
    "global_rank_two_phase",
    "histogram_equi_depth",
    "pps_systematic_sample",
    "chi_square_segment_nation",
    "benford_price_audit",
    "abc_pareto_classification",
    "credential_rotation_schedule",
    "zorder_range_scan",
    "zorder_incremental_compact",
    "streaming_zorder_ingest",
    "embedding_kmeans",
    "kmeans_cluster_purity",
    "semantic_dedup",
    "ann_ivf_incremental_index",
    "tfidf_top_terms",
    "token_rarity_score",
    "bm25_topk_search",
    "hybrid_rank_fusion",
    "rerank_fused_topk",
    "chunk_bm25_retrieval",
    "chunk_hybrid_retrieval",
    "boilerplate_line_removal",
    "language_temperature_sample",
    "bpe_merge_training",
    "bpe_encode",
    "bpe_subword_vocab",
    "pack_bpe_sequences",
    "bigram_lm_quality_filter",
    "dsir_importance_resample",
    # --- (b) oldest external check first (r12, then r13) ---
    "asof_join_latest_order",
    "ntile_order_value_quartiles",
    "range_join_clicks_before_purchase",
    "running_revenue",
    "sliding_1h_user_value",
    "approx_distinct_selfcheck",
    "attribution_last_touch",
    "bloom_semi_join_prune",
    "catalog_tree",
    "cdc_derive_changes",
    "cohort_retention",
    "countmin_heavy_hitters",
    "dedup_incremental_new_docs",
]
