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
    # --- (a) the 32 named age-5 defers, seated FIRST (the promise) ---
    "array_csv_roundtrip",
    "catalog_fields_tree",
    "composite_key_roundtrip",
    "date_parse_reformat",
    "decile_gains_table",
    "event_type_routing",
    "histogram_order_values",
    "html_strip_normalize",
    "join_full_outer",
    "join_left_missing",
    "kmv_sketch_merge",
    "mom_revenue_growth",
    "money_decimal_cast",
    "orc_source_roundtrip",
    "pearson_correlation_matrix",
    "repeated_span_mining",
    "retry_and_dead_letter",
    "rollup_revenue",
    "value_percentiles",
    "version_counts_per_key",
    "xml_source_roundtrip",
    "typed_field_decode",
    "flagship_segment_revenue",
    "streaming_dim_enrichment",
    "streaming_zorder_ingest",
    "prefix_filter_setsim_join",
    "lsh_bucket_profile",
    "simhash_near_dup",
    "pricing_summary",
    "schema_evolution_read",
    "wap_publish_roundtrip",
    "skew_salted_join",
    # --- (b) round-16 changed-bytes rows ---
    "streaming_scd2_state",
    "streaming_dlq",
    "streaming_requeue",
    "streaming_dlq_replay",
    "hybrid_rank_fusion",
    "rerank_fused_topk",
    "chunk_bm25_retrieval",
    "chunk_hybrid_retrieval",
    "bpe_merge_training",
    "bpe_encode",
    "pack_bpe_sequences",
    "bpe_subword_vocab",
    "triangle_count",
    "copurchase_pagerank",
    # --- (c) four age seats: oldest unchanged rows (last checked r12) ---
    "cube_lineitem_flags",
    "pivot_status_by_priority",
    "having_filter",
    "props_json_extract",
]
