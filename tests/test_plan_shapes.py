"""Plan-shape pins: operator counts of each query's initial physical plan.

A refactor that keeps a query's result can still change how Spark runs
it — an extra shuffle, a lost broadcast, a sort-merge join where a hash
join was. These pins catch that. For each query below the test builds
the DataFrame at sf0.01 and counts operators in the initial physical
plan (``df._jdf.queryExecution().executedPlan()``; with AQE on this is
the plan before any stage runs, so it does not depend on runtime
statistics).

The pinned queries are the similarity-search and retrieval queries
built on the shared kernels of ``embeddings_q``/``llmops``, the queries
that attach a small aggregate through ``attach``, and the bench-tier
queries. A count that moves is a plan change: confirm it is
intended and measured before re-recording it.
"""

from __future__ import annotations

import re

import pytest

from crm_etl_pipeline_spark.registry import load_all

from tests.conftest import SF_DIR

OPS = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "ShuffledHashJoin",
    "Window",
    "Sort",
)

# one node per tree-string line: strip the tree glyphs and an optional
# whole-stage-codegen id, then take the operator name
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?([A-Za-z]+)")

# name -> counts in OPS order
PINNED = {
    "abc_pareto_classification":   ( 9,  3,  0,  3,  0,  0,  2,  2),
    "ann_cosine_topk":             ( 1,  1,  0,  0,  1,  0,  1,  2),
    "ann_ivf_incremental_index":   ( 1,  1,  0,  1,  0,  0,  1,  2),
    "ann_ivf_nprobe2":             ( 9,  4,  1,  2,  2,  0,  3,  8),
    "ann_ivf_persisted_index":     ( 1,  1,  0,  1,  0,  0,  1,  2),
    "ann_ivf_probe":               ( 9,  4,  1,  2,  2,  0,  3,  8),
    "ann_lsh_bucketed":            ( 1,  1,  0,  1,  0,  0,  1,  2),
    "ann_pq_adc":                  (15,  7,  0,  7,  0,  0,  6, 25),
    "ann_recall_selfcheck":        (27, 11,  6,  4,  7,  0,  9, 29),
    "asof_join_latest_order":      ( 2,  0,  0,  0,  0,  0,  1,  1),
    "audio_energy_windows":        ( 2,  0,  0,  0,  0,  0,  0,  0),
    "benford_price_audit":         ( 2,  1,  0,  1,  0,  0,  0,  0),
    "bigram_lm_quality_filter":    (11,  7,  0,  7,  0,  0,  0,  0),
    "bm25_topk_search":            ( 5,  2,  0,  2,  0,  0,  0,  0),
    "boilerplate_line_removal":    ( 7,  4,  0,  4,  0,  0,  5, 10),
    "bpe_encode":                  ( 2,  4,  0,  4,  0,  0,  0,  0),
    "bpe_merge_training":          ( 6,  9,  0,  9,  0,  0,  0,  0),
    "bpe_subword_vocab":           ( 2,  3,  0,  3,  0,  0,  0,  0),
    "chi_square_segment_nation":   ( 4,  3,  0,  3,  0,  0,  0,  0),
    "chunk_bm25_retrieval":        ( 5,  2,  0,  2,  0,  0,  0,  0),
    "chunk_hybrid_retrieval":      ( 8,  3,  1,  3,  0,  0,  2,  2),
    "copurchase_lift_topk":        ( 9,  4,  0,  4,  0,  0,  0,  0),
    "copurchase_pagerank":         (15,  7,  3,  7,  0,  0,  0,  6),
    "credential_rotation_schedule": ( 4,  1,  0,  1,  0,  0,  2,  2),
    "curation_pipeline":           ( 2,  1,  0,  1,  0,  0,  0,  0),
    "decile_gains_table":          (11,  5,  0,  5,  0,  0,  0,  0),
    "dedup_cluster_keep_best":     ( 3,  1,  0,  1,  0,  0,  4,  5),
    "dedup_components":            ( 0,  0,  0,  0,  0,  0,  0,  0),
    "dq_audit_orders":             ( 7,  2,  0,  2,  0,  0,  0,  0),
    "dsir_importance_resample":    ( 4,  2,  0,  2,  0,  0,  2,  2),
    "embedding_kmeans":            ( 6,  3,  0,  3,  0,  0,  3, 10),
    "embedding_near_dup":          ( 3,  0,  0,  0,  0,  0,  2,  1),
    "event_dedup_last_write_wins": ( 1,  0,  0,  0,  0,  0,  1,  2),
    "exact_dedup_documents":       ( 1,  0,  0,  0,  0,  0,  0,  0),
    "filtered_scan":               ( 0,  0,  0,  0,  0,  0,  0,  0),
    "flagship_segment_revenue":    ( 3,  2,  0,  2,  0,  0,  0,  2),
    "funnel_conversion":           (13,  7,  0,  7,  0,  0,  0,  0),
    "global_rank_two_phase":       ( 5,  3,  0,  3,  0,  0,  2,  2),
    "histogram_equi_depth":        ( 2,  1,  0,  1,  0,  0,  0,  0),
    "histogram_order_values":      ( 2,  1,  0,  1,  0,  0,  0,  0),
    "hybrid_rank_fusion":          ( 6,  3,  1,  3,  0,  0,  2,  2),
    "kmeans_cluster_purity":       (16,  8,  1,  8,  0,  0,  7, 23),
    "knn_label_disagreement":      ( 1,  1,  0,  0,  1,  0,  1,  2),
    "language_temperature_sample": ( 4,  2,  0,  2,  0,  0,  1,  1),
    "latest_order_per_customer":   ( 1,  1,  0,  1,  0,  0,  1,  2),
    "minhash_near_dup":            ( 5,  0,  0,  0,  0,  0,  4,  6),
    "multimodal_mp4_seek_plan":    ( 1,  0,  0,  0,  0,  0,  0,  0),
    "ngram_jaccard_verify":        ( 0,  1,  0,  1,  0,  0,  0,  0),
    "pack_bpe_sequences":          ( 3,  4,  0,  4,  0,  0,  2,  3),
    "partition_evolution_regrain": ( 0,  0,  0,  0,  0,  0,  0,  0),
    "pps_systematic_sample":       ( 4,  2,  0,  2,  0,  0,  2,  2),
    "prefix_filter_setsim_join":   ( 1,  3,  0,  3,  0,  0,  0,  0),
    "pricing_summary":             ( 1,  0,  0,  0,  0,  0,  0,  0),
    "rate_limit_admission":        ( 2,  0,  0,  0,  0,  0,  2,  2),
    "rerank_fused_topk":           ( 0, 13,  8, 13,  0,  0, 17, 18),
    "rfm_segmentation":            ( 3,  2,  0,  2,  0,  0,  3,  3),
    "scd2_compact_small_files":    ( 0,  0,  0,  0,  0,  0,  0,  0),
    "scd2_expire_versions":        ( 2,  0,  0,  0,  0,  0,  3,  3),
    "scd2_versioned_store":        ( 2,  0,  0,  0,  0,  0,  2,  2),
    "schema_evolution_read":       ( 0,  0,  0,  0,  0,  0,  0,  0),
    "semantic_dedup":              ( 5,  1,  1,  1,  0,  0,  2,  7),
    "sessionization":              ( 1,  0,  0,  0,  0,  0,  2,  1),
    "skew_salted_join":            ( 4,  0,  1,  0,  0,  0,  0,  4),
    "streaming_incremental_dedup": ( 0,  0,  0,  0,  0,  0,  0,  0),
    "tfidf_top_terms":             ( 5,  2,  0,  2,  0,  0,  1,  2),
    "token_rarity_score":          ( 7,  2,  0,  2,  0,  0,  0,  0),
    "topk_orders_by_revenue":      ( 1,  2,  0,  2,  0,  0,  0,  0),
    "triangle_count":              (45, 11,  4, 11,  0,  2,  0,  8),
    "typed_field_decode":          ( 1,  1,  0,  1,  0,  0,  1,  2),
    "variant_props_shred":         ( 2,  0,  0,  0,  0,  0,  0,  0),
    "weighted_sample_allocation":  ( 4,  4,  0,  4,  0,  0,  1,  1),
    "zorder_incremental_compact":  ( 0,  0,  0,  0,  0,  0,  0,  0),
    "zorder_range_scan":           ( 0,  0,  0,  0,  0,  0,  0,  0),
}  # fmt: skip


def op_counts(df) -> dict[str, int]:
    """Count the OPS operators in ``df``'s initial physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    names = [m.group(1) for line in plan.splitlines() if (m := _NODE.match(line))]
    return {op: names.count(op) for op in OPS}


@pytest.mark.parametrize("name", sorted(PINNED))
def test_plan_shape_pinned(spark, name):
    got = op_counts(load_all()[name].fn(spark, SF_DIR))
    assert got == dict(zip(OPS, PINNED[name])), f"{name}: plan operator counts moved"


def test_attach_pairs_every_row_on_a_hash_join(spark):
    """``attach`` keeps every probe row whatever its first column holds
    (NULL, NaN, negative, zero, '' or []), returns n×m rows for a small
    frame of m rows, and plans one BroadcastHashJoin, never a nested
    loop. ``one`` as a window partition key plans a hash exchange, not
    the SinglePartition exchange that tools/plan_audit.py flags."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.attach import attach, one

    probe = spark.createDataFrame(
        [
            (None, None, None, []),
            (float("nan"), -3, "", None),
            (0.0, 0, "a", [1]),
            (-2.5, 7, None, []),
        ],
        "x double, i int, s string, a array<int>",
    )
    for lead in probe.columns:
        p = probe.select(lead, *[c for c in probe.columns if c != lead])
        for m in (0, 1, 3):
            small = spark.range(m).select(F.col("id").alias("v"))
            assert attach(p, small).count() == 4 * m, (lead, m)
        got = op_counts(attach(p, spark.range(3).select(F.col("id").alias("v"))))
        assert (got["BroadcastHashJoin"], got["BroadcastNestedLoopJoin"]) == (1, 0), lead

    w = Window.partitionBy(one("x")).orderBy("i")
    ranked = probe.withColumn("rn", F.row_number().over(w))
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in plan
    assert "SinglePartition" not in plan
