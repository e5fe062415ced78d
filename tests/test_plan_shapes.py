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

``plan_lint`` reads the same tree string for four shapes that do not
scale: a cartesian product, a broadcast nested-loop join outside the
ANN queries, a SinglePartition exchange, and an unpartitioned window.
``tests/test_oracle.py`` runs it on every registered query's frame.

The package hints a broadcast by hand only where the hinted side has a
constant bound (key cardinality, k centroids, a LIMIT, one row) that
Catalyst's estimate does not see, or where the hint picks the build
side. A side that grows with the data carries no hint and follows
``spark.sql.autoBroadcastJoinThreshold``; the threshold tests below
pin both plans of such joins.
"""

from __future__ import annotations

import re
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

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


def plan_string(df) -> str:
    """``df``'s initial physical plan as a tree string."""
    return df._jdf.queryExecution().executedPlan().toString()


def op_counts(df) -> dict[str, int]:
    """Count the OPS operators in ``df``'s initial physical plan."""
    plan = plan_string(df)
    names = [m.group(1) for line in plan.splitlines() if (m := _NODE.match(line))]
    return {op: names.count(op) for op in OPS}


@pytest.mark.parametrize("name", sorted(PINNED))
def test_plan_shape_pinned(spark, name):
    got = op_counts(load_all()[name].fn(spark, SF_DIR))
    assert got == dict(zip(OPS, PINNED[name])), f"{name}: plan operator counts moved"


# a broadcast nested-loop join is the intended shape here: a
# constant-size probe set broadcast against one linear corpus scan
# (ann_recall_selfcheck composes the other four)
ANN_BNLJ = frozenset(
    {
        "ann_cosine_topk",
        "ann_ivf_nprobe2",
        "ann_ivf_probe",
        "ann_recall_selfcheck",
        "knn_label_disagreement",
    }
)

# tree-string line -> (indent, node text without a codegen id)
_LINE = re.compile(r"^([\s:+\-|]*)(?:\*\(\d+\)\s+)?(.*)$")
_KEYLESS_AGG = re.compile(r"\w*Aggregate\(keys=\[\]")
_ORDER_KEY = re.compile(r"(ASC|DESC) NULLS (FIRST|LAST)$")


def _first_arg(s: str) -> str:
    """The text of ``s`` up to its first top-level comma or its closing
    parenthesis."""
    depth = 0
    for i, ch in enumerate(s):
        if ch in ",)" and depth == 0:
            return s[:i]
        depth += {"(": 1, ")": -1}.get(ch, 0)
    return s


def _unpartitioned_window(op: str) -> bool:
    """A Window node whose spec has no partition key: the spec opens with
    an order key or the frame instead."""
    if not op.startswith("Window ") or "windowspecdefinition(" not in op:
        return False
    first = _first_arg(op.split("windowspecdefinition(", 1)[1]).strip()
    return first.startswith("specifiedwindowframe") or bool(_ORDER_KEY.search(first))


def _children(nodes: list[tuple[int, str]], i: int) -> list[int]:
    kids = []
    for j in range(i + 1, len(nodes)):
        if nodes[j][0] <= nodes[i][0]:
            break
        if nodes[j][0] == nodes[i + 1][0]:
            kids.append(j)
    return kids


def _over_topk(nodes: list[tuple[int, str]], i: int) -> bool:
    """The rows reaching node ``i`` come from a TakeOrderedAndProject
    with no exchange in between (a join's broadcast side is skipped)."""
    while True:
        op = nodes[i][1]
        if op.startswith("TakeOrderedAndProject"):
            return True
        kids = [j for j in _children(nodes, i) if not nodes[j][1].startswith("BroadcastExchange")]
        if op.startswith("Exchange") or not kids:
            return False
        i = kids[0]


def plan_lint(name: str, plan: str) -> list[str]:
    """Shapes in query ``name``'s tree-string ``plan`` that do not scale.

    Two bounded forms pass: a SinglePartition exchange directly under a
    keyless (global) aggregate, which moves one partial row per task,
    and an unpartitioned window over a TakeOrderedAndProject, which sees
    at most the LIMIT's rows."""
    nodes = [(len(m.group(1)), m.group(2)) for m in map(_LINE.match, plan.splitlines())]
    hits = []
    for i, (depth, op) in enumerate(nodes):
        if op.startswith("CartesianProduct"):
            hits.append("cartesian product")
        elif op.startswith("BroadcastNestedLoopJoin") and name not in ANN_BNLJ:
            hits.append("broadcast nested-loop join")
        elif op.startswith("Exchange SinglePartition"):
            parent = next((o for d, o in reversed(nodes[:i]) if d < depth), "")
            if not _KEYLESS_AGG.match(parent):
                hits.append(f"SinglePartition exchange under {parent.split(' ', 1)[0]}")
        elif _unpartitioned_window(op) and not _over_topk(nodes, i):
            hits.append("unpartitioned window")
    return hits


def test_plan_lint_fires_on_each_known_bad_shape(spark):
    """Each check fires on a frame built to have its shape, and the two
    bounded forms and the ANN allowlist pass."""
    r = spark.range(100).withColumn("g", F.col("id") % 3)
    big = spark.range(10**12)  # too large to broadcast: a CartesianProduct
    by_id = Window.orderBy("id")
    bad = {
        "cartesian product": big.crossJoin(big.select(F.col("id").alias("x"))),
        "broadcast nested-loop join": r.join(
            F.broadcast(r.select(F.col("id").alias("x"))), F.col("id") < F.col("x")
        ),
        "SinglePartition exchange under AdaptiveSparkPlan": r.repartition(1),
        # coalesce(1) gathers without an exchange, so only the window check fires
        "unpartitioned window": r.coalesce(1).withColumn("rn", F.row_number().over(by_id)),
    }
    for hit, df in bad.items():
        assert plan_lint("q", plan_string(df)) == [hit], hit
    assert "unpartitioned window" in plan_lint(
        "q", plan_string(r.withColumn("rn", F.row_number().over(by_id)))
    )
    top = r.orderBy(F.col("id").desc()).limit(5)
    fine = [
        r.agg(F.sum("id")),
        top.withColumn("rn", F.row_number().over(Window.orderBy(F.col("id").desc()))),
        r.withColumn("rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))),
    ]
    for df in fine:
        assert plan_lint("q", plan_string(df)) == []
    bnlj = plan_string(bad["broadcast nested-loop join"])
    assert plan_lint("ann_cosine_topk", bnlj) == []


@contextmanager
def broadcast_threshold(spark, value: str):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _joins_on(plan: str, left: str, right: str) -> Counter:
    """Hash and sort-merge joins in ``plan`` keyed ``[left], [right]``."""
    key = re.compile(rf"(BroadcastHashJoin|SortMergeJoin) \[{left}#\d+L?\], \[{right}#\d+L?\]")
    return Counter(m.group(1) for m in key.finditer(plan))


@pytest.mark.parametrize(
    "threshold, joins",
    [
        ("10KB", {"SortMergeJoin": 6}),
        ("64MB", {"BroadcastHashJoin": 3, "SortMergeJoin": 3}),
    ],
)
def test_pagerank_node_broadcast_follows_threshold(spark, threshold, joins):
    """``copurchase_pagerank`` broadcasts its node table into each of the
    three iterations' edge join on ``src`` only while the counted table
    (~2,000 nodes × 24 B ≈ 48 KB at sf0.01) fits the threshold; below it
    the edge join is a shuffle join. The other three joins on ``src``
    (ranks ⋈ degrees) are sort-merge joins either way."""
    with broadcast_threshold(spark, threshold):
        plan = plan_string(load_all()["copurchase_pagerank"].fn(spark, SF_DIR))
    assert _joins_on(plan, "src", "src") == joins


@pytest.mark.parametrize(
    "threshold, join", [("10KB", "SortMergeJoin"), ("64MB", "BroadcastHashJoin")]
)
def test_mom_revenue_growth_customer_join_follows_threshold(spark, threshold, join):
    """Customer grows with the data, so ``mom_revenue_growth`` does not
    force its broadcast: with the threshold below the customer side's
    estimate (~17.9 KB at sf0.01) the join plans as a sort-merge join."""
    with broadcast_threshold(spark, threshold):
        plan = plan_string(load_all()["mom_revenue_growth"].fn(spark, SF_DIR))
    assert _joins_on(plan, "o_custkey", "c_custkey") == {join: 1}


def test_attach_pairs_every_row_on_a_hash_join(spark):
    """``attach`` keeps every probe row whatever its first column holds
    (NULL, NaN, negative, zero, '' or []), returns n×m rows for a small
    frame of m rows, and plans one BroadcastHashJoin, never a nested
    loop. ``one`` as a window partition key plans a hash exchange, not
    the SinglePartition exchange that ``plan_lint`` flags."""
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
    plan = plan_string(ranked)
    assert "Exchange hashpartitioning" in plan
    assert "SinglePartition" not in plan
