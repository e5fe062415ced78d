"""Invariants for the Spark-4-native surface registered in round 11:
the VARIANT payload shred (events_q.variant_props_shred) and the
recursive-CTE catalog closure (catalog_q.catalog_recursive_paths).
The full value-hash contract is covered by test_oracle; these pin the
semantic claims the docstrings make."""

from __future__ import annotations

from pyspark.sql import functions as F

from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import load_all

SF = "/root/testdata/sf0.01"
REGISTRY = load_all()


def test_variant_quarantines_exactly_the_planted_malformed_rows(spark):
    """try_parse_json NULLs exactly the event_id % 97 == 0 envelopes —
    no silent drops, no spurious quarantine of well-formed payloads."""
    res = REGISTRY["variant_props_shred"].fn(spark, SF)
    agg = res.agg(
        F.sum("n_events").alias("n"),
        F.sum("n_malformed").alias("bad"),
        F.sum("n_absent").alias("absent"),
    ).first()
    events = table(spark, SF, "events")
    assert agg["n"] == events.count()
    assert agg["bad"] == events.filter(F.col("event_id") % 97 == 0).count()
    # try_variant_get on a path no row carries: NULL everywhere, never an error
    assert agg["absent"] == 0


def test_variant_schema_inference_is_stable(spark):
    """schema_of_variant over the query's own envelope reports the one
    constant schema on every well-formed fixture row (fields sorted by
    name), proving schema-on-read needs no declared schema to stay
    deterministic. Pinned here, NOT in the oracle: under degenerate
    payloads the inferred schema is data-dependent by design."""
    from crm_etl_pipeline_spark.queries.events_q import _props_envelope

    schemas = (
        table(spark, SF, "events")
        .select(F.schema_of_variant(F.try_parse_json(_props_envelope())).alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
        .collect()
    )
    assert {r["s"] for r in schemas} == {
        "OBJECT<payload: OBJECT<k: BIGINT>, rank: BIGINT, tags: ARRAY<STRING>>"
    }


def test_recursive_closure_depth_histogram_matches_tree_shape(spark):
    """The walk visits every node exactly once at its tree depth:
    1 org, |region| spaces, |nation| apps, |supplier| fields."""
    res = REGISTRY["catalog_recursive_paths"].fn(spark, SF)
    hist = {r["depth"]: r["n"] for r in res.groupBy("depth").agg(F.count("*").alias("n")).collect()}
    n_region = table(spark, SF, "region").count()
    n_nation = table(spark, SF, "nation").count()
    n_supplier = table(spark, SF, "supplier").count()
    assert hist == {0: 1, 1: n_region, 2: n_nation, 3: n_supplier}
    assert res.count() == res.select("node_id").distinct().count()


def test_recursive_closure_paths_are_parent_prefixed(spark):
    """Every depth-3 path extends an existing depth-2 path — the
    recursion threads ancestry, not just membership."""
    res = REGISTRY["catalog_recursive_paths"].fn(spark, SF).cache()
    try:
        leaves = res.filter(F.col("depth") == 3).select(
            F.regexp_extract("path", r"^(.*)/[^/]*$", 1).alias("parent_path")
        )
        parents = res.filter(F.col("depth") == 2).select(F.col("path").alias("parent_path"))
        missing = leaves.join(parents, "parent_path", "left_anti").count()
        assert missing == 0
        assert res.filter(~F.col("path").startswith("ORG")).count() == 0
    finally:
        res.unpersist()


def test_variant_absent_count_moves_with_planted_key(spark, tmp_path):
    """n_absent must be COMPUTED by the oracle, not
    hardcoded 0. Plant '$.payload.absent' on a known subset of a
    synthetic events table (incl. one JSON-null arrival, which both
    engines count as PRESENT — variant null is a non-NULL variant;
    DuckDB json_type returns the non-NULL string 'NULL') and assert the
    full cross-engine hash contract still holds with n_absent > 0."""
    import datetime

    rows = []
    for i in range(60):
        if i % 5 == 0:
            props = '{"k": 1, "absent": 7}'  # bigint arrival
        elif i % 5 == 1:
            props = '{"k": 1, "absent": null}'  # JSON null arrival: present
        else:
            props = '{"k": 1}'
        rows.append(
            (i, datetime.datetime(2024, 1, 1 + i % 28), i % 7, "typ" + str(i % 3), 1.0, props)
        )
    d = str(tmp_path / "planted")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{d}/events.parquet")

    from tests.conftest import compare_query, duck_views

    q = REGISTRY["variant_props_shred"]
    with duck_views(d) as con:
        compare_query(con, q, q.fn(spark, d))
    n_absent = (
        q.fn(spark, d).agg(F.sum("n_absent").alias("a")).first()["a"]
    )
    # 12 bigint + 12 json-null plants, minus event_id 0: 0 % 97 == 0, so
    # the envelope quarantines that plant as malformed before the shred
    assert n_absent == 23
