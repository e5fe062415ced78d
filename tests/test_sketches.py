"""Invariant tests for the round-5 sketch/attribution/curation family —
the oracle harness (test_oracle.py) proves cross-engine equality; these
prove the MATHEMATICAL contracts the equality is supposed to carry:
Bloom filters never false-negative, Count-Min never under-estimates,
attribution conserves revenue, boilerplate removal actually removes,
and the watermark audit actually measured loss."""

from __future__ import annotations

from pyspark.sql import functions as F

from crm_etl_pipeline_spark.registry import load_all

REGISTRY = load_all()
SF = "/root/testdata/sf0.01"


def test_bloom_no_false_negatives(spark):
    rows = REGISTRY["bloom_semi_join_prune"].fn(spark, SF).collect()
    assert rows, "audit produced no priorities"
    for r in rows:
        assert r["n_false_neg"] == 0, "Bloom filter produced a false negative"
        assert r["n_bloom_pass"] >= r["n_true_match"]
        assert r["n_false_pos"] == r["n_bloom_pass"] - r["n_true_match"]


def test_countmin_one_sided_error(spark):
    rows = REGISTRY["countmin_heavy_hitters"].fn(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["one_sided_ok"] is True
        assert r["cms_estimate"] >= r["n_exact"]
        assert r["overestimate"] >= 0


def test_attribution_conserves_revenue(spark):
    """Every purchase is attributed exactly once (to a channel or to
    'direct'), so channel revenue must sum to total purchase revenue
    exactly — both sides accumulated in DECIMAL."""
    att = REGISTRY["attribution_last_touch"].fn(spark, SF)
    total_att = att.agg(
        F.sum(F.col("attributed_revenue").cast("decimal(18,2)")).alias("s"),
        F.sum("n_purchases").alias("n"),
    ).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    truth = ev.agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert total_att["n"] == truth["n"]
    assert total_att["s"] == truth["s"]


def test_chi_square_marginals(spark):
    """Observed cell counts must re-sum to the row totals (exact
    integers), and every expected count must be positive."""
    cells = REGISTRY["chi_square_segment_nation"].fn(spark, SF)
    per_nation = (
        cells.groupBy("c_nationkey").agg(F.sum("observed").alias("s")).collect()
    )
    truth = {
        r["c_nationkey"]: r["n"]
        for r in spark.read.parquet(f"{SF}/customer.parquet")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r["c_nationkey"]: r["s"] for r in per_nation} == truth
    assert cells.filter(F.col("expected") <= 0).count() == 0


def test_boilerplate_actually_removed(spark):
    from crm_etl_pipeline_spark.queries.llmops import _BOILER

    out = REGISTRY["boilerplate_line_removal"].fn(spark, SF)
    polluted = out.filter(
        F.col("clean_text").contains(_BOILER[0])
        | F.col("clean_text").contains(_BOILER[1])
        | F.col("clean_text").contains(_BOILER[2])
    )
    assert polluted.count() == 0
    # fabrication touched a nontrivial share, and untouched docs pass through
    touched = out.filter(F.col("n_lines_before") != F.col("n_lines_after"))
    n_total = out.count()
    assert 0 < touched.count() < n_total
    assert out.filter(F.col("n_lines_after") == 0).count() == 0


def test_late_audit_measured_real_loss(spark):
    rows = REGISTRY["streaming_late_data_audit"].fn(spark, SF).collect()
    assert rows, "no finalized windows"
    assert all(0 <= r["n_late_dropped"] <= r["n_batch"] for r in rows)
    assert all(r["n_stream"] + r["n_late_dropped"] == r["n_batch"] for r in rows)
    # the three-wave replay must actually lose rows, or the audit is vacuous
    assert sum(r["n_late_dropped"] for r in rows) > 0


def test_shipping_audit_flags_violations(spark):
    rows = REGISTRY["shipping_delay_audit"].fn(spark, SF).collect()
    assert sum(r["n_shipped_before_order"] for r in rows) > 0
    for r in rows:
        assert 0.0 <= r["pct_within_30d"] <= 1.0


def test_mom_growth_first_month_null(spark):
    df = REGISTRY["mom_revenue_growth"].fn(spark, SF)
    firsts = (
        df.groupBy("c_mktsegment")
        .agg(F.min("month").alias("m0"))
        .collect()
    )
    first_rows = df.join(
        spark.createDataFrame([(r["c_mktsegment"], r["m0"]) for r in firsts],
                              ["c_mktsegment", "month"]),
        ["c_mktsegment", "month"],
    ).collect()
    assert first_rows and all(
        r["prev_revenue"] is None and r["mom_growth"] is None for r in first_rows
    )


def test_late_audit_idempotent_within_session(spark):
    """A second invocation in the same process gets the same pid-scoped
    workdir path, which ``_workdir`` empties on every call, so arrival
    files and checkpoint are rebuilt from scratch: the converged sink
    must be identical across the two runs."""
    q = REGISTRY["streaming_late_data_audit"].fn
    a = sorted(tuple(r) for r in q(spark, SF).collect())
    b = sorted(tuple(r) for r in q(spark, SF).collect())
    assert a == b


def test_gk_selfcheck_survives_nulls(spark, tmp_path):
    """NULL symmetry of the GK self-check (approx_value_percentiles):
    percentile_approx ranks only non-null values and a NULL event_type
    group would survive a bare GROUP BY but drop from the sketch
    equi-join — so the query filters BOTH engines identically. Plant
    NULL values and NULL event_types into the fixture and the all-TRUE
    contract (and the cross-engine group/count agreement) must hold."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    fixture = pq.read_table(f"{SF}/events.parquet")
    out = str(tmp_path / "nullbearing")
    os.makedirs(out, exist_ok=True)
    ts = fixture.column("ts")[:1].cast(fixture.schema.field("ts").type)
    planted = pa.table(
        {
            "event_id": pa.array([20_000_000, 20_000_001, 20_000_002], pa.int64()),
            "ts": pa.concat_arrays([ts.combine_chunks()] * 3),
            "user_id": pa.array([1, 2, 3], pa.int64()),
            # a NULL-value row in a real group, a NULL-type row with a
            # real value, and a row that is NULL in both
            "event_type": pa.array(["purchase", None, None]),
            "value": pa.array([None, 123.45, None], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(
        pa.concat_tables([fixture, planted.select(fixture.column_names)]),
        f"{out}/events.parquet",
    )
    rows = REGISTRY["approx_value_percentiles"].fn(spark, out).collect()
    assert rows and all(r.p50_ok and r.p90_ok and r.p99_ok for r in rows)
    assert all(r.event_type is not None for r in rows)
    # cross-engine: same groups, same non-null counts on the SAME file
    # (fresh connection — the session `duck` fixture's views must not
    # be rebound mid-suite)
    import duckdb

    con = duckdb.connect()
    oracle = dict(
        con.execute(
            f"SELECT event_type, COUNT(*) FROM read_parquet('{out}/events.parquet') "
            "WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1"
        ).fetchall()
    )
    con.close()
    assert {r.event_type: r.n for r in rows} == oracle
