"""Targeted semantics for the statistical-profiling pack
(queries/stats_q.py): a planted extreme must dominate the fixture's
natural 3-sigma positives by orders of magnitude, and histogram /
allocation carry structural invariants (exact tiling, quota fill,
budget bound) the oracle equivalence doesn't spell out."""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from crm_etl_pipeline_spark.registry import load_all

from tests.conftest import compare_query, duck_views, write_fixture

SF_DIR = "/root/testdata/sf0.01"
REGISTRY = load_all()


def test_planted_outlier_is_flagged(spark, tmp_path):
    """Copy the events fixture and plant one 1e6-value purchase: it must
    be the only flagged anomaly among purchases, and its z must be
    extreme while the population's other z-scores stay sane."""
    fixture = pq.read_table(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "planted")
    os.makedirs(out, exist_ok=True)
    outlier = pa.table(
        {
            "event_id": pa.array([10_000_000], pa.int64()),
            "ts": fixture.column("ts")[:1].cast(fixture.schema.field("ts").type),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["purchase"]),
            "value": pa.array([1_000_000.0], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(
        pa.concat_tables([fixture, outlier.select(fixture.column_names)]),
        f"{out}/events.parquet",
    )
    rows = REGISTRY["event_value_anomalies"].fn(spark, out).collect()
    planted = [r for r in rows if r.event_id == 10_000_000]
    assert len(planted) == 1 and planted[0].is_anomaly
    # the driver fixture's skewed per-type values yield a handful of
    # natural 3-sigma positives (so the oracle already exercises both
    # flag paths); the planted extreme must dominate them all by far
    # (the extreme also inflates the purchase sigma ~100x, so its own z
    # lands near sqrt(n) ~ 45, not value/sigma_before — still 5x beyond
    # any natural positive)
    natural_max = max(abs(r.zscore) for r in rows if r.event_id != 10_000_000)
    assert natural_max < 10  # heavy-tailed fixture values top out near 9
    assert planted[0].zscore > 30 and planted[0].zscore > 3 * natural_max


def test_histogram_tiles_the_extent(spark):
    rows = sorted(
        REGISTRY["histogram_order_values"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(20))
    # edges tile exactly (identical IEEE arithmetic produces shared edges)
    for a, b in zip(rows, rows[1:]):
        assert a.bucket_hi == b.bucket_lo
    # every order lands in exactly one bucket
    import duckdb

    n = duckdb.sql(f"SELECT COUNT(*) FROM '{SF_DIR}/orders.parquet'").fetchone()[0]
    assert sum(r.n_orders for r in rows) == n


def test_allocation_respects_quotas_and_budget(spark):
    rows = REGISTRY["weighted_sample_allocation"].fn(spark, SF_DIR).collect()
    by_seg: dict[str, list] = {}
    for r in rows:
        by_seg.setdefault(r.c_mktsegment, []).append(r)
    shares = {}
    for seg, rs in by_seg.items():
        n_target = rs[0].n_target
        assert len(rs) == n_target  # quota exactly filled (enough customers)
        assert max(r.samp_rank for r in rs) == n_target
        shares[seg] = rs[0].rev_share
    # shares partition the revenue; ceil can overshoot by < 1 per segment
    assert math.isclose(sum(shares.values()), 1.0, rel_tol=1e-12)
    assert 100 <= len(rows) <= 100 + len(by_seg)


def test_kmeans_inertia_never_increases(spark):
    """Lloyd's invariant: total within-cluster squared distance after
    the assignment of iteration k+1 (against recomputed centroids) is
    <= iteration k's — the convergence guarantee the fixed budget
    relies on. Exercised via the iters parameter the registered query
    pins at 2."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.queries.embeddings_q import embedding_kmeans

    inertia = []
    for it in (1, 2, 3):
        df = embedding_kmeans(spark, SF_DIR, iters=it)
        inertia.append(df.agg(F.sum("dq")).collect()[0][0])
    assert inertia[1] <= inertia[0]
    assert inertia[2] <= inertia[1]


def test_transition_probabilities_partition_each_row(spark):
    """Each from_type's outgoing probabilities must sum to exactly 1
    (they share one exact-integer denominator, so the IEEE sum of the
    5 divisions is within one ulp of 1 — assert tight closeness)."""
    import math

    rows = REGISTRY["event_transition_matrix"].fn(spark, SF_DIR).collect()
    by_from: dict[str, float] = {}
    for r in rows:
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.p
    assert set(by_from) == {"signup", "view", "click", "purchase", "error"}
    for total in by_from.values():
        assert math.isclose(total, 1.0, rel_tol=1e-12)


def test_dq_audit_passes_on_clean_fixture_and_catches_planted_rot(spark, tmp_path):
    """The driver fixture passes all five rules; a planted corrupt load
    (duplicate key, orphan custkey, negative price, out-of-range date,
    bogus status) trips each corresponding rule with exact counts."""
    import duckdb

    rows = {r.rule: r for r in REGISTRY["dq_audit_orders"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {
        "orderkey_unique", "custkey_fk_resolves", "totalprice_positive",
        "orderdate_in_range", "status_in_domain",
    }
    assert all(r.passed and r.n_violations == 0 for r in rows.values())

    out = str(tmp_path / "rot")
    os.makedirs(out, exist_ok=True)
    duckdb.sql(f"""
      COPY (
        SELECT * FROM '{SF_DIR}/orders.parquet'
        UNION ALL SELECT 1, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                         o_orderpriority
          FROM '{SF_DIR}/orders.parquet' WHERE o_orderkey = 1  -- dup key
        UNION ALL VALUES
          (90000001, 99999999, 'O', 100.0, TIMESTAMP '1996-01-01', '1-URGENT'),
          (90000002, 1, 'O', -5.0, TIMESTAMP '1996-01-01', '1-URGENT'),
          (90000003, 1, 'O', 100.0, TIMESTAMP '1975-01-01', '1-URGENT'),
          (90000004, 1, 'X', 100.0, TIMESTAMP '1996-01-01', '1-URGENT')
      ) TO '{out}/orders.parquet' (FORMAT PARQUET)
    """)
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF_DIR}/customer.parquet') TO "
        f"'{out}/customer.parquet' (FORMAT PARQUET)"
    )
    rot = {r.rule: r for r in REGISTRY["dq_audit_orders"].fn(spark, out).collect()}
    assert rot["orderkey_unique"].n_violations == 1
    assert rot["custkey_fk_resolves"].n_violations == 1
    assert rot["totalprice_positive"].n_violations == 1
    assert rot["orderdate_in_range"].n_violations == 1
    assert rot["status_in_domain"].n_violations == 1
    assert not any(r.passed for r in rot.values())


def test_mad_yardstick_resists_the_planted_extreme(spark, tmp_path):
    """The docstring claim, demonstrated: the same planted 1e6 purchase
    that inflates the z-score's sigma ~100x (capping its own z near
    sqrt(n) ~ 45) barely moves the median/MAD, so its robust_z is
    orders of magnitude larger — robust detection keeps its yardstick."""
    fixture = pq.read_table(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "planted")
    os.makedirs(out, exist_ok=True)
    outlier = pa.table(
        {
            "event_id": pa.array([10_000_000], pa.int64()),
            "ts": fixture.column("ts")[:1].cast(fixture.schema.field("ts").type),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["purchase"]),
            "value": pa.array([1_000_000.0], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(
        pa.concat_tables([fixture, outlier.select(fixture.column_names)]),
        f"{out}/events.parquet",
    )
    z = {
        r.event_id: r.zscore
        for r in REGISTRY["event_value_anomalies"].fn(spark, out).collect()
        if r.event_id == 10_000_000
    }
    rz_rows = REGISTRY["robust_outliers_mad"].fn(spark, out).collect()
    rz = {r.event_id: r.robust_z for r in rz_rows if r.event_id == 10_000_000}
    assert rz[10_000_000] > 100 * z[10_000_000] > 0
    # and the robust flag still fires while ordinary purchases stay quiet
    flagged = [r for r in rz_rows if r.is_outlier and r.event_type == "purchase"]
    assert any(r.event_id == 10_000_000 for r in flagged)


class TestPpsSystematicSample:
    def test_hits_sum_to_k_at_both_sfs(self, spark):
        from crm_etl_pipeline_spark.queries.stats_q import _PPS_K, pps_systematic_sample

        for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            df = pps_systematic_sample(spark, sf_dir)
            got = df.agg(F.sum("n_hits")).collect()[0][0]
            assert got == _PPS_K, f"{sf_dir}: hits {got} != {_PPS_K}"

    def test_selection_is_value_biased(self, spark):
        """PPS means heavier orders are likelier: the sampled mean order
        value must exceed the population mean by a clear margin."""
        from crm_etl_pipeline_spark.io import table
        from crm_etl_pipeline_spark.queries.stats_q import pps_systematic_sample

        sf_dir = "/root/testdata/sf0.01"
        sample_mean = (
            pps_systematic_sample(spark, sf_dir).agg(F.avg("w_cents")).collect()[0][0]
        )
        pop_mean = (
            table(spark, sf_dir, "orders")
            .agg(F.avg(F.col("o_totalprice") * 100))
            .collect()[0][0]
        )
        assert sample_mean > pop_mean


def _set(tbl, col, values):
    """``tbl`` with column ``col`` replaced by ``values`` (same type)."""
    return tbl.set_column(
        tbl.column_names.index(col), col, pa.array(values, tbl.schema.field(col).type)
    )


def test_histogram_degenerate_extent_agrees(spark, tmp_path):
    """All-equal order values collapse the extent to width 0: under
    ANSI the unguarded bucket division raised DIVIDE_BY_ZERO in Spark
    while DuckDB's NaN-is-greatest least() silently picked bucket 19 —
    a crash on one engine and a wrong answer on the other. With the
    symmetric divisor guard every row lands in bucket 0 with
    bucket_lo == bucket_hi == the single value, in BOTH engines."""
    orders = pq.read_table(f"{SF_DIR}/orders.parquet")
    flat = _set(orders, "o_totalprice", [42.5] * orders.num_rows)
    out = write_fixture(tmp_path / "flat", orders=flat)
    q = REGISTRY["histogram_order_values"]
    with duck_views(out) as con:
        rows = compare_query(con, q, q.fn(spark, out))
    assert len(rows) == 1
    r = rows[0]
    assert r.bucket == 0 and r.n_orders == orders.num_rows
    assert r.bucket_lo == 42.5 and r.bucket_hi == 42.5


def test_zero_dispersion_zscores_agree(spark, tmp_path):
    """Zero-dispersion guard across the z-score family: with every
    event value identical, sigma / MAD / the pooled A/B variance all
    collapse to 0 — unguarded, ANSI Spark raised DIVIDE_BY_ZERO while
    DuckDB silently emitted NaN z-scores (crash on one engine, wrong
    answer on the other). The contract is z = 0 / flag nothing, and it
    must hold BIT-FOR-BIT in both engines on the same file."""
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    out = write_fixture(tmp_path / "flatev", events=_set(events, "value", [7.5] * events.num_rows))
    with duck_views(out) as con:
        for name in ("event_value_anomalies", "robust_outliers_mad", "ab_test_conversion"):
            q = REGISTRY[name]
            rows = compare_query(con, q, q.fn(spark, out))
            # and the guard's semantics: nothing flagged, zero z everywhere
            if name == "ab_test_conversion":
                assert all(not r.significant for r in rows)
            else:
                zcol = "zscore" if name == "event_value_anomalies" else "robust_z"
                flagcol = "is_anomaly" if name == "event_value_anomalies" else "is_outlier"
                assert all(r[zcol] == 0.0 and not r[flagcol] for r in rows)


def test_ab_empty_arm_reads_null(spark, tmp_path):
    """Empty-arm guard for the A/B readout: with a single user the md5
    hash split leaves one variant unpopulated, so that arm's rate is
    0/0 and the z term's 1/n diverges — unguarded, ANSI Spark raised
    DIVIDE_BY_ZERO while the DuckDB oracle emitted NULL/NaN. The
    contract: the empty arm's rate, the z-score, and the significance
    flag are all NULL, counts are 0, and BOTH engines agree
    bit-for-bit — including on a fully empty events table (one
    all-zero row, NULL readouts)."""
    import pyarrow.compute as pc

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    uid = events.column("user_id")[0].as_py()
    cases = {
        "oneuser": events.filter(pc.equal(events.column("user_id"), uid)),
        "noevents": events.slice(0, 0),
    }
    q = REGISTRY["ab_test_conversion"]
    for label, tbl in cases.items():
        out = write_fixture(tmp_path / label, events=tbl)
        with duck_views(out) as con:
            rows = compare_query(con, q, q.fn(spark, out))
        assert len(rows) == 1
        r = rows[0]
        # at least one arm is empty in both cases
        assert r["n_a"] == 0 or r["n_b"] == 0
        assert r["zscore"] is None and r["significant"] is None
        if r["n_a"] == 0:
            assert r["rate_a"] is None
        if r["n_b"] == 0:
            assert r["rate_b"] is None


def test_constant_dim_embeddings_agree(spark, tmp_path):
    """Zero-range guard for the vector feature pipeline: a constant
    dimension has sd == 0 (standardize) and mx == mn (quantize) —
    unguarded, ANSI Spark raised DIVIDE_BY_ZERO while DuckDB emitted
    NaN. Contract: standardize to z = 0, quantize to midcode 0, and
    both engines must agree bit-for-bit on a planted constant dim
    (plus a planted all-zero vector, which exercises the norm paths of
    the ANN family — those were already guarded)."""
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vecs = emb.column("embedding").to_pylist()
    vecs[0] = [0.0] * len(vecs[0])
    for v in vecs:
        v[3] = 0.25
    out = write_fixture(tmp_path / "constdim", embeddings=_set(emb, "embedding", vecs))
    with duck_views(out) as con:
        for name, col, expect in (
            ("embedding_standardize", "z", 0.0),
            ("embedding_quantize_int8", "q8", 0),
        ):
            q = REGISTRY[name]
            rows = compare_query(con, q, q.fn(spark, out))
            assert all(r[col] == expect for r in rows if r.dim == 3)


def test_zero_mass_sampling_is_empty(spark, tmp_path):
    """Sampling designs over a population whose weights sum to zero:
    the PPS systematic draw and the proportional allocation both define
    the empty sample (every inclusion probability is 0) — previously
    ANSI Spark crashed on the total-weight division while DuckDB
    reached empty through NULL/NaN arithmetic. Both engines must agree
    on the same file."""
    orders = pq.read_table(f"{SF_DIR}/orders.parquet")
    out = write_fixture(
        tmp_path / "zeroorders", orders=_set(orders, "o_totalprice", [0.0] * orders.num_rows)
    )
    with duck_views(out) as con:
        for name in ("pps_systematic_sample", "weighted_sample_allocation"):
            q = REGISTRY[name]
            assert compare_query(con, q, q.fn(spark, out)) == [], f"{name} must sample nothing"


def test_constant_column_correlation_is_null(spark, tmp_path):
    """Zero-variance guard for the correlation matrix: a constant
    column makes its variance term 0 (and double rounding of the exact
    decimal moments can leave it a hair negative) — unguarded, ANSI
    Spark raised DIVIDE_BY_ZERO while DuckDB's sqrt raises outright on
    a negative argument. A 0.0 constant keeps every moment exactly
    zero in doubles, so this pins the NULL branch deterministically
    (a nonzero constant can leave a tiny rounding residual, where the
    contract is just cross-engine bit-equality), bit-for-bit in both
    engines on the same file."""
    lineitem = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    out = write_fixture(
        tmp_path / "flatdisc", lineitem=_set(lineitem, "l_discount", [0.0] * lineitem.num_rows)
    )
    q = REGISTRY["pearson_correlation_matrix"]
    with duck_views(out) as con:
        rows = compare_query(con, q, q.fn(spark, out))
    assert rows, "per-flag output must survive the degenerate column"
    for r in rows:
        assert r.corr_qty_disc is None and r.corr_price_disc is None
        # the untouched pair keeps a real correlation
        assert r.corr_qty_price is not None and abs(r.corr_qty_price) <= 1.0


def test_zero_norm_vector_cosine_is_zero(spark, tmp_path):
    """Zero-norm guard for the cosine family: an all-zero embedding has
    no direction — its dot with anything is 0, so the unguarded ratio
    was 0/0 (ANSI DIVIDE_BY_ZERO in Spark, engine-specific NaN/NULL in
    DuckDB). The contract is cosine = 0.0 (rank-neutral, below every
    similarity threshold), bit-for-bit in both engines."""
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vecs = emb.column("embedding").to_pylist()
    vecs[0] = [0.0] * len(vecs[0])
    out = write_fixture(tmp_path / "zerovec", embeddings=_set(emb, "embedding", vecs))
    with duck_views(out) as con:
        for name in ("ann_cosine_topk", "embedding_near_dup"):
            compare_query(con, REGISTRY[name], REGISTRY[name].fn(spark, out))


def test_zero_revenue_month_growth_is_null(spark, tmp_path):
    """Zero-denominator guard for month-over-month growth: with every
    order price 0.0 each month's revenue is 0, so every growth ratio
    was 0/0 — the contract is NULL (undefined, like the first month),
    identical in both engines."""
    orders = pq.read_table(f"{SF_DIR}/orders.parquet")
    out = write_fixture(
        tmp_path / "zrev", orders=_set(orders, "o_totalprice", [0.0] * orders.num_rows)
    )
    q = REGISTRY["mom_revenue_growth"]
    with duck_views(out) as con:
        rows = compare_query(con, q, q.fn(spark, out))
    assert rows and all(r.mom_growth is None for r in rows)


def test_empty_load_audit_and_cube_agree(spark, tmp_path):
    """Empty-relation contracts (the empty_orders / empty_lineitem sweep
    batches): (a) dq_audit_orders on an empty load emits ALL FIVE rules
    with 0 violations / 0 checked / passed (the fk rule row used to
    vanish — its broadcast attach key read least(0,1)=0 — and the
    conditional SUMs read NULL); (b) the cube of an empty relation is
    the empty relation in BOTH engines (DuckDB alone would emit the
    COUNT-0 grand-total grouping-set row; the symmetric HAVING/filter
    removes it)."""
    out = write_fixture(
        tmp_path / "empty",
        **{t: pq.read_table(f"{SF_DIR}/{t}.parquet").slice(0, 0) for t in ("orders", "lineitem")},
    )
    audit, cube = (REGISTRY[n] for n in ("dq_audit_orders", "cube_lineitem_flags"))
    with duck_views(out) as con:
        rules = compare_query(con, audit, audit.fn(spark, out))
        assert compare_query(con, cube, cube.fn(spark, out)) == []
    assert sorted(r.rule for r in rules) == [
        "custkey_fk_resolves",
        "orderdate_in_range",
        "orderkey_unique",
        "status_in_domain",
        "totalprice_positive",
    ]
    for r in rules:
        assert r.n_violations == 0 and r.n_checked == 0 and r.passed


def _standardize_drops_exactly(spark, out, all_ids, bad_ids):
    """embedding_standardize on ``out`` agrees with its oracle and emits
    every vec_id in ``all_ids`` except ``bad_ids``."""
    q = REGISTRY["embedding_standardize"]
    with duck_views(out) as con:
        out_ids = {r.vec_id for r in compare_query(con, q, q.fn(spark, out))}
    assert out_ids.isdisjoint(bad_ids)  # no corrupt row survives
    assert out_ids == set(all_ids) - bad_ids  # every clean vector does


def test_null_embedding_rows_are_excluded_everywhere(spark, tmp_path):
    """NULL-vector contract (the null_embeddings sweep batch): a row
    with a NULL embedding participates in NO vector operator — it has
    no direction, norm, or cell. Before the contract, five of the
    family's queries diverged cross-engine (NULL-poisoned moments,
    shifted IVF centroids, NULL kmeans seeds). Pin: with 10% NULL
    vectors, standardize emits exactly the non-NULL rows and BOTH
    engines agree bit-for-bit on that moment-sensitive query."""
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vals = [None if i % 10 == 3 else v for i, v in enumerate(emb.column("embedding").to_pylist())]
    out = write_fixture(tmp_path / "nullvec", embeddings=_set(emb, "embedding", vals))
    ids = emb.column("vec_id").to_pylist()
    null_ids = {i for i, v in zip(ids, vals) if v is None}
    _standardize_drops_exactly(spark, out, ids, null_ids)


def test_constant_population_zscore_contract(spark, tmp_path):
    """Zero-dispersion residual contract (the const_vec / const_values
    tie-storm sweep batches): an all-equal population's variance via
    E[x²]−mean² is a tiny double residual of EITHER sign — DuckDB sqrt
    raises on the negative side while Spark sails into NaN, past the
    == 0 guard. Both engines clamp sqrt(greatest(0, var))
    symmetrically, which guarantees cross-engine agreement for either
    residual sign (a +1e-18 residual yields tiny-sd z-scores computed
    by the IDENTICAL IEEE chain in both engines). On these two pinned
    populations the residual is non-positive, so additionally z = 0
    exactly and nothing flags: (a) events with one constant value →
    event_value_anomalies all-zero z; (b) an all-identical embedding
    corpus → embedding_standardize all-zero z; both must also
    hash-match their oracles on the mutated fixture."""
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    first = next(e for e in emb.column("embedding").to_pylist() if e is not None)
    out = write_fixture(
        tmp_path / "const",
        events=_set(events, "value", [42.5] * events.num_rows),
        embeddings=_set(emb, "embedding", [first] * emb.num_rows),
    )
    anomalies, standardize = (
        REGISTRY[n] for n in ("event_value_anomalies", "embedding_standardize")
    )
    with duck_views(out) as con:
        zrows = compare_query(con, anomalies, anomalies.fn(spark, out))
        srows = compare_query(con, standardize, standardize.fn(spark, out))
    assert zrows and all(r.zscore == 0.0 and not r.is_anomaly for r in zrows)
    assert srows and all(r.z == 0.0 for r in srows)


def test_nonfinite_embedding_rows_are_excluded_everywhere(spark, tmp_path):
    """Non-finite-component contract (the nan_inf_embeddings sweep
    batch), the corruption twin of the NULL-vector contract: without
    it, ONE NaN or Inf component kills every embedding query in BOTH
    engines (the fixed-point dot's NaN -> long cast is an ANSI
    ARITHMETIC_OVERFLOW in Spark and a ConversionException in DuckDB —
    the task fails, not the row). Pin: with NaN and Inf components
    injected, standardize emits exactly the finite rows and both
    engines agree bit-for-bit on the moment-sensitive query — one
    corrupt row is one excluded row, never the task."""
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vals = emb.column("embedding").to_pylist()
    corrupt_pos = set()
    for i in range(0, len(vals), 17):
        vals[i] = [float("nan")] + list(vals[i][1:])
        corrupt_pos.add(i)
    for i in range(0, len(vals), 23):
        if i not in corrupt_pos:
            vals[i] = list(vals[i][:-1]) + [float("inf")]
            corrupt_pos.add(i)
    out = write_fixture(tmp_path / "nanvec", embeddings=_set(emb, "embedding", vals))
    ids = emb.column("vec_id").to_pylist()
    _standardize_drops_exactly(spark, out, ids, {ids[i] for i in corrupt_pos})


def test_null_component_embedding_rows_are_excluded_everywhere(spark, tmp_path):
    """NULL-component contract, the third leg of the corrupt-vector
    family: a [1.0, NULL, 2.0] row used to SPLIT the engines — Spark's
    three-valued ~exists(...) dropped it (lambda over the NULL element
    yields NULL, exists yields NULL, the filter drops) while DuckDB's
    NOT list_bool_or(...) ignores NULL lambda results and kept it,
    feeding NULL into the fixed-point dot. Pin: with NULL components
    injected, both engines exclude exactly the corrupt rows and agree
    bit-for-bit on the moment-sensitive query."""
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vals = emb.column("embedding").to_pylist()
    corrupt_pos = set()
    for i in range(0, len(vals), 19):
        if vals[i] is not None and len(vals[i]) >= 3:
            vals[i] = [vals[i][0], None, *vals[i][2:]]
            corrupt_pos.add(i)
    assert corrupt_pos  # the probe must actually inject something
    out = write_fixture(tmp_path / "nullcomp", embeddings=_set(emb, "embedding", vals))
    ids = emb.column("vec_id").to_pylist()
    _standardize_drops_exactly(spark, out, ids, {ids[i] for i in corrupt_pos})


def test_extreme_magnitude_contract(spark, tmp_path):
    """Extreme-magnitude contract (the extreme_values sweep batch),
    three classes pinned on a fixture with ±8.8e13 values and one row
    at 9.9e15 (just under the DECIMAL(18,2) per-row ceiling):

    1. DuckDB's DECIMAL(18)x(18) multiply runs an int64 fast path that
       overflows on extreme squares — the moments oracles widen one
       factor to DECIMAL(19,2), forcing int128 (Spark's (37,4) result
       was already exact).
    2. DuckDB's DECIMAL -> DOUBLE cast converts the scaled integer to
       double THEN divides by 10^s — double rounding, one ulp off past
       2^53 scaled units, where Spark's BigDecimal cast is correctly
       rounded. Oracles route the edge cast through VARCHAR (string
       parse is correctly rounded in both engines).
    3. CAST(FLOOR(garbage) AS INT) overflows in both engines, and
       materializing FLOOR(v) as an integer at all makes Spark's
       floor(double)->LONG raise ANSI overflow beyond ~9.2e18 while
       DuckDB's all-double path succeeds. The backoff attempts ladder
       is all-double on BOTH sides (FLOOR(fmod(ABS(v), 12))), pinned
       below on a separate backoff-only fixture at 9.5e18 (the decimal
       moments queries have a documented 1e16 per-row contract ceiling,
       so the beyond-int64 magnitude only applies to the ladder) plus a
       fractional negative exercising the floor/mod order.

    All three are no-ops at clean-fixture magnitudes. Pin: both engines
    agree bit-for-bit on the mutated fixture for a moments query, a
    decimal-sum query, and the backoff ladder."""
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    vals = events.column("value").to_pylist()
    for i in range(0, len(vals), 13):
        vals[i] = 8.8e13 if (i // 13) % 2 == 0 else -8.8e13
    vals[3] = 9.9e15
    ev = _set(events, "value", vals)
    out = write_fixture(tmp_path / "extreme", events=ev)
    with duck_views(out) as con:
        for name in ("event_value_anomalies", "salted_user_event_totals",
                     "backoff_penalty_audit"):
            compare_query(con, REGISTRY[name], REGISTRY[name].fn(spark, out))

    # backoff-only follow-up: |v| beyond int64 (9.5e18 > 2^63) and a
    # fractional negative — the shapes the all-double ladder fixed
    vals[7] = 9.5e18
    vals[11] = -7.5
    # the ladder only sees event_type='error' rows — force the filter
    etypes = ev.column("event_type").to_pylist()
    etypes[7] = etypes[11] = "error"
    ev2 = _set(_set(ev, "value", vals), "event_type", etypes)
    out2 = write_fixture(tmp_path / "extreme_int64", events=ev2)
    q = REGISTRY["backoff_penalty_audit"]
    with duck_views(out2) as con:
        compare_query(con, q, q.fn(spark, out2))


def test_embedding_identity_collision_contract(spark, tmp_path):
    """Identity-collision contract for vectors (the id_collision_embs
    sweep batch): when the SAME vec_id carries DIFFERENT embeddings,
    the hash-rank seed orderings (ORDER BY md5(vec_id), vec_id) in
    k-means and the PQ per-subspace codebooks TIE, so the engines
    would train on different seed vectors and every assignment would
    diverge. Training loaders resolve one deterministic winner per
    vec_id (lexicographically smallest vd, NULLS FIRST — Spark
    _one_per_vec / the oracle's raw_emb winner CTE). Pin: with
    collisions injected, embedding_kmeans and ann_pq_adc agree
    bit-for-bit cross-engine; serving scans pass collisions through
    symmetrically (certified by the sweep batch)."""
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = emb.column("vec_id").to_pylist()
    n_coll = 0
    for i in range(31, len(ids), 31):
        ids[i] = ids[i - 1]
        n_coll += 1
    assert n_coll
    out = write_fixture(tmp_path / "vidcollide", embeddings=_set(emb, "vec_id", ids))
    with duck_views(out) as con:
        for name in ("embedding_kmeans", "ann_pq_adc"):
            compare_query(con, REGISTRY[name], REGISTRY[name].fn(spark, out))
