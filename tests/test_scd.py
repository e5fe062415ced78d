"""SCD2 invariants from FIXTURES.md §4: exactly one current row per
key, the current row has the max (ts, event_id), history is preserved,
incremental two-batch apply converges to the single-shot result, and
the parquet round trip is lossless.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crm_etl_pipeline_spark import scd
from crm_etl_pipeline_spark.queries.scd_q import _base, _store, _updates

SF_DIR = "/root/testdata/sf0.001"


def test_exactly_one_current_per_key(spark):
    store = _store(spark, SF_DIR)
    per_key = store.groupBy("item_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_current"),
        F.count(F.lit(1)).alias("n_versions"),
    )
    assert per_key.filter(F.col("n_current") != 1).count() == 0
    assert per_key.filter(F.col("n_versions") < 1).count() == 0


def test_current_is_latest_and_history_preserved(spark):
    store = _store(spark, SF_DIR)
    latest = store.groupBy("item_id").agg(
        F.max(F.struct("ts", "event_id")).alias("mx")
    )
    bad = (
        store.filter(F.col("is_current"))
        .join(latest, "item_id")
        .filter(F.struct("ts", "event_id") != F.col("mx"))
    )
    assert bad.count() == 0
    # history: every input row survives the merge
    n_base = _base(spark, SF_DIR).count()
    n_upd = _updates(spark, SF_DIR).count()
    assert store.count() == n_base + n_upd


def test_incremental_apply_converges(spark):
    """Applying updates in two timestamp-split batches through
    scd2_apply must equal the single-shot merge — the foreachBatch
    streaming path relies on exactly this property."""
    base = _base(spark, SF_DIR)
    upd = _updates(spark, SF_DIR)
    split = upd.agg(F.percentile_approx("ts", 0.5)).collect()[0][0]
    first = scd.scd2_apply(base, upd.filter(F.col("ts") <= split))
    final = scd.scd2_apply(first, upd.filter(F.col("ts") > split))
    single = scd.scd2_apply(base, upd)
    cols = ["item_id", "event_id", "ts", "value", "version", "is_current"]
    assert sorted(map(tuple, final.select(cols).collect())) == sorted(
        map(tuple, single.select(cols).collect())
    )


def test_apply_is_idempotent(spark):
    base = _base(spark, SF_DIR)
    upd = _updates(spark, SF_DIR)
    once = scd.scd2_apply(base, upd)
    twice = scd.scd2_apply(once, upd)
    cols = ["item_id", "event_id", "ts", "value", "version", "is_current"]
    assert sorted(map(tuple, twice.select(cols).collect())) == sorted(
        map(tuple, once.select(cols).collect())
    )


def test_write_store_partitions_by_current(spark, tmp_path):
    store = _store(spark, SF_DIR)
    path = str(tmp_path / "store")
    scd.write_store(store, path)
    back = scd.read_store(spark, path)
    assert back.count() == store.count()
    # partition layout: current view scans only the is_current=true dir
    files = [
        r.file_path
        for r in scd.current_view(back)
        .select(F.input_file_name().alias("file_path"))
        .distinct()
        .collect()
    ]
    assert files and all("is_current=true" in f for f in files)


def test_expire_versions_preserves_post_horizon_time_travel(spark):
    """The retention contract: (1) something is actually reclaimed on
    the fixture, (2) every key keeps exactly one current row, (3)
    asof_view at the horizon and at a later instant are bit-identical
    on the expired store, (4) a pre-horizon as-of CAN differ — the
    reclaimed rows are precisely the ones only pre-horizon reads see."""
    from crm_etl_pipeline_spark.queries.scd_q import _ASOF_TS

    store = _store(spark, SF_DIR)
    expired = scd.expire_versions(store, _ASOF_TS)
    n_full, n_kept = store.count(), expired.count()
    assert 0 < n_kept < n_full, "fixture must exercise real reclamation"
    # exactly one current row per key survives
    cur = expired.groupBy("item_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_cur")
    )
    assert cur.filter(F.col("n_cur") != 1).count() == 0
    assert expired.select("item_id").distinct().count() == store.select(
        "item_id"
    ).distinct().count()
    # time travel at/after the horizon is unchanged
    for t in (_ASOF_TS, "2024-02-20 00:00:00"):
        a = sorted(map(tuple, scd.asof_view(store, t).collect()))
        b = sorted(map(tuple, scd.asof_view(expired, t).collect()))
        assert a == b, f"as-of {t} must be identical on the expired store"
    # and a pre-horizon as-of differs (those versions were reclaimed)
    early = "1995-01-01 00:00:00"
    a = sorted(map(tuple, scd.asof_view(store, early).collect()))
    b = sorted(map(tuple, scd.asof_view(expired, early).collect()))
    assert a != b


def test_duplicate_delivery_mints_no_second_version(spark):
    """The at-least-once contract (found by the round-8 dup_events
    sweep probe): re-delivering a byte-identical update must not mint
    a second version — scd2_apply collapses on the (item_id, ts,
    event_id) identity, and since round 8 the shared oracle SQL
    carries the symmetric DISTINCT. Applying the store build over an
    input with every 7th update duplicated must equal the build over
    the clean input, version numbers included."""
    base = _base(spark, SF_DIR)
    upd = _updates(spark, SF_DIR)
    dup = upd.unionAll(upd.filter(F.col("event_id") % 7 == 3))
    clean = sorted(map(tuple, scd.scd2_apply(base, upd).collect()))
    redelivered = sorted(map(tuple, scd.scd2_apply(base, dup).collect()))
    assert clean == redelivered


def test_customer_identity_collision_contract(spark, tmp_path):
    """Identity-collision contract for the item base (the
    id_collision_customer sweep batch): customer is the CRM item table, so a
    collided c_custkey puts two base rows behind one (item_id,
    BASE_TS, event_id=0) version identity with DIFFERENT values — no
    tiebreaker can order them, and the old subset-dropDuplicates
    picked an arbitrary survivor (a cross-engine coin flip; the
    flagship's customer join meanwhile fanned out and its plain count
    diverged from the oracle's COUNT(DISTINCT)). scd2_apply now
    collapses the identity to a deterministic per-column MIN winner
    (the SAME shuffle the old dropDuplicates paid), and the flagship
    resolves one deterministic customer row per key. Pin: with
    collisions injected, scd2_versioned_store and
    flagship_segment_revenue agree bit-for-bit cross-engine, and the
    store keeps exactly one current row per item."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crm_etl_pipeline_spark.registry import load_all

    from tests.conftest import compare_query, duck_views, write_fixture

    src = "/root/testdata/sf0.001"
    cust = pq.read_table(f"{src}/customer.parquet")
    ids = cust.column("c_custkey").to_pylist()
    n = 0
    for i in range(43, len(ids), 43):
        ids[i] = ids[i - 1]
        n += 1
    assert n
    cust = cust.set_column(
        cust.column_names.index("c_custkey"), "c_custkey",
        pa.array(ids, cust.schema.field("c_custkey").type),
    )
    # the sf0.001 fact tables come along, so every key they carry
    # resolves against the mutated sf0.001 customer
    out = write_fixture(
        tmp_path / "custcollide",
        customer=cust,
        **{t: pq.read_table(f"{src}/{t}.parquet") for t in ("orders", "lineitem", "events")},
    )
    reg = load_all()
    store, flagship = (reg[n] for n in ("scd2_versioned_store", "flagship_segment_revenue"))
    with duck_views(out) as con:
        rows = compare_query(con, store, store.fn(spark, out))
        compare_query(con, flagship, flagship.fn(spark, out))
    cur = [r.item_id for r in rows if r.is_current]
    assert len(cur) == len(set(cur))  # one current row per item


def test_scd2_apply_single_payload_assumption(spark):
    """The identity collapse in scd2_apply is a PER-COLUMN MIN (struct
    MIN diverges cross-engine when a field is NULL — llmops._one_per_doc's
    documented hazard). With ONE payload column that is exactly "pick
    the deterministic smallest delivered row". With SEVERAL payload
    columns a collided identity can SYNTHESIZE a composite winner that
    matches no delivered row (column-wise minima mixing fields from two
    rows) — a semantic trap flagged by the round-10 advisor. This test
    pins both halves: (1) every production store schema in use today
    carries the single payload column the collapse is safe for, and
    (2) the multi-payload synthesis is demonstrated, so whoever lands a
    second payload column finds this test and switches the collapse to
    a NULLS FIRST row_number winner (the llmops._one_per_doc form)."""
    import datetime

    # (1) the production store grain: exactly one payload column
    store = _store(spark, SF_DIR)
    ident = {"item_id", "ts", "event_id"}
    derived = {"version", "is_current"}
    payload = [c for c in store.columns if c not in ident | derived]
    assert payload == ["value"], (
        "scd2_apply's per-column MIN collapse is only row-equivalent "
        "for a single payload column; a multi-column payload needs a "
        f"row_number winner (got payload columns {payload})"
    )

    # (2) the documented multi-payload synthesis, demonstrated
    ts = datetime.datetime(2024, 1, 1)
    collided = spark.createDataFrame(
        [(1, 0, ts, 5.0, "zz"), (1, 0, ts, 9.0, "aa")],
        "item_id bigint, event_id bigint, ts timestamp, "
        "value double, note string",
    )
    merged = scd.scd2_apply(None, collided).collect()
    assert len(merged) == 1
    row = merged[0]
    # column-wise minima mix fields from the two delivered rows:
    # (5.0, "aa") was never delivered — deterministic, oracle-mirrored
    # (MIN per column GROUP BY identity), and exactly the composite
    # the docstring warns about.
    assert (row.value, row.note) == (5.0, "aa")
