"""Layout primitives must deliver REAL pruning — asserted from the
physical plan and the parquet footers, never assumed."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from crm_etl_pipeline_spark import layout
from crm_etl_pipeline_spark.io import table

SF_DIR = "/root/testdata/sf0.001"


def test_date_partition_static_pruning(spark, tmp_path):
    """A literal day predicate must reach the scan as a
    PartitionFilter (plan-time directory pruning) and return exactly
    the raw table's rows for that day."""
    path = str(tmp_path / "by_day")
    ev = table(spark, SF_DIR, "events")
    layout.write_date_partitioned(ev, path)
    n_days = len(glob.glob(f"{path}/event_date=*"))
    assert n_days > 1, "fixture should span multiple days"
    day = ev.agg(F.min(F.to_date("ts")).cast("string")).first()[0]
    pruned = layout.read_day(spark, path, day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan
    # the partition predicate must NOT appear as a post-scan data Filter
    assert plan.count("event_date") >= 1
    want = ev.filter(F.to_date("ts") == F.lit(day)).count()
    assert pruned.count() == want > 0


def test_date_partition_join_prunes_dynamically_or_broadcasts(spark, tmp_path):
    """The broadcast min-day join used by partition_pruned_scan must
    produce the right rows; if Spark plans dynamic partition pruning
    for it, the scan carries a dynamicpruning expression — record
    whichever shape materializes so the docstring claim stays honest."""
    path = str(tmp_path / "by_day2")
    ev = table(spark, SF_DIR, "events")
    layout.write_date_partitioned(ev, path)
    store = spark.read.parquet(path)
    first = store.agg(F.min("event_date").alias("event_date"))
    joined = store.join(F.broadcast(first), "event_date")
    day = ev.agg(F.min(F.to_date("ts"))).first()[0]
    assert joined.count() == ev.filter(F.to_date("ts") == F.lit(day)).count()


def test_range_sorted_files_have_disjoint_envelopes(spark, tmp_path):
    """write_range_sorted must give every parquet file a disjoint
    min/max envelope on the sort key (parquet footer statistics) —
    the property that lets range predicates skip whole files."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "sorted")
    layout.write_range_sorted(
        table(spark, SF_DIR, "events"), path, "user_id", n_files=8
    )
    envelopes = []
    for f in glob.glob(f"{path}/*.parquet"):
        pf = pq.ParquetFile(f)
        idx = pf.schema_arrow.get_field_index("user_id")
        mins, maxs = [], []
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        envelopes.append((min(mins), max(maxs)))
    assert len(envelopes) > 1
    envelopes.sort()
    for (_, hi), (lo, _) in zip(envelopes, envelopes[1:]):
        assert hi <= lo, envelopes  # disjoint (boundary key may touch)


def test_runtime_bloom_filter_semi_join_reduction(spark):
    """With runtime bloom filters enabled (thresholds lowered to
    fixture scale and broadcast disabled so the join actually
    shuffles), a selective dim filter must inject might_contain /
    bloom_filter_agg into the fact scan — Spark's semi-join reduction,
    observed rather than assumed — without changing the join result.
    Spark's own guardrails only inject when the big side scans >= 10 GB
    and the filtered build side stays <= 10 MB; the test lowers them."""
    sf = "/root/testdata/sf0.01"
    o = table(spark, sf, "orders").filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    li = table(spark, sf, "lineitem")
    join = li.join(o, li.l_orderkey == o.o_orderkey)
    baseline = join.count()
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        filtered_join = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = filtered_join._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom filter not injected"
        assert "bloom_filter_agg" in plan
        assert filtered_join.count() == baseline
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_persisted_index_prunes_dynamically(spark):
    """The persisted IVF index must serve probes through dynamic
    partition pruning: the candidate-side scan of the cell-partitioned
    store carries a dynamicpruning expression fed by the broadcast
    probe side — so a probe batch touches its cells' directories, not
    the corpus. Also: index round-trip parity with the in-memory probe
    search (same rows)."""
    from crm_etl_pipeline_spark.registry import load_all

    reg = load_all()
    df = reg["ann_ivf_persisted_index"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP not injected on the index scan"
    got = {tuple(r) for r in df.collect()}
    want = {tuple(r) for r in reg["ann_ivf_probe"].fn(spark, SF_DIR).collect()}
    assert got == want and len(got) > 0


def test_compaction_shrinks_file_count_and_preserves_history(spark, tmp_path):
    """The unchanged-results proof scd2_compact_small_files relies on,
    plus the part only the filesystem can show: the 9-generation append
    log reads from many more parquet files than the compacted store,
    and the folded history is row-identical to the converged log read."""
    import os

    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark import scd, streaming
    from crm_etl_pipeline_spark.queries.scd_q import _base, _updates

    log = str(tmp_path / "log")
    store = str(tmp_path / "store")
    _base(spark, SF_DIR).write.mode("append").parquet(log)
    upd = _updates(spark, SF_DIR)
    for i in range(8):
        upd.filter(F.col("event_id") % 8 == i).write.mode("append").parquet(log)

    before = streaming.read_converged_store(spark, log)
    cols = ["item_id", "event_id", "ts", "value", "version", "is_current"]
    want = sorted(tuple(r) for r in before.select(*cols).collect())

    streaming.compact_store(spark, log, store)
    got = sorted(
        tuple(r) for r in scd.read_store(spark, store).select(*cols).collect()
    )
    assert got == want  # compaction is invisible to readers

    def parquet_files(root):
        return [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]

    n_log, n_store = len(parquet_files(log)), len(parquet_files(store))
    # 9 append generations × task files vs one rewrite
    assert n_log > n_store, (n_log, n_store)
    assert n_log >= 9  # the log really is per-batch small files


def test_compaction_query_rerun_is_self_contained(spark):
    """A second invocation in one session must rebuild its 9-generation
    log from scratch (not append 9 more generations) and return the
    identical history."""
    from crm_etl_pipeline_spark.registry import load_all

    reg = load_all()
    first = sorted(
        tuple(r) for r in reg["scd2_compact_small_files"].fn(spark, SF_DIR).collect()
    )
    second = sorted(
        tuple(r) for r in reg["scd2_compact_small_files"].fn(spark, SF_DIR).collect()
    )
    assert first == second


def test_regrain_month_consolidates_and_prunes(spark, tmp_path):
    """Partition evolution day→month: fewer directories AND fewer data
    files after the regrain, identical row count, and a literal month
    predicate still prunes statically (PartitionFilters on the new
    column)."""
    day = str(tmp_path / "rg_day")
    month = str(tmp_path / "rg_month")
    ev = table(spark, SF_DIR, "events")
    layout.write_date_partitioned(ev, day)
    layout.regrain_month(spark, day, month)
    n_day_dirs = len(glob.glob(f"{day}/event_date=*"))
    n_month_dirs = len(glob.glob(f"{month}/event_month=*"))
    assert 1 <= n_month_dirs < n_day_dirs
    assert len(glob.glob(f"{month}/event_month=*/*.parquet")) < len(
        glob.glob(f"{day}/event_date=*/*.parquet")
    )
    store = spark.read.parquet(month)
    assert store.count() == ev.count()
    m = store.agg(F.min("event_month").cast("string")).first()[0]
    pruned = store.filter(F.col("event_month") == F.lit(m))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_month" in plan
    want = ev.filter(F.trunc(F.to_date("ts"), "month") == F.lit(m)).count()
    assert pruned.count() == want > 0


def test_regrain_query_empty_events_contract(spark, tmp_path):
    """Degenerate contract (found by the round-8 sweep): an empty
    events table must yield the empty relation with the full output
    schema — a partitioned write of zero rows lands no data files and
    an inference read would crash the maintenance job."""
    from crm_etl_pipeline_spark.registry import load_all

    d = str(tmp_path / "empty_sf")
    ev = table(spark, SF_DIR, "events").limit(0)
    ev.write.parquet(f"{d}/events.parquet")
    out = load_all()["partition_evolution_regrain"].fn(spark, d)
    assert out.count() == 0
    assert out.columns == [
        "event_id", "ts", "user_id", "event_type", "value", "props", "event_month",
    ]


def test_zorder_bounds_both_dimensions(spark, tmp_path):
    """The multi-dimensional locality claim, measured from parquet
    footers: under a ts-linear sort, per-file user_id envelopes span
    ~the whole domain (users recur every day); under the z-order
    layout, every file's envelope is bounded on BOTH day and user
    buckets — the sum of per-file user-bucket spans must shrink by a
    large factor, which is exactly what row-group/file skipping on a
    2-D predicate consumes."""
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    ev = (
        table(spark, SF_DIR, "events")
        .select(
            "event_id",
            F.datediff(
                F.to_date("ts"), F.lit("2024-01-01").cast("date")
            ).alias("day_idx"),
            F.col("user_id"),
        )
        .withColumn(
            "zval",
            # per-user curve resolution: the sf0.001 fixture has only 15
            # users, so the query's 16-user production grain would fold
            # them all into one bucket and the locality claim would be
            # untestable at this sf
            layout.zvalue(F.col("day_idx"), F.col("user_id")).cast("bigint"),
        )
    )
    n_files = 16  # 30x15 cell domain: segments must be finer than the
    # domain for per-file boxes to shrink visibly at this fixture size
    zpath, tpath = str(tmp_path / "byz"), str(tmp_path / "byt")
    layout.write_zordered(ev, zpath, "zval", n_files)
    layout.write_range_sorted(ev, tpath, "day_idx", n_files)

    def spans(root, col):
        out = []
        for f in glob.glob(f"{root}/*.parquet"):
            md = papq.read_metadata(f)
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            out.append(hi - lo)
        return out

    z_user = spans(zpath, "user_id")
    t_user = spans(tpath, "user_id")
    # every z-file bounds users; the time-sorted layout cannot
    assert sum(z_user) < 0.5 * sum(t_user), (sum(z_user), sum(t_user))
    # and the z-layout still bounds time: no file spans the whole month
    z_day = spans(zpath, "day_idx")
    full_day_span = 29
    assert max(z_day) < full_day_span, z_day


def test_zorder_incremental_compact_touches_only_affected_segments(spark, tmp_path):
    """The incremental claim, measured from the file listing: build a
    segment-partitioned z-ordered base, merge a delta that maps to a
    KNOWN curve region, and assert (a) untouched segment directories
    keep byte-identical files (same names, sizes, mtimes — dynamic
    partition overwrite never visited them), (b) touched segments now
    contain the delta rows in curve order, (c) the merged store equals
    base ∪ delta row-for-row."""
    import os as _os

    from crm_etl_pipeline_spark.queries.layout_q import ZSEG_SHIFT

    ev = (
        table(spark, SF_DIR, "events")
        .select(
            "event_id",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
                "day_idx"
            ),
            "user_id",
        )
        .withColumn(
            "zval",
            layout.zvalue(F.col("day_idx"), F.expr("user_id div 16")).cast("bigint"),
        )
        .withColumn("seg", F.shiftright("zval", ZSEG_SHIFT).cast("int"))
    )
    store = str(tmp_path / "store")
    base = ev.filter(F.col("day_idx") < 25)
    delta = ev.filter(F.col("day_idx") >= 25)
    layout.write_zordered_segments(base, store, "zval", "seg")

    def listing(root):
        out = {}
        for d, _, files in _os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = _os.path.join(d, f)
                    st = _os.stat(p)
                    out[_os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
        return out

    before = listing(store)
    delta_segs = {r.seg for r in delta.select("seg").distinct().collect()}
    untouched_segs = {
        r.seg for r in base.select("seg").distinct().collect()
    } - delta_segs
    assert untouched_segs, "fixture must leave some segments untouched"

    layout.compact_zordered_increment(spark, store, delta, "zval", "seg")
    after = listing(store)

    for rel, sig in before.items():
        seg_val = int(rel.split("seg=")[1].split("/")[0])
        if seg_val in untouched_segs:
            assert after.get(rel) == sig, f"untouched segment rewritten: {rel}"
        else:
            assert rel not in after, f"touched segment kept a stale file: {rel}"

    merged = spark.read.parquet(store)
    assert merged.count() == ev.count()
    assert merged.select("event_id").distinct().count() == ev.count()
    # delta rows are now inside their segment files in curve order
    for seg_val in sorted(delta_segs):
        rows = [
            r.zval
            for r in spark.read.parquet(f"{store}/seg={seg_val}").select("zval").collect()
        ]
        assert rows == sorted(rows), f"segment {seg_val} not curve-sorted"


def test_zorder_incremental_query_rerun_is_self_contained(spark):
    """Two same-session runs return identical results — the append-mode
    delta log is rebuilt from scratch per invocation (the bench
    warm-up re-entry shape that bit scd2_compact_small_files once)."""
    from crm_etl_pipeline_spark.registry import load_all

    fn = load_all()["zorder_incremental_compact"].fn
    a = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    b = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert a == b and len(a) > 0


def test_zcurve_grain_knobs_default_to_registered_behavior():
    """The round-10 grain knobs (SPARK_GRAFT_ZGRAIN_UBUCKET /
    SPARK_GRAFT_ZSEG_SHIFT) exist for the scale harness; with the env
    unset the oracle SQL and the Spark expressions must reproduce the
    registered grain byte-for-byte (the driver certifies THIS grain)."""
    import os

    from crm_etl_pipeline_spark.queries import layout_q

    assert "SPARK_GRAFT_ZGRAIN_UBUCKET" not in os.environ
    assert "SPARK_GRAFT_ZSEG_SHIFT" not in os.environ
    assert layout_q.ZGRAIN_UBUCKET == 16
    assert layout_q.ZSEG_SHIFT == 7
    assert "user_id // 16 AS u_bucket" in layout_q.ZCURVE_ORACLE_SQL
    assert f">> {layout_q.ZSEG_SHIFT}" in layout_q.ZCURVE_ORACLE_SQL


def test_zcurve_grain_knob_parse_is_loud_and_bounded(monkeypatch):
    """Round-10 advisor find: the knobs were a bare int(os.environ...)
    at import — a malformed value crashed every import of the queries
    package with an anonymous ValueError, and an out-of-range one
    silently mis-curved. The parse now names the variable and enforces
    the static bounds (ZSEG_SHIFT <= 31 = the Morton width;
    ZGRAIN_UBUCKET in [1, 2^16] — the data-dependent aliasing half of
    the bucket bound still needs a corpus and stays documented)."""
    import pytest

    from crm_etl_pipeline_spark.queries import layout_q

    monkeypatch.setenv("SPARK_GRAFT_ZSEG_SHIFT", "seven")
    with pytest.raises(ValueError, match="SPARK_GRAFT_ZSEG_SHIFT.*not an integer"):
        layout_q._grain_knob("SPARK_GRAFT_ZSEG_SHIFT", 7, 0, 31)
    monkeypatch.setenv("SPARK_GRAFT_ZSEG_SHIFT", "32")
    with pytest.raises(ValueError, match=r"SPARK_GRAFT_ZSEG_SHIFT.*outside \[0, 31\]"):
        layout_q._grain_knob("SPARK_GRAFT_ZSEG_SHIFT", 7, 0, 31)
    monkeypatch.setenv("SPARK_GRAFT_ZGRAIN_UBUCKET", "0")
    with pytest.raises(ValueError, match="SPARK_GRAFT_ZGRAIN_UBUCKET.*outside"):
        layout_q._grain_knob("SPARK_GRAFT_ZGRAIN_UBUCKET", 16, 1, 1 << 16)
    monkeypatch.setenv("SPARK_GRAFT_ZGRAIN_UBUCKET", "1024")
    assert layout_q._grain_knob("SPARK_GRAFT_ZGRAIN_UBUCKET", 16, 1, 1 << 16) == 1024
