"""Streaming convergence tests (SURVEY §5.3): the availableNow replay
of the event stream must land in exactly the state the batch pipeline
computes from the same input — at-least-once + idempotent merge ⇒
exactly-once effect — and the DLQ must populate at the threshold.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crm_etl_pipeline_spark import scd, streaming
from crm_etl_pipeline_spark.io import normalize_event_ts

SF_DIR = "/root/testdata/sf0.001"

_COLS = ["item_id", "event_id", "ts", "value", "version", "is_current"]


def test_streaming_converges_to_batch_state(spark, tmp_path):
    paths = streaming.run_pipeline(spark, SF_DIR, workdir=str(tmp_path))
    streamed = streaming.read_converged_store(spark, str(paths["store"])).select(*_COLS)
    batch = streaming.batch_equivalent_state(spark, SF_DIR).select(*_COLS)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def _snapshot(root):
    """(path, size, mtime_ns) of every DATA file under root — the
    _SUCCESS marker and checksum sidecars are commit metadata, rewritten
    by design on every append."""
    import os

    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_store_is_append_only(spark, tmp_path):
    """A new micro-batch must never rewrite files earlier batches wrote:
    the O(store)-per-batch full rewrite is exactly what kills the
    pipeline at 100 TB. After the streamed run, appending another batch
    leaves every existing (path, size, mtime) untouched."""
    paths = streaming.run_pipeline(spark, SF_DIR, workdir=str(tmp_path))
    store = str(paths["store"])
    before = _snapshot(store)
    assert before, "store log should have files after the run"
    extra = (
        normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
        .limit(5)
        .select(
            F.col("user_id").alias("item_id"),
            "event_id",
            "ts",
            "value",
        )
    )
    streaming._append_versions(store, extra)
    after = _snapshot(store)
    changed = {p: v for p, v in before.items() if after.get(p) != v}
    assert not changed, f"historical files rewritten: {sorted(changed)[:3]}"
    assert len(after) > len(before)  # the batch added new files


def test_requeue_drains_to_convergence(spark, tmp_path):
    """Reference at-least-once loop (PodioApiGateway.py:153-159): every
    sub-threshold failure requeues with attempts+1 until it
    dead-letters at the threshold — nothing is dropped. Converged DLQ
    holds EVERY error event exactly once with attempts=max(first,10)."""
    paths = streaming.run_pipeline(spark, SF_DIR, workdir=str(tmp_path))
    passes = streaming.drain_retry_queue(spark, paths)
    errors = (
        normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            (F.floor(F.col("value")).cast("int") % 12 + 1).alias("first_attempts"),
        )
    )
    dlq = spark.read.parquet(str(paths["dlq"])).select("event_id", "failed_attempts")
    got = {r["event_id"]: r["failed_attempts"] for r in dlq.collect()}
    want = {
        r["event_id"]: max(r["first_attempts"], streaming.DLQ_THRESHOLD)
        for r in errors.collect()
    }
    assert dlq.count() == len(got), "duplicate DLQ rows for one event"
    assert got == want
    assert 0 < passes <= streaming.DLQ_THRESHOLD + 1


def test_unbounded_mode_processes_and_stops(spark, tmp_path):
    """Unbounded mode (the reference's 10 s poll loop): run_pipeline
    returns a live StreamingQuery handle; the backlog processes, the
    converged state matches the batch equivalent, and stop() shuts the
    query down cleanly."""
    paths = streaming.run_pipeline(
        spark, SF_DIR, workdir=str(tmp_path), trigger_available_now=False
    )
    q = paths["query"]
    try:
        q.processAllAvailable()  # drive the backlog deterministically
        assert q.isActive
        streamed = streaming.read_converged_store(spark, str(paths["store"]))
        batch = streaming.batch_equivalent_state(spark, SF_DIR)
        assert streamed.count() == batch.count()
    finally:
        q.stop()
        q.awaitTermination()
    assert not q.isActive


def test_drain_converges_with_negative_first_attempts(spark, tmp_path):
    """floor(value) % 12 + 1 is sign-preserving in both engines, so a
    negative event value yields first_attempts ≤ 0. The drain loop must
    run to FIXPOINT (more than DLQ_THRESHOLD+1 passes here — the old
    threshold-derived bound would exit early and silently under-fill the
    DLQ) and dead-letter every failure at exactly the threshold."""
    queue = tmp_path / "retry_queue"
    rows = [("e1", -5), ("e2", 1), ("e3", -10)]
    spark.createDataFrame(rows, "event_id string, failed_attempts int").write.mode(
        "append"
    ).parquet(str(queue))
    paths = {
        "retry_queue": str(queue),
        "dlq": str(tmp_path / "dlq"),
        "checkpoint": str(tmp_path / "ckpt"),
    }
    passes = streaming.drain_retry_queue(spark, paths)
    assert passes > streaming.DLQ_THRESHOLD + 1
    dlq = spark.read.parquet(paths["dlq"])
    got = {(r.event_id, r.failed_attempts) for r in dlq.collect()}
    assert got == {("e1", 10), ("e2", 10), ("e3", 10)}


def test_compacted_current_view_fast_path(spark, tmp_path):
    """compact_store folds the log into the partitioned store; the
    serving read (current=true partition ∪ fresh log) returns the same
    current rows as the full-history merge, without scanning history."""
    paths = streaming.run_pipeline(spark, SF_DIR, workdir=str(tmp_path))
    log, base = str(paths["store"]), str(tmp_path / "compacted")
    streaming.compact_store(spark, log, base)
    fresh_log = str(tmp_path / "fresh_log")
    extra = (
        normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
        .filter(F.col("event_type").isin(*streaming.PROCESS_TYPES))
        .limit(7)
        .select(
            F.col("user_id").alias("item_id"),
            "event_id",
            (F.col("ts") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
            (F.col("value") + 1).alias("value"),
        )
    )
    streaming._append_versions(fresh_log, extra)
    fast = streaming.current_view_merged(spark, base, fresh_log).select(
        "item_id", "event_id", "ts", "value"
    )
    full = scd.current_view(
        scd.scd2_apply(streaming.read_converged_store(spark, log), extra)
    ).select("item_id", "event_id", "ts", "value")
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, full.collect()))


def test_compaction_roundtrip_after_log_truncation(spark, tmp_path):
    """The 100 TB serving-path claim, asserted end-to-end: after
    compact_store folds the log into the partitioned base, the log can
    be DELETED and serving (base current=true partition ∪ fresh log)
    still equals the full-history merge — and the base read
    partition-prunes to the current=true files (plan-asserted), so
    history is never scanned on the serving path."""
    import re
    import shutil

    paths = streaming.run_pipeline(spark, SF_DIR, workdir=str(tmp_path))
    log, base = str(paths["store"]), str(tmp_path / "compacted")
    extra = (
        normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
        .filter(F.col("event_type").isin(*streaming.PROCESS_TYPES))
        .limit(7)
        .select(
            F.col("user_id").alias("item_id"),
            "event_id",
            (F.col("ts") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
            (F.col("value") + 1).alias("value"),
        )
    )
    cols = ["item_id", "event_id", "ts", "value"]
    # materialize the expected full-history state BEFORE truncating
    expected = sorted(
        map(
            tuple,
            scd.current_view(
                scd.scd2_apply(streaming.read_converged_store(spark, log), extra)
            )
            .select(*cols)
            .collect(),
        )
    )
    streaming.compact_store(spark, log, base)
    shutil.rmtree(log)  # log truncation — serving must not need it
    fresh_log = str(tmp_path / "fresh_log")
    streaming._append_versions(fresh_log, extra)
    fast = streaming.current_view_merged(spark, base, fresh_log).select(*cols)
    assert sorted(map(tuple, fast.collect())) == expected
    # the serving base read prunes to the current=true partition
    cv = scd.current_view(scd.read_store(spark, base))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = cv._jdf.queryExecution().explainString(mode)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cast(is_current" in pf.group(1), plan


def test_reliable_checkpoint_flag(spark, tmp_path):
    """Without the conf, reliable_checkpoint is localCheckpoint (no
    files); with CHECKPOINT_DIR_CONF set it writes real checkpoint
    files under the configured dir — the cluster-safe form."""
    from crm_etl_pipeline_spark import checkpointing

    assert checkpointing.reliable_checkpoint(spark.range(10)).count() == 10
    ckpt = tmp_path / "reliable_ckpt"
    spark.conf.set(checkpointing.CHECKPOINT_DIR_CONF, str(ckpt))
    try:
        assert checkpointing.reliable_checkpoint(spark.range(7)).count() == 7
        files = [p for p in ckpt.rglob("*") if p.is_file()]
        assert files, "no reliable checkpoint files written"
    finally:
        spark.conf.unset(checkpointing.CHECKPOINT_DIR_CONF)


def test_completed_queue_and_dlq(spark, tmp_path):
    paths = streaming.run_pipeline(spark, SF_DIR, workdir=str(tmp_path))
    events = normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    n_process = events.filter(F.col("event_type").isin(*streaming.PROCESS_TYPES)).count()
    completed = spark.read.parquet(paths["completed"])
    assert completed.count() == n_process
    assert "completed_timestamp" in completed.columns
    n_dlq_expected = events.filter(
        (F.col("event_type") == "error")
        & (F.floor(F.col("value")).cast("int") % 12 + 1 >= streaming.DLQ_THRESHOLD)
    ).count()
    assert spark.read.parquet(paths["dlq"]).count() == n_dlq_expected


def test_windowed_counts_match_batch(spark, tmp_path):
    out = str(tmp_path / "counts")
    streaming.windowed_counts_stream(spark, SF_DIR, out)
    streamed = spark.read.parquet(out)
    from crm_etl_pipeline_spark.registry import load_all

    batch = load_all()["tumbling_daily_counts"].fn(spark, SF_DIR)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_batch_dedup_last_write_wins(spark):
    events = normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    deduped = streaming.dedup_last_write_wins(events)
    per_key = deduped.groupBy("user_id", "event_type").count()
    assert per_key.filter(F.col("count") > 1).count() == 0


def test_session_windows_stream_matches_batch(spark, tmp_path):
    """The declarative session_window query produces the identical
    session table whether run as a batch DataFrame or as a watermarked
    stream drained with availableNow."""
    out = str(tmp_path / "sessions")
    streaming.session_windows_stream(spark, SF_DIR, out)
    streamed = spark.read.parquet(out)
    from crm_etl_pipeline_spark.registry import load_all

    batch = load_all()["session_window_builtin"].fn(spark, SF_DIR)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Doubling the stream then dropDuplicatesWithinWatermark yields
    exactly the original event set."""
    out = str(tmp_path / "deduped")
    streaming.dedup_stream_within_watermark(spark, SF_DIR, out)
    got = spark.read.parquet(out)
    src = normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    assert got.count() == src.count()
    assert got.select("event_id").distinct().count() == src.count()


def test_read_dlq_missing_path_returns_empty(spark, tmp_path):
    """A run where no error event crosses the threshold never creates
    the dlq dir (empty appends are skipped); the reader must treat the
    missing path as an empty DLQ with the correct schema, not raise."""
    paths = {"dlq": str(tmp_path / "never_created_dlq")}
    df = streaming.read_dlq(spark, paths, SF_DIR)
    assert df.count() == 0
    assert "failed_attempts" in df.columns and "event_id" in df.columns


def test_rate_limit_stream_empty_fixture(spark, tmp_path):
    """An EMPTY events table must drain to an empty decision ledger,
    not crash: MAX(event_id) over zero rows is NULL, and the chunk
    re-lay arithmetic did None + int before the guard (found by the
    round-7 degenerate sweep's empty_events probe)."""
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF_DIR}/events.parquet").slice(0, 0)
    fixture = str(tmp_path / "fixture")
    import os

    os.makedirs(fixture)
    pq.write_table(src, f"{fixture}/events.parquet")
    out = streaming.rate_limit_stream(spark, fixture, str(tmp_path / "wd"))
    assert spark.read.parquet(out).count() == 0


def test_compaction_racing_append_loses_nothing(spark, tmp_path):
    """Compaction racing a micro-batch append: versions appended to the
    log AFTER compact_store snapshotted it must survive, and serving
    over (compacted base ∪ un-truncated log) must not double-serve a
    key even while the log still holds rows the base already folded.
    Then the protocol-correct truncation — delete ONLY the files the
    fold read, never the racing appends — must leave serving unchanged."""
    import os

    paths = streaming.run_pipeline(spark, SF_DIR, workdir=str(tmp_path))
    log, base = str(paths["store"]), str(tmp_path / "compacted")
    pre_files = [p for p in _snapshot(log)]
    streaming.compact_store(spark, log, base)
    # the racing micro-batch: lands between the fold's read and truncation
    racing = (
        normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
        .filter(F.col("event_type").isin(*streaming.PROCESS_TYPES))
        .limit(9)
        .select(
            F.col("user_id").alias("item_id"),
            "event_id",
            (F.col("ts") + F.expr("INTERVAL 20 DAYS")).alias("ts"),
            (F.col("value") + 2).alias("value"),
        )
    )
    streaming._append_versions(log, racing)
    cols = ["item_id", "event_id", "ts", "value"]
    expected = sorted(
        map(tuple, scd.current_view(streaming.read_converged_store(spark, log)).select(*cols).collect())
    )
    fast = streaming.current_view_merged(spark, base, log).select(*cols)
    got = sorted(map(tuple, fast.collect()))
    assert got == expected  # nothing lost, nothing served twice
    n_keys = len({r[0] for r in got})
    assert len(got) == n_keys, "a key is double-served"
    # protocol truncation: drop only what the fold read
    for p in pre_files:
        os.remove(p)
    got2 = sorted(
        map(tuple, streaming.current_view_merged(spark, base, log).select(*cols).collect())
    )
    assert got2 == expected


def test_replay_dlq_redrive_converges(spark, tmp_path):
    """DLQ replay (the reference's 'email admin' re-drive,
    PodioApiGateway.py:157-159): every dead-lettered event re-enters the
    retry queue with attempts reset to 0 and dead-letters a second time
    at exactly DLQ_THRESHOLD. The DLQ log ends with exactly two
    generations per error event, and the replay drain runs exactly
    DLQ_THRESHOLD passes (one per +1 bump from 0 to the threshold)."""
    paths = streaming.run_pipeline(spark, SF_DIR, workdir=str(tmp_path))
    streaming.drain_retry_queue(spark, paths)
    n_dead = spark.read.parquet(str(paths["dlq"])).count()
    assert n_dead > 0, "fixture must dead-letter at least one event"
    passes = streaming.replay_dlq(spark, paths)
    assert passes == streaming.DLQ_THRESHOLD
    dlq = spark.read.parquet(str(paths["dlq"]))
    per_event = (
        dlq.groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("generations"),
            F.min("failed_attempts").alias("replay_attempts"),
        )
        .collect()
    )
    assert len(per_event) == n_dead, "replay must not invent or drop events"
    for r in per_event:
        assert r["generations"] == 2
        assert r["replay_attempts"] == streaming.DLQ_THRESHOLD


def test_replay_dlq_empty_noop(spark, tmp_path):
    """Replay with no DLQ directory is a clean no-op (0 passes)."""
    paths = {"dlq": str(tmp_path / "nope"), "retry_queue": str(tmp_path / "rq"),
             "checkpoint": str(tmp_path / "ckpt")}
    assert streaming.replay_dlq(spark, paths) == 0


def test_one_data_file_per_failure_append(spark, tmp_path):
    """Every non-empty append to the retry queue or the DLQ writes ONE
    data file: each drain pass re-lists and re-opens the queue, so one
    file per task would multiply the files hop after hop. The number of
    appends has a closed form in the error events' first attempts ``a``
    (T = DLQ_THRESHOLD; each drain pass adds 1 to every queued row):

    - run + drain: the queue takes one append per pass that still holds
      a row below T, which is T - min(a) appends; the DLQ takes one for
      the rows already at T in the event batch, plus one per distinct
      a < T (those rows reach T together, in pass T - a);
    - replay: one enqueue of the whole DLQ at 0 attempts, then T - 1
      passes that requeue everything and one that dead-letters it."""
    import os

    threshold = streaming.DLQ_THRESHOLD
    paths = streaming.run_pipeline(spark, SF_DIR, workdir=str(tmp_path))
    streaming.drain_retry_queue(spark, paths)
    streaming.replay_dlq(spark, paths)
    first = [
        r[0]
        for r in normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
        .filter(F.col("event_type") == "error")
        .select(F.floor(F.col("value")).cast("int") % 12 + 1)
        .collect()
        if r[0] is not None
    ]
    below = {a for a in first if a < threshold}
    assert below and max(first) >= threshold, "fixture must reach both branches"
    queue_appends = (threshold - min(below)) + 1 + (threshold - 1)
    dlq_appends = 1 + len(below) + 1

    def data_files(d):
        return sum(f.endswith(".parquet") for f in os.listdir(d))

    assert data_files(str(paths["retry_queue"])) == queue_appends
    assert data_files(str(paths["dlq"])) == dlq_appends


def test_event_ts_vintage_roundtrip(spark, tmp_path):
    """io.table must produce IDENTICAL timestamps whether events.parquet
    stores TIMESTAMP(NANOS) (pre-round-5 fixtures, read as nanos-long
    via the legacy conf) or TIMESTAMP(MICROS) (round-5 fixtures, read
    as TIMESTAMP_NTZ) — the driver regenerated the fixtures once and
    can again."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from crm_etl_pipeline_spark.io import table

    us = [0, 1_700_000_000_000_000, 1_700_000_123_456_789]
    base = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["click"] * 3),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(["{}"] * 3),
    }
    for vintage, arr in (
        ("us", pa.array(us, pa.timestamp("us"))),
        ("ns", pa.array([u * 1000 for u in us], pa.timestamp("ns"))),
    ):
        d = str(tmp_path / vintage)
        os.makedirs(d)
        pq.write_table(pa.table({**base, "ts": arr}), f"{d}/events.parquet")
    got_us = table(spark, str(tmp_path / "us"), "events").select("event_id", "ts").collect()
    got_ns = table(spark, str(tmp_path / "ns"), "events").select("event_id", "ts").collect()
    assert sorted(map(tuple, got_us)) == sorted(map(tuple, got_ns))
    assert {str(r.ts) for r in got_us} == {
        "1970-01-01 00:00:00",
        "2023-11-14 22:13:20",
        "2023-11-14 22:15:23.456789",
    }


def test_stream_stream_join_equals_batch_interval_join(spark, tmp_path):
    """The watermarked stream-stream inner join converges to exactly
    the batch interval join: same pair set, no duplicates, no drops."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark import streaming
    from crm_etl_pipeline_spark.io import table

    out = str(tmp_path / "pairs")
    streaming.stream_stream_join(spark, "/root/testdata/sf0.001", out)
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.read.parquet(out).collect()
    }
    ev = table(spark, "/root/testdata/sf0.001", "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    want = {
        (r.purchase_id, r.click_id)
        for r in p.join(
            c,
            (F.col("user_id") == F.col("cu"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("cts") < F.col("pts")),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_moments_stream_really_spans_microbatches(spark, tmp_path):
    """The moments stream must process its 4 input chunks as MULTIPLE
    micro-batches (maxFilesPerTrigger=1) — otherwise the 'state merges
    across batches' claim of streaming_moments_anomalies is vacuous.
    The checkpoint's offsets log records one file per batch."""
    import os

    out = streaming.moments_stream(spark, SF_DIR, str(tmp_path))
    offsets = [
        f for f in os.listdir(out + "_checkpoint/offsets") if f.isdigit()
    ]
    assert len(offsets) >= 4, offsets
    # and the converged moments match a direct batch aggregation
    batch = (
        spark.read.parquet(str(tmp_path / "chunks"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s1"),
        )
    )
    streamed = spark.read.parquet(out).select("event_type", "n", "s1")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.select("event_type", "n", "s1").collect())
    )


def test_streaming_rate_limit_converges_to_batch(spark):
    """The stateful streaming limiter's converged hourly ledger equals
    the batch nested-window admission query on the same fixture —
    per-hour state carried across the 4 time-ordered micro-batches
    (chunk boundaries fall mid-hour, so carry-over is exercised)."""
    from crm_etl_pipeline_spark.queries.gateway_q import rate_limit_admission
    from crm_etl_pipeline_spark.queries.streaming_q import streaming_rate_limit

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in streaming_rate_limit(spark, sf_dir).collect())
    want = sorted(tuple(r) for r in rate_limit_admission(spark, sf_dir).collect())
    assert got == want


def test_clock_skew_event_survives_pandas_boundary(spark, tmp_path):
    """Quarantine-philosophy contract from the round-8 far_future_ts
    probe, pinned: ONE clock-skew event stamped year 2400 — past
    pandas' datetime64[ns] ceiling (2262-04-11) — must not kill any
    applyInPandas stage. Timestamps cross the Python boundary as
    epoch-MICROS (int64) and convert back JVM-side, so the bad row is
    processed CORRECTLY (it sorts last, opens its own session) rather
    than crashing the task or being dropped."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "skew")
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(f"{src}/events.parquet")
    ts = t.column("ts").to_pylist()
    ts[5] = datetime.datetime(2400, 6, 1, 12, 0, 0)
    t = t.set_column(
        t.column_names.index("ts"), "ts", pa.array(ts, t.schema.field("ts").type)
    )
    pq.write_table(t, f"{out}/events.parquet")
    for tb in ("region nation customer supplier part orders lineitem "
               "documents embeddings").split():
        os.symlink(f"{src}/{tb}.parquet", f"{out}/{tb}.parquet")

    from crm_etl_pipeline_spark.registry import load_all

    REGISTRY = load_all()
    ewma = REGISTRY["ewma_user_value"].fn(spark, out).collect()
    assert len(ewma) == t.num_rows
    skewed = [r for r in ewma if r.ts.year == 2400]
    assert len(skewed) == 1  # processed, not dropped or crashed

    sess = REGISTRY["streaming_stateful_sessions"].fn(spark, out).collect()
    far = [r for r in sess if r.session_start.year == 2400]
    assert len(far) == 1 and far[0].n_events == 1  # its own session


def test_zorder_ingest_stream_micro_batches_and_delta_shape(spark, tmp_path):
    """The streaming Z-order ingest's two structural claims, beyond the
    hash-equality its shared oracle proves:

    1. the live tail really arrives as FOUR micro-batches (one per
       arrival file, maxFilesPerTrigger=1) — counted from the stream's
       checkpoint offsets, not inferred;
    2. each micro-batch lands delta files ONLY under the curve segments
       its rows map to: the delta log's seg= directories are exactly
       the tail rows' segments (the compactor's cost is the touched
       data, and 'touched' must be decided by arithmetic at ingest).
    """
    import os

    from crm_etl_pipeline_spark.queries.layout_q import ZSEG_SHIFT
    from crm_etl_pipeline_spark import layout

    wd = str(tmp_path / "zingest")
    store = streaming.zorder_ingest_stream(spark, SF_DIR, wd)
    assert store is not None

    # 1. four genuine micro-batches
    offsets = os.listdir(os.path.join(wd, "_checkpoint", "offsets"))
    assert len([f for f in offsets if not f.startswith(".")]) == 4

    # 2. delta directories == the tail's true segment set
    ev = normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    anchor = ev.agg(F.min(F.to_date("ts")).alias("min_day"),
                    F.lit(1).cast("int").alias("_k"))
    curved = streaming._curve_columns(ev, anchor)
    want_segs = {
        r.seg
        for r in curved.filter(F.col("day_idx") >= 25).select("seg").distinct().collect()
    }
    assert want_segs  # fixture must actually have a live tail
    got_segs = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(wd, "delta_log"))
        if d.startswith("seg=")
    }
    assert got_segs == want_segs

    # and the merged store carries every event exactly once
    n_store = spark.read.parquet(store).count()
    assert n_store == ev.count()


def test_dim_enrichment_spans_four_microbatches(spark, tmp_path):
    """The stream-static join must really run per micro-batch: 4 pmod
    chunks × maxFilesPerTrigger=1 → 4 DISTINCT foreachBatch batch_ids
    (recorded as _batch_id harness telemetry — part-file counting
    cannot distinguish 4 single-file batches from 1 multi-partition
    batch), each batch carrying exactly one chunk's rows; every event
    exactly once; dim-less users surface as UNKNOWN, never dropped."""
    from crm_etl_pipeline_spark.io import table

    sf = "/root/testdata/sf0.001"
    out = streaming.stream_static_enrichment(spark, sf, str(tmp_path / "dimjoin"))
    res = spark.read.parquet(out)
    ev = table(spark, sf, "events")
    assert res.count() == ev.count()  # stateless join: no drops, no dups
    assert res.select("event_id").distinct().count() == ev.count()
    # 4 genuine micro-batches, and batch membership == chunk membership
    # (each trigger consumed exactly one pmod chunk file)
    assert res.select("_batch_id").distinct().count() == 4
    per_batch = {
        (r["_batch_id"], r["chunk"])
        for r in res.select(
            "_batch_id",
            F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(4)).alias("chunk"),
        )
        .distinct()
        .collect()
    }
    assert len(per_batch) == 4  # one chunk per batch, no mixing
    # LEFT posture: exactly the events whose user has no dim row arrive
    # as UNKNOWN (0 on the clean fixture — every user_id is a custkey;
    # the empty_customer and null_user_ids sweep batches carry the
    # nonzero cases), and matched users carry a real segment
    cust = table(spark, sf, "customer").select(F.col("c_custkey").alias("user_id"))
    expected_unknown = ev.join(cust, "user_id", "left_anti").count()
    assert res.filter(F.col("segment") == "UNKNOWN").count() == expected_unknown
    assert res.filter(F.col("segment") != "UNKNOWN").count() == res.count() - expected_unknown


def test_incremental_dedup_first_arrival_wins(spark):
    """The ingest gate's survivor is the EARLIEST arrival (chunk, then
    doc_id) — provably different from the batch recompute's global
    min-doc_id rule on this fixture: the fabricated clone of some
    originals lands in an EARLIER chunk and must win. Also proves the
    cross-batch store anti-join fired (one row per distinct hash,
    never re-accepted). Expected winners are derived from the RELAYED
    corpus itself — (content_hash, arrival_chunk) per doc through the
    harness's own hash + chunk expressions — not reconstructed via
    clone-id arithmetic, which would break spuriously if two fixture
    texts were naturally identical (round-13 ADVICE)."""
    from crm_etl_pipeline_spark.queries.llmops import (
        _WS_CLASS,
        _casefold,
        _exact_corpus,
    )
    from crm_etl_pipeline_spark.registry import load_all

    reg = load_all()
    rows = reg["streaming_incremental_dedup"].fn(spark, SF_DIR).collect()
    by_hash = {r.content_hash: r for r in rows}
    assert len(by_hash) == len(rows)  # one winner per hash: anti-join held

    normalized = _casefold(
        F.trim(F.regexp_replace(F.col("text"), "[" + _WS_CLASS + "]+", " "))
    )
    arrivals = (
        _exact_corpus(spark, SF_DIR)
        .select(
            "doc_id",
            F.sha2(normalized, 256).alias("content_hash"),
            streaming.dedup_arrival_chunk().alias("chunk"),
        )
        .collect()
    )
    assert arrivals, "fixture corpus must be non-empty"
    # first arrival per hash: min (chunk, doc_id) with NULL ids losing
    # inside a chunk (the store's F.min ignores NULLs); and the batch
    # recompute's rule (global min non-NULL doc_id) for the contrast
    expected: dict = {}
    batch_min: dict = {}
    for r in arrivals:
        key = (r.chunk, r.doc_id is None, r.doc_id or 0)
        cur = expected.get(r.content_hash)
        if cur is None or key < cur[0]:
            expected[r.content_hash] = (key, r.doc_id, r.chunk)
        if r.doc_id is not None:
            m = batch_min.get(r.content_hash)
            if m is None or r.doc_id < m:
                batch_min[r.content_hash] = r.doc_id
    # full coverage: every distinct hash accepted exactly once
    assert set(by_hash) == set(expected)
    for h, (_, doc_id, chunk) in expected.items():
        got = by_hash[h]
        assert got.keep_doc_id == doc_id
        assert got.arrival_chunk == chunk
    # the schedule must actually exercise clone-first arrivals, or the
    # first-arrival contract degenerates to the batch min rule
    clone_wins = sum(
        1 for h, (_, doc_id, _c) in expected.items() if doc_id != batch_min.get(h)
    )
    assert clone_wins > 0


def test_incremental_ivf_append_only_and_batch_parity(spark, tmp_path):
    """The incremental IVF store must (1) equal the one-shot batch
    assignment of the FULL corpus against the bootstrap-trained frozen
    codebook — the invariance that makes incremental maintenance
    correct at all; (2) be append-only: no file mixes bootstrap and
    arrival vectors (an append can't rewrite base data into merged
    files), and every arrival-bearing file is newer than every
    base file (base files untouched by the stream); (3) leave cell
    directories with no arrivals containing zero arrival-bearing
    files (micro-batches write only touched cell partitions)."""
    import glob
    import os

    import pyarrow.parquet as papq

    from crm_etl_pipeline_spark.queries.embeddings_q import (
        _emb,
        _fixed_norm2,
        _ivf_assign,
        _ivf_codebook,
    )

    sf = "/root/testdata/sf0.001"
    store = streaming.incremental_ivf_stream(spark, sf, str(tmp_path / "ivf"))
    assert store is not None
    got = sorted(
        (r.vec_id, tuple(r.embedding), r.n2, r.cell)
        for r in spark.read.parquet(store).collect()
    )

    emb = _emb(spark, sf).select("vec_id", "embedding", "label")
    boot = emb.filter(~streaming.ivf_arrival_pred())
    codebook = _ivf_codebook(boot)
    cells = _ivf_assign(emb, codebook, max_rank=1).select("vec_id", "cell")
    twin = emb.join(cells, "vec_id").select(
        "vec_id", "embedding", _fixed_norm2(F.col("embedding")).alias("n2"), "cell"
    )
    want = sorted(
        (r.vec_id, tuple(r.embedding), r.n2, r.cell) for r in twin.collect()
    )
    assert got == want  # merged store == one-shot batch twin

    arrival_ids = {
        r.vec_id
        for r in emb.filter(streaming.ivf_arrival_pred()).select("vec_id").collect()
    }
    assert arrival_ids, "fixture must route some vectors through the stream"
    files = glob.glob(os.path.join(store, "cell=*", "*.parquet"))
    assert files
    info = []  # (path, cell_dir, has_base, has_arrival, mtime)
    for f in files:
        ids = set(papq.read_table(f, columns=["vec_id"])["vec_id"].to_pylist())
        info.append(
            (
                os.path.dirname(f),
                bool(ids - arrival_ids),
                bool(ids & arrival_ids),
                os.path.getmtime(f),
            )
        )
    # (2) append-only: no mixed files; arrivals strictly after base
    assert not any(has_b and has_a for _, has_b, has_a, _ in info)
    base_mt = [mt for _, has_b, _a, mt in info if has_b]
    arr_mt = [mt for _, _b, has_a, mt in info if has_a]
    assert arr_mt, "arrival batches must have produced files"
    assert max(base_mt) <= min(arr_mt)
    # (3) untouched cells carry zero arrival files
    arrival_cells = {
        r.cell
        for r in twin.filter(F.col("vec_id").isin(arrival_ids)).select("cell").collect()
    }
    for d, _b, has_a, _mt in info:
        if has_a:
            assert int(d.rsplit("cell=", 1)[1]) in arrival_cells
