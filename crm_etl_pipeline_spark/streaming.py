"""Structured Streaming ingest (SURVEY §2.1 S7, §2.7 ST1–ST6): the
engine's counterpart of the reference's webhook gateway + worker loop.

Reference parity: webhook POSTs enqueue events (`PodioApiGateway.py:
75-89,197-266`), a single background worker pops them FIFO, filters to
item.update/item.create, fetches + decodes the item, SCD2-upserts it,
appends to the completed queue, and requeues failures with
``failed_attempts + 1`` → dead-letter at ≥ 10
(`PodioApiGateway.py:111-195`).

Spark shape: ``readStream`` (file source here; Kafka in production) →
IN-list filter → ``foreachBatch`` doing {per-key last-write-wins within
the batch, SCD2 merge into the versioned store, completed-queue append,
DLQ routing} on a 10 s processing-time trigger
(`PodioApiGateway.py:195`) — or ``availableNow`` for bounded replay in
tests and the driver.

Scale notes: the store is an APPEND-ONLY version log — each micro-batch
appends O(batch) rows and never touches files written by earlier
batches (a per-batch store rewrite would be O(store) per micro-batch
and fatal at 100 TB; tests assert historical files' (path, size, mtime)
are untouched by later batches).
``version``/``is_current`` are derived merge-on-read by one window over
the item key — high cardinality, so the read-side shuffle scales — and
the serving fast path (`current_view_merged`) unions only the compacted
store's current=true partition with the log, so it never scans
history. ``compact_store`` periodically folds the log into the
partitioned materialized form. The windowed aggregation path uses
event-time + watermark, so late events older than the watermark are
dropped deterministically instead of reordering history (the reference
simply processes in arrival order — ST5).

Plumbing shared by every stream below: ``_drain``/``_drain_to`` run a
bounded availableNow ``foreachBatch`` query, ``_route_failures`` is the
one DLQ/requeue router, ``arrival_relay`` lays a frame out as ordered
arrival files and ``_arrival_stream`` reads them one file per batch.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crm_etl_pipeline_spark import scd
from crm_etl_pipeline_spark.attach import attach

PROCESS_TYPES = ("purchase", "signup")  # plays item.update/item.create
DLQ_THRESHOLD = 10  # failed_attempts >= 10 → dead letter


def first_attempts() -> Column:
    """``failed_attempts`` of a failure's first try, derived from its
    value (the fixture carries no attempt counter): ``floor(value) % 12
    + 1``. ``%`` keeps the sign, so a negative value starts at ≤ 0."""
    return F.floor(F.col("value")).cast("int") % 12 + 1


def _drain(
    stream: DataFrame, batch_fn, checkpoint: str, output_mode: str = "append"
) -> None:
    """Run ``batch_fn(batch, batch_id)`` over ``stream`` with an
    availableNow trigger and wait: every micro-batch of the input
    available now is processed, then the query stops. The checkpoint
    makes a later drain of the same source see only newer input."""
    (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _drain_to(stream: DataFrame, out: str, output_mode: str) -> None:
    """``_drain`` each micro-batch into the parquet sink ``out``,
    checkpointed at ``out + "_checkpoint"``. A complete-mode batch is
    the whole result table and overwrites; any other batch holds new
    rows and appends."""
    mode = "overwrite" if output_mode == "complete" else "append"
    _drain(
        stream,
        lambda batch, _: batch.write.mode(mode).parquet(out),
        out + "_checkpoint",
        output_mode,
    )


def _append_one_file(df: DataFrame, path: str) -> None:
    """Append ``df`` to ``path`` as ONE part file. The rows are
    batch-bounded, and every file appended to the retry queue or the
    DLQ is re-listed and re-opened by each later drain pass or DLQ
    read — one file per append instead of one per task keeps that
    per-pass cost flat (guide §6). Production sizes by bytes instead
    (maxRecordsPerFile / a REBALANCE hint)."""
    df.coalesce(1).write.mode("append").parquet(path)


def _route_failures(failures: DataFrame, paths: dict[str, object]) -> int:
    """The failure router (`PodioApiGateway.py:153-159`): rows of
    ``failures`` with ``failed_attempts >= DLQ_THRESHOLD`` are appended
    to the DLQ, rows below it to the retry queue. Returns the requeued
    count. Both counts come from ONE aggregate job over ``failures``,
    which the caller persists. Empty appends are skipped, and that is
    load-bearing: an empty write still creates a part file, the next
    drain pass reads it as new input, and the drain loop would never
    reach its fixpoint."""
    dead = F.col("failed_attempts") >= DLQ_THRESHOLD
    queued = F.col("failed_attempts") < DLQ_THRESHOLD
    stats = failures.agg(
        F.count(F.when(dead, 1)).alias("n_dead"),
        F.count(F.when(queued, 1)).alias("n_queued"),
    ).first()
    if stats["n_dead"]:
        _append_one_file(failures.filter(dead), str(paths["dlq"]))
    if stats["n_queued"]:
        _append_one_file(failures.filter(queued), str(paths["retry_queue"]))
    return stats["n_queued"]


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the events fixture (S7). The stream
    schema is the batch schema; ts is normalized to a µs timestamp
    exactly like io.table (both fixture vintages)."""
    from crm_etl_pipeline_spark.io import ensure_nanos_as_long, normalize_event_ts

    ensure_nanos_as_long(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def _append_versions(log_path: str, updates: DataFrame) -> None:
    """Append one micro-batch of new versions to the version log:
    O(batch) work regardless of store size, where a full-store rewrite
    would be O(store) per batch. At-least-once redelivery appends
    duplicate rows; ``scd2_apply``'s (item_id, ts, event_id) dedup at
    read time collapses them, so the CONVERGED state is exactly-once
    (the idempotent-merge property tests/test_streaming.py asserts)."""
    updates.write.mode("append").parquet(log_path)


def read_converged_store(spark: SparkSession, log_path: str) -> DataFrame:
    """Merge-on-read: derive version/is_current over the full log with
    one window on the item key. This is the verification/replay path
    (needs exact version numbers over all history); serving reads use
    ``current_view_merged`` which prunes history entirely."""
    return scd.scd2_apply(None, spark.read.parquet(log_path))


def current_view_merged(spark: SparkSession, base_path: str, log_path: str) -> DataFrame:
    """Serving fast path: latest version per key from (compacted store's
    current=true partition) ∪ (append log). The current row of any key
    is in one of those two sets, so history files are never scanned —
    at 100 TB this reads one generation + the delta, not every version
    ever written. Version numbers are the within-union ordinal, NOT the
    all-history version (use read_converged_store when those matter)."""
    base_cur = scd.current_view(scd.read_store(spark, base_path))
    log = spark.read.parquet(log_path)
    return scd.current_view(scd.scd2_apply(base_cur, log))


def compact_store(spark: SparkSession, log_path: str, base_path: str) -> None:
    """Fold the version log into the partitioned materialized store
    (the periodic maintenance job): one full-log window + one rewrite,
    amortized over many appended batches instead of paid per batch.
    After compaction the log can be truncated and serving resumes from
    the is_current partition. The fold is checkpointed before the
    overwrite (reliable_checkpoint: local at local[*], fault-tolerant
    checkpoint() when CHECKPOINT_DIR_CONF is set) so the write never
    re-reads the path it is replacing mid-overwrite."""
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    merged = reliable_checkpoint(read_converged_store(spark, log_path))
    scd.write_store(merged, base_path)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    trigger_available_now: bool = True,
) -> dict[str, object]:
    """The full event loop (ST1–ST4): bootstrap the version log from
    the customer base load, then stream events through foreachBatch
    doing append-merge + completed-append + requeue/DLQ routing.
    Returns the output paths; for an unbounded run the live
    ``StreamingQuery`` is returned under ``"query"`` so the caller can
    awaitTermination()/stop() it (it is NOT fire-and-forget).

    Failure routing is the reference's at-least-once loop
    (`PodioApiGateway.py:153-159`): a failure with
    ``failed_attempts < 10`` re-enters the retry queue with the counter
    incremented — never dropped — and dead-letters once the counter
    reaches the threshold. ``drain_retry_queue`` then drains the retry
    queue to convergence.

    With ``trigger_available_now`` the stream drains the backlog and
    stops (bounded replay); otherwise it runs on the reference's 10 s
    poll cadence (`PodioApiGateway.py:195`).
    """
    from crm_etl_pipeline_spark.queries.scd_q import _base  # avoid import cycle

    paths: dict[str, object] = {
        "store": os.path.join(workdir, "store"),
        "completed": os.path.join(workdir, "completed"),
        "dlq": os.path.join(workdir, "dlq"),
        "retry_queue": os.path.join(workdir, "retry_queue"),
        "checkpoint": os.path.join(workdir, "checkpoint"),
    }
    _append_versions(str(paths["store"]), _base(spark, sf_dir))

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            processed = batch.filter(F.col("event_type").isin(*PROCESS_TYPES))
            _append_versions(
                str(paths["store"]),
                processed.select(F.col("user_id").alias("item_id"), "event_id", "ts", "value"),
            )
            scd.append_completed(processed, str(paths["completed"]))
            _route_failures(
                batch.filter(F.col("event_type") == "error").withColumn(
                    "failed_attempts", first_attempts()
                ),
                paths,
            )
        finally:
            batch.unpersist()

    stream = events_stream(spark, sf_dir)
    checkpoint = str(paths["checkpoint"])
    if not trigger_available_now:
        paths["query"] = (
            stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime="10 seconds")
            .start()
        )
        return paths
    _drain(stream, process_batch, checkpoint)
    return paths


def read_dlq(spark: SparkSession, paths: dict[str, object], sf_dir: str) -> DataFrame:
    """DLQ contents after a bounded run. Empty appends are skipped (see
    _route_failures), so a fixture/scale where no error event crosses
    DLQ_THRESHOLD never creates the dlq directory at all — absence means
    EMPTY, not error. Return a zero-row frame with the run's DLQ schema
    (events columns + failed_attempts) instead of letting the parquet
    reader raise AnalysisException on the missing path."""
    from crm_etl_pipeline_spark.io import table

    dlq = str(paths["dlq"])
    if os.path.isdir(dlq):
        return spark.read.parquet(dlq)
    return (
        table(spark, sf_dir, "events")
        .limit(0)
        .withColumn("failed_attempts", F.lit(0).cast("int"))
    )


def drain_retry_queue(spark: SparkSession, paths: dict[str, object]) -> int:
    """Drain the retry queue to convergence (the reference's worker loop
    `PodioApiGateway.py:111-159`, which pops requeued failures until
    each either succeeds or dead-letters at the threshold).

    Spark shape: the queue directory is itself a file-source STREAM
    with a persistent checkpoint, so each availableNow pass processes
    exactly the files appended since the previous pass (the checkpoint
    is the at-least-once processed-set — no manual file bookkeeping).
    A pass re-attempts each queued failure: still failing with
    ``attempts+1 < threshold`` → re-append to the queue (picked up by
    the NEXT pass); at the threshold → DLQ. The loop terminator is the
    FIXPOINT check (a pass that requeues nothing), not a bound
    derived from the threshold: derived first attempts are
    ``floor(value) % 12 + 1``, which both engines sign-preserve, so a
    negative event value yields first_attempts ≤ 0 and needs MORE than
    DLQ_THRESHOLD passes — a threshold-derived cap would exit early and
    silently under-fill the DLQ. Attempts still increase monotonically
    by 1 per pass, so the fixpoint arrives in at most
    ``DLQ_THRESHOLD - min(first_attempts)`` passes; the hard cap only
    guards against a requeue bug looping forever, and overrunning it
    raises rather than returning partial state. Returns the number of
    passes run. In this deterministic replay an 'error' event always
    fails again (the fixture has no success-on-retry signal), matching
    the derived-attempts model used everywhere.
    """
    queue_dir = str(paths["retry_queue"])
    if not os.path.isdir(queue_dir):
        return 0  # no sub-threshold failures ever queued
    queue = spark.readStream.schema(spark.read.parquet(queue_dir).schema).parquet(queue_dir)
    requeued = 0

    def retry_batch(batch: DataFrame, batch_id: int) -> None:
        nonlocal requeued
        bumped = batch.withColumn("failed_attempts", F.col("failed_attempts") + 1).persist()
        try:
            requeued += _route_failures(bumped, paths)
        finally:
            bumped.unpersist()

    # floor(value) % 12 + 1 ∈ [-10, 12] (sign-preserving %), so the
    # farthest-from-threshold failure converges in ≤ 2·DLQ_THRESHOLD
    # passes; anything past that is a requeue bug, not slow convergence
    max_passes = 2 * DLQ_THRESHOLD + 2
    passes = 0
    while True:
        requeued = 0
        _drain(queue, retry_batch, str(paths["checkpoint"]) + "_retry")
        passes += 1
        if not requeued:
            return passes  # fixpoint: every failure dead-lettered
        if passes >= max_passes:
            raise RuntimeError(
                f"retry queue failed to converge after {passes} passes — "
                "requeue loop is appending without bumping attempts"
            )


def replay_dlq(spark: SparkSession, paths: dict[str, object]) -> int:
    """Re-drive dead-lettered events — the operator form of the
    reference's "email admin" stub (`PodioApiGateway.py:157-159`), where
    a human inspects the dead letter and re-submits it. Every DLQ entry
    is re-enqueued onto the retry queue with its attempts counter reset
    to 0 (a full fresh re-drive), then the queue is drained back to
    fixpoint by the same checkpointed availableNow loop as the original
    run (``drain_retry_queue`` — the checkpoint makes the drain pick up
    exactly the replayed files, no manual file bookkeeping).

    The DLQ is a LOG, not a set: the original generation's entries stay
    put, and because this deterministic replay has no success-on-retry
    signal (an 'error' event always fails again, the model used
    everywhere), each replayed event dead-letters a second time at
    exactly ``DLQ_THRESHOLD`` — counting from 0 in +1 steps it crosses
    the threshold precisely at it. Converged closed form per error
    event: 2 DLQ generations, max(first_attempts, threshold) from the
    original run, threshold exactly from the replay — the oracle
    ``streaming_dlq_replay`` states. Returns drain passes run (0 when
    the DLQ is empty/absent).

    Scale shape: one O(DLQ) read + append per replay, then the drain's
    O(queue) passes — never touches the store or completed log. After a
    converged drain, the replay drain runs exactly ``DLQ_THRESHOLD``
    passes.
    """
    dlq_dir = str(paths["dlq"])
    if not os.path.isdir(dlq_dir):
        return 0  # nothing ever dead-lettered — replay is a no-op
    _append_one_file(
        spark.read.parquet(dlq_dir).withColumn("failed_attempts", F.lit(0).cast("int")),
        str(paths["retry_queue"]),
    )
    return drain_retry_queue(spark, paths)


def windowed_counts_stream(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Event-time tumbling window with watermark (the idiomatic upgrade
    of ST5): 1-day windows, 1-hour lateness bound. Runs availableNow in
    complete mode via foreachBatch, materializing the final window
    table to parquet."""
    counts = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("day"),
            "event_type",
            "n",
            "total_value",
        )
    )
    _drain_to(counts, out_path, "complete")


def session_windows_stream(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """The streaming twin of queries.events_q.session_window_builtin:
    the SAME ``session_window`` expression under ``readStream`` with a
    watermark, drained with availableNow and materialized. Proves the
    batch query's claim that the declarative form runs unchanged as a
    stream (tests/test_streaming.py asserts the final table equals the
    batch result)."""
    sessions = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end_ext"),
            "n_events",
        )
    )
    _drain_to(sessions, out_path, "complete")


def dedup_stream_within_watermark(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Cross-batch streaming dedup (ST6's true streaming form): the
    event stream unioned with itself — every event arrives twice —
    collapsed by ``dropDuplicatesWithinWatermark`` on the event key.
    State for a key is held only until the watermark passes its event
    time, so state size is bounded by the lateness window — the
    property that makes streaming dedup viable at 100 TB/day (a plain
    dropDuplicates would grow state forever). Both copies of an event
    are identical, so the surviving row is deterministic regardless of
    arrival order; tests assert the sink equals the batch distinct set."""
    doubled = events_stream(spark, sf_dir)
    deduped = (
        doubled.union(doubled)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _drain_to(deduped, out_path, "append")


def stream_stream_join(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Watermarked stream-stream interval join — the last Structured
    Streaming join shape (tumbling/session windows, dedup, stateful
    sessions and foreachBatch merges are covered elsewhere): the click
    stream inner-joined to the purchase stream on user within the hour
    before each purchase. Both sides carry a 1-hour watermark and the
    join condition bounds click time against purchase time, so each
    side's buffered state is purged once the other side's watermark
    passes the bound — bounded state at any throughput, the property
    that makes the join viable continuously at 100 TB/day. An inner
    join emits a pair exactly when both rows have arrived; under an
    availableNow drain the sink therefore converges to the batch
    interval join, which is this operator's oracle."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND click_ts >= purchase_ts - INTERVAL 1 HOUR "
            "AND click_ts < purchase_ts"
        ),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    _drain_to(joined, out_path, "append")


def batch_equivalent_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch result the streaming pipeline must converge to (used
    by tests and the driver oracle)."""
    from crm_etl_pipeline_spark.queries.scd_q import _base, _updates

    return scd.scd2_apply(_base(spark, sf_dir), _updates(spark, sf_dir))


def dedup_last_write_wins(batch: DataFrame) -> DataFrame:
    """ST6 within a micro-batch: collapse to the newest event per
    (user_id, event_type) exactly like the reference deletes queued
    duplicates once one completes (`PodioApiGateway.py:143-145`)."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return batch.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# custom stateful operator: sessionization via applyInPandasWithState

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_GAP_US = 30 * 60 * 1_000_000

_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        # epoch-MICROS, not TimestampType: the Arrow bridge materializes
        # pandas datetime64[ns] inside the UDF, which overflows on any
        # clock-skew event past 2262-04-11 and kills the whole stage
        # (the far_future_ts probe) — int64 micros cross the
        # boundary unharmed; read_sessions converts back JVM-side
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
    ]
)

_SESSION_STATE = StructType(
    [
        StructField("last_us", LongType()),
        StructField("sess_start_us", LongType()),
        StructField("sess_id", LongType()),
        StructField("n_ev", LongType()),
    ]
)


def _sessionize_group(key, pdfs, state: GroupState):
    """Per-user stateful sessionizer: carries the open session across
    micro-batches; emits every session TOUCHED in this batch (closed
    ones finally, the open one as a snapshot) — the sink merges
    last-write-wins per (user_id, session_id), so re-emission converges.
    Vectorized pandas inside the batch: diff/cumsum, no Python loop."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts_us", "event_id"])
    if state.exists:
        last_us, sess_start_us, sess_id, n_ev = state.get
    else:
        last_us = sess_start_us = None
        sess_id = 0
        n_ev = 0
    ts = rows["ts_us"].to_numpy()
    prev = pd.Series(ts).shift(1)
    new_flag = (prev.isna() | (pd.Series(ts) - prev > SESSION_GAP_US)).to_numpy()
    if last_us is not None and ts[0] - last_us <= SESSION_GAP_US:
        new_flag[0] = False  # continues the open session from state
    rows = rows.assign(sess=new_flag.cumsum() + sess_id)
    agg = rows.groupby("sess")["ts_us"].agg(["min", "max", "count"]).reset_index()
    # stitch the open session's carried-over start/count onto its first slice
    if last_us is not None and not new_flag[0]:
        first = agg.index[0]
        agg.loc[first, "min"] = sess_start_us
        agg.loc[first, "count"] += n_ev
    out = pd.DataFrame(
        {
            "user_id": user_id,
            "session_id": agg["sess"].astype("int64"),
            "n_events": agg["count"].astype("int64"),
            "session_start_us": agg["min"].astype("int64"),
            "session_end_us": agg["max"].astype("int64"),
        }
    )
    tail = agg.iloc[-1]
    state.update((int(tail["max"]), int(tail["min"]), int(tail["sess"]), int(tail["count"])))
    yield out


def stateful_sessionization(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """ST-windows via a CUSTOM stateful operator (applyInPandasWithState):
    the engine-extensibility path for session semantics the built-in
    session_window cannot express (e.g. carrying per-session aggregates
    across batches). Emits per-batch session updates; the parquet sink
    keeps last-write-wins per (user_id, session_id)."""
    stream = events_stream(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _drain_to(sessions, out_path, "update")


def read_sessions(spark: SparkSession, out_path: str) -> DataFrame:
    """Converged session table: last emission wins per session key."""
    w = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("session_end_us").desc(), F.col("n_events").desc()
    )
    return (
        spark.read.parquet(out_path)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "session_id",
            "n_events",
            F.timestamp_micros(F.col("session_start_us")).alias("session_start"),
            F.timestamp_micros(F.col("session_end_us")).alias("session_end"),
        )
    )


def moments_stream(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Incremental per-type moment accumulation (ST1-ST3 shape applied
    to profiling): the events fixture is re-laid as 4 parquet chunks
    and streamed one file per micro-batch, so the per-event-type
    (count, Σvalue, Σvalue²) DECIMAL moments genuinely MERGE across
    four micro-batches of streaming-aggregation state — the mergeable
    property the batch twin (``event_value_anomalies``) relies on,
    exercised through Spark's stateful complete-mode aggregation
    instead of asserted. Returns the path of the converged moments
    table."""
    from crm_etl_pipeline_spark.io import table

    src = os.path.join(workdir, "chunks")
    table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).repartition(4).write.mode("overwrite").parquet(src)
    vdec = F.col("value").cast("decimal(18,2)")
    moments = _arrival_stream(spark, src).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).alias("s1"),
        F.sum(vdec * vdec).alias("s2"),
    )
    out = os.path.join(workdir, "moments")
    _drain_to(moments, out, "complete")
    return out


# ---------------------------------------------------------------------------
# custom stateful operator: cross-batch rate limiting (the gateway_q
# nested-fixed-window admission as TRUE streaming state)

from pyspark.sql.types import BooleanType, StringType  # noqa: E402

RATE_MINUTE_CAP = 2  # fixture calibration, see queries/gateway_q.py
RATE_HOUR_CAP = 20

_RL_OUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("hour_us", LongType()),
        StructField("admitted", BooleanType()),
        StructField("reason", StringType()),
    ]
)

# per-hour group state: how many calls each minute has seen (saturated at
# 255 — only "rank <= cap" matters) and how many minute-admitted calls the
# hour has seen; both carried across micro-batches
_RL_STATE = StructType(
    [
        StructField("minute_seen_hex", StringType()),  # 60 x 2 hex chars
        StructField("hour_minute_ok", LongType()),
    ]
)


def _rate_limit_group(key, pdfs, state: GroupState):
    """Stateful nested-window admission for one clock hour: stage 1
    ranks each call within its minute over ALL calls seen (carried
    per-minute counters), stage 2 ranks stage-1 survivors within the
    hour (carried count) — the exact greedy decomposition proven by
    tests/test_gateway.py, applied across micro-batches. Vectorized:
    cumcounts, no per-row Python loop."""
    import numpy as np
    import pandas as pd

    (hour_us,) = key
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts_us", "event_id"])
    if state.exists:
        minute_hex, hour_ok_seen = state.get
        minute_seen = np.array(
            [int(minute_hex[i : i + 2], 16) for i in range(0, 120, 2)], dtype=np.int64
        )
    else:
        minute_seen = np.zeros(60, dtype=np.int64)
        hour_ok_seen = 0
    minute = ((rows["ts_us"].to_numpy() - hour_us) // 60_000_000).astype(np.int64)
    within = pd.Series(minute).groupby(minute).cumcount().to_numpy()
    rank_in_minute = minute_seen[minute] + within + 1
    minute_ok = rank_in_minute <= RATE_MINUTE_CAP
    rank_in_hour = hour_ok_seen + np.cumsum(minute_ok)
    admitted = minute_ok & (rank_in_hour <= RATE_HOUR_CAP)
    reason = np.where(
        ~minute_ok, "minute_cap", np.where(~admitted, "hour_cap", None)
    )
    counts = pd.Series(minute).groupby(minute).size()
    minute_seen[counts.index.to_numpy()] = np.minimum(
        minute_seen[counts.index.to_numpy()] + counts.to_numpy(), 255
    )
    state.update(
        ("".join(f"{c:02x}" for c in minute_seen), int(hour_ok_seen + minute_ok.sum()))
    )
    yield pd.DataFrame(
        {
            "event_id": rows["event_id"].to_numpy(),
            "hour_us": hour_us,
            "admitted": admitted,
            "reason": reason,
        }
    )


def rate_limit_stream(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Stream the events fixture through the stateful rate limiter in 4
    time-ordered micro-batches and return the decisions path. The
    fixture is re-laid as 4 arrival files split on event_id quartiles
    (ts is monotone in event_id in every fixture vintage, so chunk
    order == event-time order; a NULL or negative id is in no quartile
    and never arrives) and streamed one file per micro-batch — hours
    that span a chunk boundary genuinely exercise the carried
    counters."""
    from crm_etl_pipeline_spark.io import table

    src = os.path.join(workdir, "chunks")
    ev = table(spark, sf_dir, "events").select("event_id", "ts")
    # MAX over an empty table is NULL — an empty fixture still re-lays
    # (four empty) chunks so the stream drains to an empty ledger
    # instead of crashing on None arithmetic
    hi = ev.agg(F.max("event_id")).collect()[0][0] or 0
    step = (hi + 4) // 4
    eid = F.col("event_id")
    arrival_relay(ev, src, [(eid >= i * step) & (eid < (i + 1) * step) for i in range(4)])
    calls = _arrival_stream(spark, src).select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
    )
    decisions = calls.groupBy("hour_us").applyInPandasWithState(
        _rate_limit_group,
        outputStructType=_RL_OUT,
        stateStructType=_RL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = os.path.join(workdir, "decisions")
    _drain_to(decisions, out, "update")  # decisions are immutable: appended
    return out


def late_arrival_audit_stream(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Watermark late-data accounting (ST5/ST6 hardening): replay the
    events fixture as THREE deterministic arrival files (md5 split of
    event_id: < '6' / < 'b' / rest; a NULL id is in no split) processed
    one per micro-batch, through a 1-day tumbling aggregation with a
    1-hour watermark in APPEND mode, and materialize the finalized
    windows.

    Pinned semantics (measured on this Spark, and what the oracle
    models): the watermark applied in batch N is max(event time through
    batch N−1) − delay; a late row is DROPPED only when its window was
    already evicted — i.e. window end ≤ the watermark applied in an
    EARLIER batch; rows into still-live windows merge even when below
    the current watermark. Windows emit when their end ≤ the final
    watermark; the trailing partial day never finalizes and is absent
    from the sink. With this split the batch-2 stragglers into pre-
    eviction days are the measured loss.

    Scale shape: identical to windowed_counts_stream (state keyed by
    bounded day windows, partial aggregation map-side); the audit adds
    no state — lost rows are measured by joining the sink against the
    batch truth, which is exactly what a production pipeline's
    reconciliation job does."""
    from crm_etl_pipeline_spark.io import table

    src = os.path.join(workdir, "arrivals")
    h = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    arrival_relay(
        table(spark, sf_dir, "events"), src, [h < "6", (h >= "6") & (h < "b"), h >= "b"]
    )
    agg = (
        _arrival_stream(spark, src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_stream"))
    )
    out = os.path.join(workdir, "finalized")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_checkpoint")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def _curve_columns(ev: DataFrame, anchor: DataFrame) -> DataFrame:
    """Curve-position columns for the Z-ordered event store, shared by
    the batch path (layout_q.zorder_incremental_compact) and the
    streaming ingest below — the store contract: a row's curve position
    is a function of the row and the store's anchor metadata, never of
    which ingest path carried it. ``anchor`` is the one-row (min_day)
    frame the store was created with; attached as a broadcast so no
    driver-side collect ever happens, batch or micro-batch."""
    from crm_etl_pipeline_spark import layout
    from crm_etl_pipeline_spark.queries.layout_q import ZGRAIN_UBUCKET, ZSEG_SHIFT

    return (
        attach(ev, anchor)
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            F.datediff(F.to_date("ts"), F.col("min_day")).cast("int").alias("day_idx"),
            F.expr(f"user_id div {ZGRAIN_UBUCKET}").alias("u_bucket"),
        )
        .withColumn(
            "zval", layout.zvalue(F.col("day_idx"), F.col("u_bucket")).cast("bigint")
        )
        .withColumn("seg", F.shiftright(F.col("zval"), ZSEG_SHIFT).cast("int"))
        .drop("u_bucket")
    )


def arrival_relay(df: DataFrame, dest_dir: str, preds: list[Column]) -> None:
    """Re-lay a fixture frame as one single-file arrival chunk per
    predicate: ``dest_dir/e{i}.parquet`` holds the rows matching
    ``preds[i]``, and the file mtimes increase with ``i``, so
    ``_arrival_stream`` drains the chunks as ``len(preds)`` genuine
    micro-batches in that order. A row that matches no predicate never
    arrives; each caller's oracle must agree on which rows those are.
    The frame is cached for the filter passes (one real scan, the rest
    cache reads) and unpersisted before return."""
    os.makedirs(dest_dir, exist_ok=True)
    df = df.cache()
    try:
        with tempfile.TemporaryDirectory() as tmp:
            for i, pred in enumerate(preds):
                chunk_dir = os.path.join(tmp, f"c{i}")
                df.filter(pred).coalesce(1).write.mode("overwrite").parquet(chunk_dir)
                # Spark's SingleDirectoryDataWriter emits a part file
                # even for an empty coalesce(1) write, but that is an
                # implementation detail — fail loudly if it changes
                # rather than leaking a bare StopIteration.
                parts = [f for f in os.listdir(chunk_dir) if f.endswith(".parquet")]
                if not parts:
                    raise RuntimeError(
                        f"arrival_relay: chunk {i}/{len(preds)} produced no parquet "
                        f"part file in {chunk_dir} — empty-chunk write no longer emits "
                        "a part file; write a schema-only placeholder here instead"
                    )
                dst = os.path.join(dest_dir, f"e{i}.parquet")
                os.replace(os.path.join(chunk_dir, parts[0]), dst)
                os.utime(dst, (1_000_000_000 + i * 100,) * 2)
    finally:
        df.unpersist()


def pmod_chunks(key: Column, n: int) -> list[Column]:
    """The ``n`` arrival predicates ``pmod(coalesce(key, 0), n) == i``
    shared by the id-sharded harnesses (the batch twin in layout_q.py
    mirrors the event_id form). pmod, not ``%``: a negative key under
    ``%`` matches NO chunk, so the row would silently never arrive
    while the oracle still emits it; pmod lands negatives in [0, n).
    The key is coalesced to 0 for the same reason — a NULL key makes
    pmod NULL, which matches no predicate. Callers owning an oracle
    mirror their key there."""
    chunk = F.pmod(F.coalesce(key, F.lit(0)), F.lit(n))
    return [chunk == i for i in range(n)]


def _arrival_stream(spark: SparkSession, src: str) -> DataFrame:
    """File-source stream over the arrival files in ``src``, one file
    per micro-batch in mtime order."""
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)


def zorder_ingest_stream(spark: SparkSession, sf_dir: str, workdir: str) -> str | None:
    """Close the webhook→warehouse loop the reference implies
    (`PodioApiGateway.py:111-137`: events arrive continuously and land
    in the store): a LIVE ingest path into the Z-ordered event store,
    so the curve layout and the stream are one pipeline instead of
    batch-append-then-hope.

    Three stages, mirroring how a real store runs:

    1. **Bootstrap (batch)** — the historical corpus (day_idx < 25)
       lands as the segment-partitioned Z-ordered base
       (``layout.write_zordered_segments``), and the store's anchor
       day (min event date) is fixed as store metadata. Day-index
       arithmetic against a FIXED anchor is what makes streaming
       possible at all: a micro-batch cannot recompute a global MIN,
       and must not — the anchor belongs to the store, not the query.
    2. **Live tail (stream)** — the last 5 days arrive as four
       arrival files replayed through a real file-source readStream
       one file per micro-batch (four genuine micro-batches, monotone
       mtimes for deterministic order). ``foreachBatch`` curves each
       micro-batch against the broadcast anchor and appends it to the
       delta log PARTITIONED BY SEGMENT — each micro-batch writes only
       the curve segments it touches, which is exactly the delta shape
       ``layout.compact_zordered_increment`` merges. O(batch) work per
       trigger; the base store is never read on the hot path.
    3. **Maintenance (incremental compaction)** — fold the accumulated
       seg-partitioned delta into the curve, rewriting only touched
       segments via dynamic partition overwrite.

    Returns the store path (None for an empty corpus). The read-back
    must hash-equal the batch twin's oracle: the store state is
    defined by the rows and the anchor, not by the ingest path.

    Scale shape: step 2 is the steady state — per micro-batch cost is
    O(batch log batch) for the curve sort of ONE batch, zero reads of
    the store, zero shuffles beyond the per-segment write partitioning;
    at-least-once redelivery lands duplicate rows in the delta log and
    the compactor's union keeps them (the event store is
    delivery-grain, same as the version log; dedup is a downstream
    contract — see event_dedup_last_write_wins)."""
    from crm_etl_pipeline_spark import layout
    from crm_etl_pipeline_spark.io import table

    ev = table(spark, sf_dir, "events")
    if ev.isEmpty():
        return None
    anchor = ev.agg(F.min(F.to_date("ts")).alias("min_day"))
    curved = _curve_columns(ev, anchor)

    store = os.path.join(workdir, "events_zseg")
    layout.write_zordered_segments(
        curved.filter(F.col("day_idx") < 25), store, "zval", "seg"
    )

    # the raw wire columns of the live tail (the producer sends events,
    # not curve positions — day_idx/zval are recomputed at ingest)
    tail = curved.filter(F.col("day_idx") >= 25).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    if tail.isEmpty():
        # a <25-day corpus (const_ts sweep) has no live tail: the
        # bootstrap IS the store, nothing streams, nothing merges
        return store

    # four arrival files with monotone mtimes = deterministic
    # micro-batch order for the file source (raw wire columns — the
    # curve position is computed at ingest, not by the producer)
    arrivals = os.path.join(workdir, "arrivals")
    arrival_relay(tail, arrivals, pmod_chunks(F.col("event_id"), 4))

    delta_log = os.path.join(workdir, "delta_log")

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        # curve THIS batch against the store anchor and land it
        # seg-partitioned: the micro-batch touches only its own curve
        # segments' directories — the compactor's expected delta shape
        (
            _curve_columns(batch, anchor)
            .write.mode("append")
            .partitionBy("seg")
            .parquet(delta_log)
        )

    _drain(_arrival_stream(spark, arrivals), ingest_batch, os.path.join(workdir, "_checkpoint"))

    delta = spark.read.parquet(delta_log)
    layout.compact_zordered_increment(spark, store, delta, "zval", "seg")
    return store


#: chunk count for the document ingest-dedup harness
DEDUP_CHUNKS = 4


def dedup_arrival_chunk() -> Column:
    """Arrival-chunk assignment for the document ingest-dedup harness:
    ``pmod(coalesce(abs(doc_id), 0) div 7, 4)``. Deliberately NOT the
    raw pmod(doc_id, n) contract: the exact-dedup fixture fabricates
    clones at doc_id + DUP_OFFSET (100000, ≡ 0 mod 4), which raw pmod
    would land in the SAME chunk as their originals — the cross-batch
    store anti-join would never fire on any fixture. The div-7 fold
    scatters clone/original pairs across chunks (100000 div 7 varies
    with doc_id mod 7), so first-arrival-wins is genuinely exercised
    across micro-batch boundaries. abs+coalesce keeps the expression
    NULL-safe and nonnegative, which makes the oracle's ``// 7 ... % 4``
    read identically (floor and truncating integer division coincide on
    nonnegative operands — the pmod-vs-% hazard class)."""
    return F.pmod(
        F.expr("coalesce(abs(doc_id), 0) div 7"), F.lit(DEDUP_CHUNKS)
    ).cast("int")


def incremental_dedup_stream(
    spark: SparkSession, sf_dir: str, workdir: str
) -> str | None:
    """Ingest-time exact dedup — the streaming form of the corpus
    dedup stage every pretraining pipeline runs at the FRONT of the
    funnel (dedup_incremental_new_docs is its batch snapshot-delta
    twin; this closes the same semantics over a live arrival stream):
    documents arrive in micro-batches; each batch is deduplicated
    against itself AND against everything already accepted, and only
    first arrivals enter the store. FIRST-ARRIVAL-WINS is the real
    ingest-dedup contract (a batch recompute prefers min doc_id; an
    ingest gate cannot — it must decide as bytes arrive).

    Mechanics, mirroring the zorder_ingest harness: the exact-dedup
    corpus (fixture + fabricated clones) is re-laid as 4 arrival files
    with monotone mtimes (``dedup_arrival_chunk`` scatters
    clone/original pairs across chunks — see its docstring), drained by
    a real file-source readStream one file per micro-batch.
    ``foreachBatch``: (1) normalize + sha256 the batch (the
    exact_dedup_documents normalization, verbatim); (2) collapse the
    batch to one winner per content hash (min doc_id — within one
    chunk, arrival order has no sub-batch grain); (3) LEFT ANTI join
    against the store's accepted hashes; (4) append the survivors.
    Returns the store path (None for an empty corpus).

    Scale shape: per micro-batch cost is O(batch) for the hash +
    map-side-combined batch collapse, plus one hash-keyed anti-join
    against the accepted-hash store — the standard foreachBatch merge
    pattern (streaming_scd2_state's shape; a production store would
    back it with a MERGE-capable table format, same dataflow). The
    64-hex hash key is uniform by construction — no skew; store size
    is the DISTINCT corpus (the thing dedup exists to bound), never
    the arrival volume."""
    from crm_etl_pipeline_spark.queries.llmops import (
        _WS_CLASS,
        _casefold,
        _exact_corpus,
    )

    corpus = _exact_corpus(spark, sf_dir)
    if corpus.isEmpty():
        return None

    arrivals = os.path.join(workdir, "arrivals")
    arrival_relay(
        corpus.select("doc_id", "text"),
        arrivals,
        pmod_chunks(F.expr("coalesce(abs(doc_id), 0) div 7"), DEDUP_CHUNKS),
    )

    store = os.path.join(workdir, "dedup_store")
    normalized = _casefold(
        F.trim(F.regexp_replace(F.col("text"), "[" + _WS_CLASS + "]+", " "))
    )

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        winners = (
            batch.select(
                "doc_id",
                F.sha2(normalized, 256).alias("content_hash"),
                dedup_arrival_chunk().alias("arrival_chunk"),
            )
            .groupBy("content_hash")
            .agg(
                F.min("doc_id").alias("keep_doc_id"),
                F.min("arrival_chunk").alias("arrival_chunk"),
            )
        )
        if os.path.isdir(store):
            # NULL-SAFE anti-join: a NULL text hashes to a NULL
            # content_hash (one winner per batch), and a plain
            # equi-anti-join never matches NULL = NULL — every batch
            # would re-append its NULL-hash winner while the oracle's
            # window keeps exactly one (the null_text sweep class)
            accepted = spark.read.parquet(store).select(
                F.col("content_hash").alias("_acc_hash")
            )
            winners = winners.join(
                accepted,
                winners["content_hash"].eqNullSafe(accepted["_acc_hash"]),
                "left_anti",
            )
        # one file per append: every LATER batch's store anti-join
        # re-lists and re-opens the store, and winners (the batch's NEW
        # distinct hashes) are bounded by batch size
        _append_one_file(winners, store)

    _drain(_arrival_stream(spark, arrivals), dedup_batch, os.path.join(workdir, "_checkpoint"))
    return store if os.path.isdir(store) else None


def stream_static_enrichment(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Stream-static join — the remaining Structured Streaming join
    shape (stream-stream, windows, dedup, stateful ops and foreachBatch
    merges are covered elsewhere): the event stream LEFT-joined per
    micro-batch to the static customer dim, the continuous form of the
    reference's per-event referenced-item fetch
    (`PodioApiWrapper.py:68-69` resolves the app FK on every item it
    processes).

    The fixture is re-laid as 4 arrival files on
    ``pmod(coalesce(event_id, 0), 4)`` (the NULL/negative-safe chunk
    assignment, see ``pmod_chunks``) and streamed one file per
    micro-batch, so the static side is genuinely joined
    on FOUR separate micro-batches: Spark re-plans the join each
    trigger, which is what lets a REFRESHED dim table be picked up
    mid-stream without restarting the query. The join is stateless —
    no watermark, no state store: each micro-batch joins and emits.

    Scale: the dim side carries no broadcast hint, since customer grows
    with the data. The planner broadcasts it while its estimate fits
    the broadcast threshold, and a fact-scaled dim plans a shuffle
    join per micro-batch. The LEFT join keeps events whose user has no
    dim row yet (early events for late-created customers) flagged
    UNKNOWN instead of dropping them — the at-least-once-friendly
    posture. The dim passes through
    the same MIN-segment identity winner as the flagship: a collided
    c_custkey must not fan a micro-batch out (id_collision_customer
    contract).
    """
    from crm_etl_pipeline_spark.io import table

    src = os.path.join(workdir, "chunks")
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    arrival_relay(ev, src, pmod_chunks(F.col("event_id"), 4))
    dim = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_custkey").alias("user_id"))
        .agg(F.min("c_mktsegment").alias("segment"))
    )
    enriched = _arrival_stream(spark, src).join(dim, "user_id", "left").select(
        "event_id",
        "user_id",
        "event_type",
        F.coalesce(F.col("segment"), F.lit("UNKNOWN")).alias("segment"),
    )
    out = os.path.join(workdir, "enriched")

    def stamp_batch(batch: DataFrame, batch_id: int) -> None:
        # _batch_id is harness telemetry (the per-micro-batch re-plan
        # invariant tests assert on it); the registered query projects
        # it away, so the oracle never sees it
        batch.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    _drain(enriched, stamp_batch, os.path.join(workdir, "_checkpoint"))
    return out


def ivf_arrival_pred() -> Column:
    """Arrival split for the incremental-IVF harness: every vector
    whose (NULL-safe, nonnegative) id lands on residue 2 mod 5 arrives
    LIVE through the stream; the rest form the bootstrap corpus the
    codebook is trained on. abs+coalesce keeps the predicate NULL-safe
    and makes the oracle's ``%`` read identically (the pmod-vs-%%
    hazard class; a NULL vec_id bootstraps — it could never arrive
    through the id-sharded relay anyway)."""
    return F.pmod(
        F.coalesce(F.abs(F.col("vec_id")), F.lit(0)), F.lit(5)
    ) == F.lit(2)


def incremental_ivf_stream(spark: SparkSession, sf_dir: str, workdir: str) -> str | None:
    """Incremental IVF index maintenance — the serving-index half of
    the ingest story (the streaming_zorder_ingest pattern applied to
    ann_ivf_persisted_index):
    new vectors arrive in micro-batches, are assigned to the EXISTING
    cells of a bootstrap-trained codebook, and land as appends that
    touch only their cell partitions — the base index is never
    rewritten, and probe queries against the merged store return
    exactly what a one-shot batch assignment against the same codebook
    would (the invariance the oracle checks).

    Three stages, mirroring how a production IVF index runs:

    1. **Bootstrap (batch)** — vectors off the arrival residue
       (ivf_arrival_pred) train the per-label codebook
       (``_ivf_codebook``), and the assigned base index lands
       cell-partitioned (``partitionBy("cell")``), exactly the
       ann_ivf_persisted_index layout. The codebook is persisted as
       store METADATA — incremental maintenance must assign against
       the frozen codebook, not retrain it (retraining is a rebuild).
    2. **Live tail (stream)** — arrival vectors re-laid as 4 arrival
       files, drained by a real file-source readStream one file per
       micro-batch (4 genuine micro-batches).
       ``foreachBatch``: assign the batch against the broadcast frozen
       codebook, append partitioned by cell — each micro-batch writes
       ONLY the cell directories it touches, O(batch·k) work, zero
       reads of the base index on the hot path.
    3. **Serve** — the probe search runs against the merged store
       (see ann_ivf_incremental_index), dynamic-partition-pruned to
       the probes' cells like the persisted-index twin.

    Returns the store path (None for an empty bootstrap corpus — with
    no codebook there are no cells to assign arrivals to; the oracle's
    centroid CTE is empty too).

    Scale shape: steady state is stage 2 — per-batch cost is one
    broadcast of the k×d codebook + an argmin window partitioned by
    vec_id within the batch, then a cell-partitioned append. Cell
    drift (arrivals shifting the true centroids away from the frozen
    codebook) is the documented operational trade: production systems
    re-train + rebuild when recall decays (ann_recall_selfcheck is the
    monitor), exactly as this harness separates bootstrap from
    maintenance."""
    from crm_etl_pipeline_spark.queries.embeddings_q import (
        _emb,
        _fixed_norm2,
        _ivf_cell_inline,
        _ivf_codebook,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding", "label")
    boot = emb.filter(~ivf_arrival_pred())
    if boot.isEmpty():
        return None

    cb_dir = os.path.join(workdir, "codebook")
    _ivf_codebook(boot).write.mode("overwrite").parquet(cb_dir)
    codebook = spark.read.parquet(cb_dir)

    store = os.path.join(workdir, "ivf_index")

    def indexed(frame: DataFrame) -> DataFrame:
        # cell assignment is a projection (_ivf_cell_inline —
        # bit-identical argmin, see its docstring), so a micro-batch
        # pays no argmin-window shuffle and no payload re-join.
        # repartition("cell"): each append lands one file per touched
        # cell instead of one per (task × cell) — the store read-back
        # and the touched-cell contract are unchanged, the file count
        # is ~task-count times smaller (guide §6 small files).
        return _ivf_cell_inline(frame, codebook).select(
            "vec_id",
            "embedding",
            _fixed_norm2(F.col("embedding")).alias("n2"),
            "cell",
        ).repartition("cell")

    indexed(boot).write.mode("overwrite").partitionBy("cell").parquet(store)

    arrivals_dir = os.path.join(workdir, "arrivals")
    arrival_relay(
        emb.filter(ivf_arrival_pred()).select("vec_id", "embedding"),
        arrivals_dir,
        pmod_chunks(F.coalesce(F.abs(F.col("vec_id")), F.lit(0)), 4),
    )

    def index_batch(batch: DataFrame, batch_id: int) -> None:
        indexed(batch).write.mode("append").partitionBy("cell").parquet(store)

    _drain(_arrival_stream(spark, arrivals_dir), index_batch, os.path.join(workdir, "_checkpoint"))
    return store
