"""Driver-visible Structured Streaming queries (SURVEY §2.7 ST1–ST6):
each runs a bounded (availableNow) stream end-to-end, then returns the
materialized result as a batch DataFrame — so the driver's DuckDB
oracle can verify the CONVERGED state of the stream, not just row
counts. The convergence itself (streaming == batch on the same input)
is what makes the oracles below valid: they are the batch SQL for the
state the stream must reach.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crm_etl_pipeline_spark import scd, streaming, tmpdirs
from crm_etl_pipeline_spark.queries.gateway_q import _ADMISSION_SQL
from crm_etl_pipeline_spark.queries.layout_q import ZCURVE_ORACLE_SQL
from crm_etl_pipeline_spark.queries.llmops import _EXACT_CORPUS_SQL, _WS_CLASS
from crm_etl_pipeline_spark.queries.scd_q import _STORE_SQL
from crm_etl_pipeline_spark.registry import query


@query(
    "streaming_scd2_state",
    oracle=_STORE_SQL
    + """
    SELECT item_id, event_id, ts, value, version
    FROM v WHERE is_current
    """,
    survey="S7,ST1-ST3 (readStream → foreachBatch SCD2 merge; PodioApiGateway.py:111-195)",
)
def streaming_scd2_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full streaming pipeline (readStream → filter →
    foreachBatch append-merge/completed/DLQ, availableNow) and return
    the current view of the resulting version log — which must equal
    the batch SCD2 replay, verified by the same window oracle. The log
    is append-only (O(batch) per micro-batch, history files never
    rewritten); version/is_current derive merge-on-read."""
    paths = streaming.run_pipeline(
        spark, sf_dir, workdir=tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "scd2")
    )
    store = streaming.read_converged_store(spark, str(paths["store"]))
    return scd.current_view(store).select("item_id", "event_id", "ts", "value", "version")


@query(
    "streaming_tumbling_counts",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    survey="ST5 + watermark windows (event-time tumbling agg over the stream)",
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time tumbling windows, drained availableNow in
    complete mode: over bounded input the final window table equals the
    batch GROUP BY date_trunc — same oracle as tumbling_daily_counts."""
    out = os.path.join(tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "win"), "counts")
    streaming.windowed_counts_stream(spark, sf_dir, out)
    return spark.read.parquet(out)


@query(
    "streaming_dlq",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(FLOOR(value) AS INT) % 12 + 1 AS failed_attempts
    FROM events
    WHERE event_type = 'error' AND CAST(FLOOR(value) AS INT) % 12 + 1 >= {streaming.DLQ_THRESHOLD}
    """,
    survey="ST4,F6 (dead-letter routing at failed_attempts >= 10; PodioApiGateway.py:157-159)",
)
def streaming_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter queue contents after the bounded run: every error
    event whose derived failed_attempts crossed the threshold."""
    paths = streaming.run_pipeline(
        spark, sf_dir, workdir=tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "dlq")
    )
    return streaming.read_dlq(spark, paths, sf_dir).select(
        "event_id", "user_id", "failed_attempts"
    )


@query(
    "streaming_requeue",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN CAST(FLOOR(value) AS INT) % 12 + 1 >= 10
                THEN CAST(FLOOR(value) AS INT) % 12 + 1
                ELSE 10 END AS failed_attempts,
           CASE WHEN CAST(FLOOR(value) AS INT) % 12 + 1 >= 10
                THEN 0
                ELSE 10 - (CAST(FLOOR(value) AS INT) % 12 + 1) END AS n_retries
    FROM events WHERE event_type = 'error'
    """,
    survey="L7,ST3 (retry requeue loop to convergence; PodioApiGateway.py:153-159)",
)
def streaming_requeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-least-once retry loop drained to convergence: failures
    under the threshold re-enter the retry queue with the counter
    incremented (never dropped) and are re-attempted by checkpointed
    availableNow passes over the queue until every one dead-letters at
    the threshold. Converged DLQ = EVERY error event, with
    failed_attempts = max(first_attempts, 10) and n_retries counting
    the requeue hops — the oracle states that closed form."""
    paths = streaming.run_pipeline(
        spark, sf_dir, workdir=tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "requeue")
    )
    streaming.drain_retry_queue(spark, paths)
    return streaming.read_dlq(spark, paths, sf_dir).select(
        "event_id",
        "user_id",
        "failed_attempts",
        (F.col("failed_attempts") - streaming.first_attempts()).alias("n_retries"),
    )


@query(
    "streaming_dlq_replay",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(2 AS BIGINT) AS generations,
           GREATEST(CAST(FLOOR(value) AS INT) % 12 + 1, {streaming.DLQ_THRESHOLD})
               AS final_attempts,
           CAST({streaming.DLQ_THRESHOLD} AS INT) AS replay_attempts
    FROM events WHERE event_type = 'error'
    """,
    survey="ST4,L7 stretch (DLQ replay re-drive; PodioApiGateway.py:157-159 'email admin')",
)
def streaming_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The human re-drive loop behind the reference's "email admin"
    stub, as an operator: after the converged run, every dead-lettered
    event is re-enqueued with attempts reset to 0 and the retry queue
    drained back to fixpoint. Deterministic replay has no
    success-on-retry signal, so each event dead-letters a second time
    at exactly DLQ_THRESHOLD; the DLQ being an append log, the
    converged closed form per error event is 2 generations, original
    max(first_attempts, 10), replay exactly 10 — which the oracle
    states over the raw events table."""
    paths = streaming.run_pipeline(
        spark, sf_dir, workdir=tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "replay")
    )
    streaming.drain_retry_queue(spark, paths)
    streaming.replay_dlq(spark, paths)
    return (
        streaming.read_dlq(spark, paths, sf_dir)
        .groupBy("event_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("generations"),
            F.max("failed_attempts").alias("final_attempts"),
            F.min("failed_attempts").alias("replay_attempts"),
        )
    )


@query(
    "streaming_stream_stream_join",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, c.click_id, p.user_id
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
     AND c.click_ts < p.purchase_ts
    """,
    survey="ST-joins (watermarked stream-stream interval join, bounded state)",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click and purchase streams inner-joined on user within the hour
    before each purchase, both sides watermarked so buffered state is
    purged as event time advances. Under an availableNow drain the
    appended sink converges to exactly the batch interval join — the
    oracle — because an inner stream-stream join emits each pair once
    when both rows have arrived and never retracts."""
    out = os.path.join(tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "ssjoin"), "pairs")
    streaming.stream_stream_join(spark, sf_dir, out)
    return spark.read.parquet(out).select("purchase_id", "click_id", "user_id")


@query(
    "streaming_stateful_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000 OR
                       LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered GROUP BY user_id, session_id
    """,
    survey="ST-windows custom stateful op (applyInPandasWithState sessionization)",
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as a custom stateful streaming operator: per-user
    GroupState carries the open session across micro-batches, pandas
    vectorizes within the batch. The converged output equals the batch
    lag/cumsum sessionization — verified by the same window oracle."""
    out = os.path.join(tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "sess"), "sessions")
    streaming.stateful_sessionization(spark, sf_dir, out)
    return streaming.read_sessions(spark, out).select(
        "user_id", "session_id", "n_events", "session_start", "session_end"
    )


@query(
    "streaming_moments_anomalies",
    oracle="""
    WITH moments AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS s1,
             -- widened factor + VARCHAR-routed casts: see the batch
             -- twin event_value_anomalies (extreme_values probe)
             SUM(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(19,2))
                 * CAST(value AS DECIMAL(18,2))) AS s2
      FROM events GROUP BY event_type
    ), stats AS (
      SELECT event_type, n,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n AS mean_val,
             -- greatest(0, ·): symmetric variance-residual clamp (see the
             -- batch twin event_value_anomalies / the const_values probe)
             sqrt(greatest(0, CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n
                  - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n))) AS sd_val
      FROM moments
    )
    SELECT event_id, e.event_type, value,
           CASE WHEN sd_val = 0 THEN 0.0
                ELSE (value - mean_val) / sd_val END AS zscore,
           CASE WHEN sd_val = 0 THEN FALSE
                ELSE abs((value - mean_val) / sd_val) > 3.0 END AS is_anomaly
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
    survey="ST1-ST3 + §2.9 profiling (incremental moment state across micro-batches → converged z-scores)",
)
def streaming_moments_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events through a complete-mode stateful aggregation
    (4 micro-batches, one input file each) accumulating exact
    DECIMAL moments per event type, then score every event against the
    CONVERGED moments — which must equal the single-pass batch twin
    ``event_value_anomalies`` exactly, proving the moment state merges
    losslessly across micro-batches. Same oracle as the batch twin."""
    from crm_etl_pipeline_spark.io import table

    out = streaming.moments_stream(
        spark, sf_dir, tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "moments")
    )
    moments = spark.read.parquet(out)
    mean = F.col("s1").cast("double") / F.col("n")
    stats = moments.select(
        "event_type",
        mean.alias("mean_val"),
        # greatest(0, ·): clamp the variance residual symmetrically with
        # the oracle (DuckDB sqrt raises on a -1e-18 residual; Spark NaNs)
        F.sqrt(
            F.greatest(F.lit(0.0), F.col("s2").cast("double") / F.col("n") - mean * mean)
        ).alias("sd_val"),
    )
    # zero-dispersion guard, identical to the batch twin
    # event_value_anomalies: sd == 0 defines z = 0 and flags nothing
    z = F.when(F.col("sd_val") == 0, F.lit(0.0)).otherwise(
        (F.col("value") - F.col("mean_val")) / F.col("sd_val")
    )
    return (
        table(spark, sf_dir, "events")
        .join(stats, "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            z.alias("zscore"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


@query(
    "streaming_rate_limit",
    # the batch oracle VERBATIM: batch and stream must converge to the
    # same hourly ledger
    oracle=_ADMISSION_SQL,
    survey="ST3,ST7 + §2.7 gateway (cross-batch stateful rate limiting via applyInPandasWithState)",
)
def streaming_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gateway_q admission ledger as TRUE streaming state: the
    event log arrives in 4 time-ordered micro-batches, a per-hour
    GroupState carries the saturated per-minute counters and the
    hour's minute-admitted count across batches, and every decision is
    appended immutably. The converged hourly ledger must equal the
    batch query's — the oracle IS gateway_q._ADMISSION_SQL verbatim,
    so the hash match proves batch/stream equivalence of the nested
    greedy decomposition under state carry-over (hours spanning chunk
    boundaries genuinely exercise it).

    Scale shape: state is one 124-byte row per open hour key (the
    watermark analog: close hours older than the limiter horizon and
    state stays O(open hours)); decisions append without merge because
    admission is irrevocable — an at-least-once sink dedups on
    event_id if replays occur."""
    out = streaming.rate_limit_stream(
        spark, sf_dir, tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "ratelimit")
    )
    dec = spark.read.parquet(out)
    return (
        dec.groupBy(F.timestamp_micros(F.col("hour_us")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum(F.col("admitted").cast("bigint")).alias("n_admitted"),
            F.sum(F.when(F.col("reason") == "minute_cap", 1).otherwise(0)).alias(
                "n_minute_throttled"
            ),
            F.sum(F.when(F.col("reason") == "hour_cap", 1).otherwise(0)).alias(
                "n_hour_throttled"
            ),
        )
    )


@query(
    "streaming_late_data_audit",
    oracle="""
    WITH e AS (
      SELECT ts, substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS h
      FROM events
    ), wm AS (
      SELECT MAX(CASE WHEN h < '6' THEN ts END) - INTERVAL 1 HOUR AS wm1,
             MAX(ts) - INTERVAL 1 HOUR AS wm_final
      FROM e
    ), perday AS (
      SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
             COUNT(*) AS n_batch,
             CAST(SUM(CASE WHEN e.h < 'b'
                             OR date_trunc('day', e.ts) + INTERVAL 1 DAY > wm.wm1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_stream
      FROM e, wm
      GROUP BY date_trunc('day', e.ts), wm.wm1
    )
    SELECT p.day, p.n_stream, p.n_batch,
           p.n_batch - p.n_stream AS n_late_dropped
    FROM perday p, wm
    WHERE p.day + INTERVAL 1 DAY <= wm.wm_final
    """,
    survey="ST5/ST6 (watermark late-data accounting: measured drop per finalized window)",
)
def streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified watermark loss: replay events as three deterministic
    arrival waves through an append-mode 1-day/1-hour-watermark window
    aggregation, then reconcile the finalized sink against the batch
    truth — per finalized day: rows the stream counted, rows the batch
    counts, and rows DROPPED because they arrived after their window
    was evicted. The oracle is the closed-form model of the pinned
    watermark semantics (see streaming.late_arrival_audit_stream), so
    the drop counts themselves are value-hashed, not just bounded —
    the accounting a production pipeline's reconciliation job runs to
    decide whether a lateness bound is costing data."""
    from crm_etl_pipeline_spark.io import table

    out = streaming.late_arrival_audit_stream(
        spark, sf_dir, workdir=tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "lateaudit")
    )
    stream_counts = spark.read.parquet(out).select(
        F.col("w.start").alias("day"), "n_stream"
    )
    batch_counts = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_batch"))
    )
    # the sink holds only finalized windows; inner join keeps exactly
    # those, mirroring the oracle's wm_final emission filter
    return stream_counts.join(batch_counts, "day").select(
        "day",
        "n_stream",
        "n_batch",
        (F.col("n_batch") - F.col("n_stream")).alias("n_late_dropped"),
    )


@query(
    "streaming_zorder_ingest",
    # the batch twin's oracle VERBATIM (layout_q.ZCURVE_ORACLE_SQL):
    # the store state is defined by the rows and the anchor, never by
    # which ingest path carried them — micro-batches must converge to
    # the same curve as batch chunks
    oracle=ZCURVE_ORACLE_SQL,
    survey="S7/ST1/L5 streaming ingest into the Z-ordered store (readStream -> seg-partitioned foreachBatch deltas -> incremental curve compaction; PodioApiGateway.py:111-137)",
)
def streaming_zorder_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the Z-ordered store.
    ``zorder_incremental_compact`` proves the merge; this query closes
    the loop upstream — the live tail arrives through a REAL
    file-source readStream in four micro-batches, each curved
    against the store's fixed anchor inside ``foreachBatch`` and landed
    as segment-partitioned delta files (only the touched curve
    segments' directories), then one incremental compaction folds the
    accumulated delta. The read-back must hash-equal the batch twin's
    oracle — ingest-path invariance is the contract under test.

    Scale shape (the steady state is stage 2): per micro-batch cost is
    O(batch) — curve arithmetic is per-row column algebra against a
    broadcast one-row anchor, the write sorts one batch, and the base
    store is never read on the hot path. Compaction cadence is a knob
    (here: once after the drain; in production: when a segment's delta
    file count crosses the small-file budget), and its cost is the
    touched segments' data, never the store size."""
    store = streaming.zorder_ingest_stream(
        spark, sf_dir, tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "zingest")
    )
    if store is None:
        # empty-in/empty-out contract, mirroring the batch twin
        return spark.createDataFrame(
            [],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, day_idx int, zval long, seg int",
        )
    return spark.read.parquet(store).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.col("day_idx").cast("int").alias("day_idx"),
        "zval",
        F.col("seg").cast("int").alias("seg"),
    )


@query(
    "streaming_dim_enrichment",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           COALESCE(c.segment, 'UNKNOWN') AS segment
    FROM events e
    LEFT JOIN (SELECT c_custkey AS user_id, MIN(c_mktsegment) AS segment
               FROM customer GROUP BY c_custkey) c
      ON e.user_id = c.user_id
    """,
    survey="ST-joins/J2 (stream-static dim enrichment; PodioApiWrapper.py:68-69 per-event FK resolve)",
)
def streaming_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event stream LEFT-joined to the static customer dim across 4
    genuine micro-batches (stateless stream-static join, re-planned per
    trigger). Converges to exactly the batch left join — the oracle —
    because a stateless join emits each event once, enriched with
    whatever the dim held at its micro-batch; events with no dim row
    surface as UNKNOWN instead of dropping (at-least-once posture).
    Dim goes through the flagship's MIN-segment identity winner, so a
    collided custkey cannot fan a micro-batch out."""
    out = streaming.stream_static_enrichment(
        spark, sf_dir, tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "dimjoin")
    )
    return spark.read.parquet(out).select("event_id", "user_id", "event_type", "segment")


@query(
    "streaming_incremental_dedup",
    oracle=f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL}),
    hashed AS (
      SELECT doc_id,
             sha256(lower(trim(regexp_replace(text, '[{_WS_CLASS}]+', ' ', 'g')))) AS content_hash,
             CAST((COALESCE(ABS(doc_id), 0) // 7) % 4 AS INT) AS arrival_chunk
      FROM corpus
    ),
    ranked AS (
      SELECT content_hash, doc_id, arrival_chunk,
             -- doc_id NULLS LAST spelled, not defaulted: the Spark
             -- side's per-batch winner is F.min(doc_id), which IGNORES
             -- NULLs — a NULL-id row must lose to any non-NULL id in
             -- its chunk (DuckDB's ASC default happens to coincide,
             -- but the contract is explicit; round-13 ADVICE).
             -- arrival_chunk is COALESCE-built above, never NULL.
             ROW_NUMBER() OVER (PARTITION BY content_hash
                                ORDER BY arrival_chunk, doc_id NULLS LAST) AS rn
      FROM hashed
    )
    SELECT content_hash, doc_id AS keep_doc_id, arrival_chunk
    FROM ranked WHERE rn = 1
    """,
    survey="S7/ST1/ST6 x §2.9 exact dedup (ingest-time first-arrival dedup: "
    "readStream -> per-batch hash collapse -> store anti-join -> append)",
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact dedup over a live document stream — the
    streaming crossover of the §2.9 dedup family (exact_dedup_documents
    is the batch recompute, dedup_incremental_new_docs the snapshot-
    delta form; this is the FRONT-of-funnel gate that decides as bytes
    arrive). Four genuine micro-batches drain the exact-dedup corpus
    (fixture + fabricated clones, scattered across chunks so the
    cross-batch store anti-join genuinely fires — see
    streaming.dedup_arrival_chunk); each batch collapses to one winner
    per content hash and only hashes the store has never accepted get
    appended. FIRST-ARRIVAL-WINS: the converged store equals the batch
    window the oracle runs (partition by hash, order by arrival chunk
    then doc_id) — an ingest gate's survivor is the earliest arrival,
    NOT the global min doc_id a batch recompute would pick. The NULL
    text hash rides a null-safe anti-join (one NULL-hash winner
    globally, not one per batch). Per-batch cost is O(batch) + one
    uniform-key anti-join against the accepted store; store size is
    the distinct corpus, never the arrival volume."""
    store = streaming.incremental_dedup_stream(
        spark, sf_dir, tmpdirs.sf_scoped("crm_etl_stream", sf_dir, "incdedup")
    )
    if store is None:
        return spark.createDataFrame(
            [], "content_hash string, keep_doc_id long, arrival_chunk int"
        )
    return spark.read.parquet(store).select(
        "content_hash", "keep_doc_id", "arrival_chunk"
    )
