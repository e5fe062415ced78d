"""The two benchmark workloads: one pass of each, and its output check.

A CDC pass is the reference's event loop (webhook → queue → worker →
SCD2) through the public ``streaming`` functions, in this order:
``run_pipeline(drain_retries=False)``, ``drain_retry_queue``,
``replay_dlq``, ``compact_store``, ``current_view_merged(...).count()``.

An analytics pass runs the CRM headline queries from the registry,
each built by its registered callable and executed into Spark's
``noop`` sink.

Every public call is one operation, run inside its own span. A check
failure marks the operation whose output it checks as failed.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from crm_etl_pipeline_spark import streaming

from perfbench.trace import plan_phases_ms

CDC_STEPS = (
    "streaming.run_pipeline",
    "streaming.drain_retry_queue",
    "streaming.replay_dlq",
    "streaming.compact_store",
    "streaming.current_view_merged",
)
QUERIES = (
    "flagship_segment_revenue",
    "pricing_summary",
    "topk_orders_by_revenue",
    "filtered_scan",
    "event_dedup_last_write_wins",
    "latest_order_per_customer",
    "sessionization",
    "typed_field_decode",
    "scd2_versioned_store",
    "asof_join_latest_order",
)


class OpFailed(Exception):
    """An operation raised; the rest of its pass cannot run."""


class Ops:
    """Counts attempted and failed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def call(self, spans, name: str, fn, *args, **kwargs):
        self.attempted += 1
        with spans.span(name):
            try:
                return fn(*args, **kwargs)
            except Exception as exc:  # any program error fails the op
                self.failed.append(f"{name}: {type(exc).__name__}: {exc}")
                raise OpFailed(name) from exc

    def fail(self, name: str, why: str) -> None:
        self.failed.append(f"{name}: {why}")


# ----------------------------------------------------------------- CDC


def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def cdc_pass(spark, sf_dir: str, workdir: str, spans, ops: Ops) -> dict:
    """One CDC pass into a fresh ``workdir``; returns what it produced."""
    paths = ops.call(
        spans, CDC_STEPS[0], streaming.run_pipeline, spark, sf_dir, workdir=workdir
    )
    retry = ops.call(spans, CDC_STEPS[1], streaming.drain_retry_queue, spark, paths)
    replay = ops.call(spans, CDC_STEPS[2], streaming.replay_dlq, spark, paths)
    base = os.path.join(workdir, "base")
    ops.call(spans, CDC_STEPS[3], streaming.compact_store, spark, str(paths["store"]), base)
    rows = ops.call(
        spans,
        CDC_STEPS[4],
        lambda: streaming.current_view_merged(spark, base, str(paths["store"])).count(),
    )
    return {"paths": paths, "base": base, "retry_passes": retry, "replay_passes": replay, "rows": rows}


def cdc_storage(out: dict, input_bytes: int) -> dict[str, float]:
    """File counts and sizes the pass left behind."""
    paths = out["paths"]
    store_n, store_b = _files(str(paths["store"]))
    dlq_n, dlq_b = _files(str(paths["dlq"]))
    queue_n, queue_b = _files(str(paths["retry_queue"]))
    base_n, base_b = _files(out["base"])
    _, done_b = _files(str(paths["completed"]))
    written = store_b + dlq_b + queue_b + base_b + done_b
    return {
        "store.files": store_n,
        "store.bytes": store_b,
        "dlq.files": dlq_n,
        "retry_queue.files": queue_n,
        "base.files": base_n,
        "write_amplification": written / input_bytes,
    }


def _same(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for col in want.columns:
        a, b = got[col].to_numpy(), want[col].to_numpy()
        if np.issubdtype(b.dtype, np.datetime64):
            a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
        elif np.issubdtype(b.dtype, np.integer):
            a = a.astype(np.int64)
            b = b.astype(np.int64)
        if not np.array_equal(a, b):
            bad = int(np.flatnonzero(a != b)[0])
            return f"column {col} differs first at row {bad}: {a[bad]!r} != {b[bad]!r}"
    return None


def cdc_check(spark, sf_dir: str, out: dict, expected: dict, ops: Ops) -> None:
    """Check one pass against the closed forms computed for its seed
    (kept in ``sf_dir`` next to the inputs). Each step whose output is
    wrong counts as one failed operation."""
    wrong: dict[str, list[str]] = {}
    for key, step in (("retry_passes", CDC_STEPS[1]), ("replay_passes", CDC_STEPS[2])):
        if out[key] != expected[key]:
            wrong.setdefault(step, []).append(f"{key}={out[key]}, closed form {expected[key]}")
    dlq = (
        streaming.read_dlq(spark, out["paths"], sf_dir)
        .groupBy("event_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("generations"),
            F.max("failed_attempts").alias("final_attempts"),
            F.min("failed_attempts").alias("replay_attempts"),
        )
        .toPandas()
        .sort_values("event_id", ignore_index=True)
    )
    why = _same(dlq, pd.read_parquet(os.path.join(sf_dir, "dlq.parquet")))
    if why:
        wrong.setdefault(CDC_STEPS[2], []).append(f"DLQ {why}")
    current = (
        streaming.current_view_merged(spark, out["base"], str(out["paths"]["store"]))
        .select("item_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values("item_id", ignore_index=True)
    )
    want = pd.read_parquet(os.path.join(sf_dir, "current.parquet"))
    why = _same(current, want)
    if why is None and out["rows"] != len(want):
        why = f"count() {out['rows']}, expected {len(want)}"
    if why:
        wrong.setdefault(CDC_STEPS[4], []).append(f"current view {why}")
    for step, reasons in wrong.items():
        ops.fail(step, "; ".join(reasons))


# ----------------------------------------------------------- analytics


@functools.cache
def _conftest():
    """``tests/conftest.py``, the suite's canonical oracle comparison."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(root, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_digest(cols: list[str], types: list[str], rows: list[tuple]) -> dict:
    """Row count, type families and a hash of the canonical rows, as
    ``tests/conftest.py``'s ``compare_query`` compares them."""
    ct = _conftest()
    h = hashlib.sha256()
    for line in ct.rows_canonical(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return {
        "rows": len(rows),
        "families": {c: ct._family(t) for c, t in sorted(zip(cols, types))},
        "sha256": h.hexdigest(),
    }


def oracle_digests(con, registry: dict) -> dict[str, dict]:
    """Expected result of every headline query, from its DuckDB oracle."""
    out = {}
    for name in QUERIES:
        rel = con.sql(registry[name].oracle)
        types = [str(t) for t in rel.types]
        res = con.execute(registry[name].oracle)
        cols = [d[0] for d in res.description]
        out[name] = result_digest(cols, types, res.fetchall())
    return out


def analytics_check_pass(spark, sf_dir: str, registry: dict, expected: dict, spans, ops: Ops) -> None:
    """Untimed warm-up pass: collect every query and compare it with its
    oracle."""
    for name in QUERIES:
        def collect(name=name):
            df = registry[name].fn(spark, sf_dir)
            return df.columns, [t for _, t in df.dtypes], [tuple(r) for r in df.collect()]

        cols, types, got = ops.call(spans, f"queries.{name}", collect)
        digest = result_digest(cols, types, got)
        if digest != expected[name]:
            want = expected[name]
            ops.fail(
                f"queries.{name}",
                f"{digest['rows']} rows vs oracle {want['rows']}, families "
                f"{digest['families'] == want['families']}, hash {digest['sha256'] == want['sha256']}",
            )


def analytics_pass(spark, sf_dir: str, registry: dict, spans, ops: Ops, traced: bool) -> dict:
    """One timed pass: build each query, then run it into the noop
    sink. A traced pass also reads each plan's Catalyst phase times and
    returns ``{name: (frame, plan_ms)}``."""
    out = {}
    for name in QUERIES:
        def run(name=name):
            with spans.span(f"queries.{name}.build"):
                df = registry[name].fn(spark, sf_dir)
            if traced:
                with spans.span(f"queries.{name}.plan"):
                    out[name] = (df, plan_phases_ms(df))
            with spans.span(f"queries.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()

        ops.call(spans, f"queries.{name}", run)
    return out
