"""Seeded benchmark inputs and their expected outputs.

Tables come from ``tools/gen_scale.py``'s ``gen_*`` builders driven by
the benchmark's own ``numpy`` generator, so a (scale factor, seed)
pair always yields the same bytes. ``gen_scale.main`` pins seed 42;
calling the builders directly is what lets ``--seed`` vary the data.
Only the four tables the workloads read are built: ``customer``,
``orders``, ``lineitem`` and ``events``.

Expected outputs are computed once per input set with DuckDB from the
registry's oracle SQL and kept next to the tables:

- ``dlq.parquet``: the converged DLQ after run + drain + replay, in the
  closed form the ``streaming_dlq_replay`` oracle states;
- ``current.parquet``: the ``_STORE_SQL`` current rows;
- ``manifest.json``: row and byte counts per table and the closed-form
  drain and replay pass counts;
- ``queries.json``: each headline query's oracle result (row count,
  type families, hash of the canonical rows), made on first use.

Inputs are cached under ``perfbench/_work/inputs/sf<SF>-seed<N>``.
Only the most recent few sets are kept, so a run of many seeds does
not fill the disk.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
INPUTS = os.path.join(WORK, "inputs")
KEEP_SETS = 16

#: every table a workload reads; the other fixture tables are never read
TABLES = ("customer", "orders", "lineitem", "events")

def _gen_scale():
    spec = importlib.util.spec_from_file_location(
        "gen_scale", os.path.join(ROOT, "tools", "gen_scale.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_tables(sf: float, seed: int, out: str) -> None:
    gs = _gen_scale()
    rng = np.random.default_rng(seed)
    tables = {
        "customer": gs.gen_customer(rng, int(150_000 * sf)),
        "orders": gs.gen_orders(rng, int(1_500_000 * sf), int(150_000 * sf)),
        "lineitem": gs.gen_lineitem(rng, int(1_500_000 * sf)),
        "events": gs.gen_events(rng, int(1_000_000 * sf), int(15_000 * sf)),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"), store_schema=True)


def _duckdb(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cdc_expected(out: str) -> dict:
    """CDC oracle outputs from the registry's own SQL, run by DuckDB."""
    from crm_etl_pipeline_spark.queries.scd_q import _STORE_SQL
    from crm_etl_pipeline_spark.registry import load_all
    from crm_etl_pipeline_spark.streaming import DLQ_THRESHOLD

    dlq_sql = load_all()["streaming_dlq_replay"].oracle
    con = _duckdb(out)
    try:
        con.execute(
            f"COPY (SELECT * FROM ({dlq_sql}) ORDER BY event_id) "
            f"TO '{os.path.join(out, 'dlq.parquet')}' (FORMAT parquet)"
        )
        con.execute(
            f"COPY ({_STORE_SQL} SELECT item_id, event_id, ts, value FROM v "
            f"WHERE is_current ORDER BY item_id) "
            f"TO '{os.path.join(out, 'current.parquet')}' (FORMAT parquet)"
        )
        first = "CAST(FLOOR(value) AS INT) % 12 + 1"
        n_err, min_queued = con.execute(
            f"SELECT COUNT(*), MIN(CASE WHEN {first} < {DLQ_THRESHOLD} THEN {first} END) "
            "FROM events WHERE event_type = 'error'"
        ).fetchone()
    finally:
        con.close()
    # drain: a queued failure gains one attempt per pass and the loop
    # stops on the pass that requeues nothing; replay restarts every
    # DLQ entry from attempt 0, so it always takes DLQ_THRESHOLD passes
    retry_passes = 0 if min_queued is None else DLQ_THRESHOLD - min_queued
    replay_passes = DLQ_THRESHOLD if n_err else 0
    return {
        "error_events": n_err,
        "retry_passes": retry_passes,
        "replay_passes": replay_passes,
        "triggers": 1 + retry_passes + replay_passes,
    }


def query_digests(sf_dir: str) -> dict:
    """Each headline query's oracle result for one input set (row count,
    type families, hash of the canonical rows), computed on first use
    and kept in ``queries.json``."""
    path = os.path.join(sf_dir, "queries.json")
    if not os.path.exists(path):
        from crm_etl_pipeline_spark.registry import load_all

        from perfbench.workloads import oracle_digests

        con = _duckdb(sf_dir)
        try:
            digests = oracle_digests(con, load_all())
        finally:
            con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(digests, f, indent=1)
        os.rename(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def _table_stats(out: str) -> dict:
    stats = {}
    for name in TABLES:
        path = os.path.join(out, f"{name}.parquet")
        stats[name] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return stats


def _evict(keep: str) -> None:
    sets = sorted(
        (os.path.join(INPUTS, d) for d in os.listdir(INPUTS) if d != os.path.basename(keep)),
        key=os.path.getmtime,
        reverse=True,
    )
    for stale in sets[KEEP_SETS - 1 :]:
        shutil.rmtree(stale, ignore_errors=True)


def ensure(sf: float, seed: int) -> tuple[str, dict]:
    """Return ``(sf_dir, manifest)`` for one input set, generating it
    on first use. ``manifest`` holds the table stats, the expected
    pass counts and the generation time (not part of any timed
    metric)."""
    out = os.path.join(INPUTS, f"sf{sf:g}-seed{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest_path):
        t0 = time.perf_counter()
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write_tables(sf, seed, tmp)
        manifest = {
            "sf": sf,
            "seed": seed,
            "tables": _table_stats(tmp),
            "expected": _cdc_expected(tmp),
            "generate_s": time.perf_counter() - t0,
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    os.utime(out)
    _evict(out)
    with open(manifest_path) as f:
        return out, json.load(f)
