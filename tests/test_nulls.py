"""NULL-injection regressions (the GK-self-check bug class): columns
the driver fixtures never leave NULL — events.value, documents.text —
probed cross-engine where the two engines' NULL semantics diverged
before the symmetric guards landed."""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from crm_etl_pipeline_spark.registry import load_all

SF_DIR = "/root/testdata/sf0.01"
REGISTRY = load_all()


def _null_every_10th(tbl, col):
    vals = tbl.column(col).to_pylist()
    vals = [None if i % 10 == 3 else v for i, v in enumerate(vals)]
    return tbl.set_column(
        tbl.column_names.index(col), col, pa.array(vals, tbl.schema.field(col).type)
    )


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _assert_agree(spark, con, names):
    for name in names:
        q = REGISTRY[name]
        df = q.fn(spark, os.environ["_NULLFIX_DIR"])
        cols = sorted(df.columns)
        s = sorted("|".join(_canon(r[c]) for c in cols) for r in df.collect())
        res = con.execute(q.oracle)
        rnames = [d[0] for d in res.description]
        perm = [rnames.index(c) for c in sorted(rnames)]
        o = sorted("|".join(_canon(row[i]) for i in perm) for row in res.fetchall())
        assert s == o, f"{name} diverges on NULL-bearing input"


def test_null_values_keep_cross_engine_agreement(spark, tmp_path):
    """10% NULL event values: the EWMA previously diverged (pandas ewm
    carries state past a NaN; the recursive CTE's NULL poisoned every
    later step) — the contract is that a NULL observation is simply not
    part of the series, symmetric IS NOT NULL in both engines. The
    sibling stats queries must stay agreeing too."""
    fixture = pq.read_table(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "nullval")
    os.makedirs(out, exist_ok=True)
    pq.write_table(_null_every_10th(fixture, "value"), f"{out}/events.parquet")
    os.environ["_NULLFIX_DIR"] = out
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{out}/events.parquet')"
    )
    _assert_agree(spark, con, ["ewma_user_value", "event_value_anomalies",
                               "robust_outliers_mad", "winsorize_event_values"])
    con.close()
    # the contract itself: NULL observations are excluded, not emitted
    n_nonnull = sum(1 for v in _null_every_10th(fixture, "value").column("value").to_pylist() if v is not None)
    assert REGISTRY["ewma_user_value"].fn(spark, out).count() == n_nonnull


def test_null_text_reads_as_empty_document(spark, tmp_path):
    """10% NULL document text: chunking previously dropped NULL docs in
    Spark while the oracle emitted NULL-text chunks, and boilerplate
    removal dropped them in Spark while the oracle kept them at zero
    lines. The contract is NULL text == the empty document (symmetric
    COALESCE), so both behave exactly like the all-empty-text probe."""
    fixture = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "nulltext")
    os.makedirs(out, exist_ok=True)
    pq.write_table(_null_every_10th(fixture, "text"), f"{out}/documents.parquet")
    os.environ["_NULLFIX_DIR"] = out
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{out}/documents.parquet')"
    )
    _assert_agree(spark, con, ["chunk_documents", "boilerplate_line_removal"])
    con.close()
    # every document survives boilerplate removal, NULL-text ones at one
    # (empty) line — the empty-document shape, not an absence
    n_docs = fixture.num_rows
    assert REGISTRY["boilerplate_line_removal"].fn(spark, out).count() == n_docs


def _negate_every_10th(tbl, col):
    vals = tbl.column(col).to_pylist()
    vals = [-v if i % 10 == 3 and v is not None and v > 0 else v for i, v in enumerate(vals)]
    return tbl.set_column(
        tbl.column_names.index(col), col, pa.array(vals, tbl.schema.field(col).type)
    )


def test_negative_vec_ids_stay_in_kmeans(spark, tmp_path):
    """10% negative vec_ids: k-means training must assign every vector
    whatever the sign of its id. The centroid attach is an equi-join on
    a key that must be 1 on every row; a key derived from vec_id
    arithmetic (least(vec_id + 1, 1)) is not 1 for a negative id, so
    that vector would meet no centroid and silently fall out of
    embedding_kmeans and semantic_dedup while the oracles keep it."""
    fixture = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    out = str(tmp_path / "negvec")
    os.makedirs(out, exist_ok=True)
    mutated = _negate_every_10th(fixture, "vec_id")
    assert sum(1 for v in mutated.column("vec_id").to_pylist() if v < 0) > 0
    pq.write_table(mutated, f"{out}/embeddings.parquet")
    os.environ["_NULLFIX_DIR"] = out
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{out}/embeddings.parquet')"
    )
    _assert_agree(spark, con, ["embedding_kmeans", "semantic_dedup"])
    con.close()
    assert REGISTRY["embedding_kmeans"].fn(spark, out).count() == fixture.num_rows
