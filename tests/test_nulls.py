"""NULL-injection regressions (the GK-self-check bug class): columns
the driver fixtures never leave NULL — events.value, documents.text —
probed cross-engine where the two engines' NULL semantics diverged
before the symmetric guards landed."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from crm_etl_pipeline_spark.registry import load_all

from tests.conftest import compare_query, duck_views, write_fixture

SF_DIR = "/root/testdata/sf0.01"
REGISTRY = load_all()


def _null_every_10th(tbl, col):
    vals = tbl.column(col).to_pylist()
    vals = [None if i % 10 == 3 else v for i, v in enumerate(vals)]
    return tbl.set_column(
        tbl.column_names.index(col), col, pa.array(vals, tbl.schema.field(col).type)
    )


def _assert_agree(spark, out, names):
    with duck_views(out) as con:
        for name in names:
            compare_query(con, REGISTRY[name], REGISTRY[name].fn(spark, out))


def test_null_values_keep_cross_engine_agreement(spark, tmp_path):
    """10% NULL event values: the EWMA previously diverged (pandas ewm
    carries state past a NaN; the recursive CTE's NULL poisoned every
    later step) — the contract is that a NULL observation is simply not
    part of the series, symmetric IS NOT NULL in both engines. The
    sibling stats queries must stay agreeing too."""
    events = _null_every_10th(pq.read_table(f"{SF_DIR}/events.parquet"), "value")
    out = write_fixture(tmp_path / "nullval", events=events)
    _assert_agree(spark, out, ["ewma_user_value", "event_value_anomalies",
                               "robust_outliers_mad", "winsorize_event_values"])
    # the contract itself: NULL observations are excluded, not emitted
    n_nonnull = events.num_rows - events.column("value").null_count
    assert REGISTRY["ewma_user_value"].fn(spark, out).count() == n_nonnull


def test_null_text_reads_as_empty_document(spark, tmp_path):
    """10% NULL document text: chunking previously dropped NULL docs in
    Spark while the oracle emitted NULL-text chunks, and boilerplate
    removal dropped them in Spark while the oracle kept them at zero
    lines. The contract is NULL text == the empty document (symmetric
    COALESCE), so both behave exactly like the all-empty-text probe."""
    fixture = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = write_fixture(tmp_path / "nulltext", documents=_null_every_10th(fixture, "text"))
    _assert_agree(spark, out, ["chunk_documents", "boilerplate_line_removal"])
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
    mutated = _negate_every_10th(fixture, "vec_id")
    assert sum(1 for v in mutated.column("vec_id").to_pylist() if v < 0) > 0
    out = write_fixture(tmp_path / "negvec", embeddings=mutated)
    _assert_agree(spark, out, ["embedding_kmeans", "semantic_dedup"])
    assert REGISTRY["embedding_kmeans"].fn(spark, out).count() == fixture.num_rows
