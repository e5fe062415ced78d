"""Unit + property tests for the typed decode library (SURVEY §5.2/5.4):
each field-type rule on hand-built edge cases (empty values, nulls,
malformed HTML, unparseable calculations, unknown types), plus a
Hypothesis sweep asserting the decode NEVER throws and always lands in
exactly one calculation branch — mirroring the reference's guarantee
that bad payloads are skipped, not fatal (`PodioApiWrapper.py:91-94`).
"""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import given, settings
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from crm_etl_pipeline_spark import decode

ROW_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("ftype", StringType()),
        StructField("values", decode.VALUES_TYPE),
    ]
)


def _v(value=None, start=None, name=None, text=None, ref_item_id=None):
    return (value, start, name, text, ref_item_id)


def _decode_all(spark, rows):
    df = spark.createDataFrame(rows, ROW_SCHEMA)
    vals = F.col("values")
    kind = decode.calculation_kind(vals)
    return df.select(
        "item_id",
        "ftype",
        decode.decode_text(vals).alias("text"),
        decode.decode_contact(vals).alias("contact"),
        decode.decode_category(vals).alias("category"),
        decode.decode_date(vals).alias("date"),
        decode.decode_app_fk(vals).alias("fk"),
        decode.decode_scalar(vals).alias("scalar"),
        decode.decode_money(vals).alias("money"),
        kind.alias("calc_kind"),
        decode.decode_calculation_date(vals).alias("calc_date"),
        decode.decode_calculation_number(vals).alias("calc_number"),
        decode.decode_calculation_raw(vals).alias("calc_raw"),
        decode.is_known_type(F.col("ftype")).alias("known"),
    ).collect()


def test_edge_cases(spark):
    rows = [
        (1, "text", [_v(value="<p>hello <b>world</b></p>")]),
        (2, "text", [_v(value="<unclosed"), _v(value="plain")]),
        (3, "contact", [_v(name="Ada"), _v(name=None)]),
        (4, "date", []),  # empty multi-value
        (5, "app", [_v(ref_item_id=42), _v(ref_item_id=7)]),
        (6, "money", [_v(value="12.345"), _v(value="99")]),  # first-only rule
        (7, "calculation", [_v(start="2020-01-01"), _v(start="2020-01-02")]),
        (8, "calculation", [_v(value="2021-05-06")]),
        (9, "calculation", [_v(value="3.5")]),
        (10, "calculation", [_v(value="not a number")]),
        (11, "blob", []),  # unknown type → quarantine
        (12, "number", [_v(value=None)]),
    ]
    out = {r.item_id: r for r in _decode_all(spark, rows)}
    assert out[1].text == "hello world"
    assert out[2].text == "<unclosed,plain"  # no '>' → not a tag, same as the reference regex
    assert out[3].contact == "Ada"  # null elements drop from concat_ws
    assert out[4].date == ""  # reference joins an empty list to ''
    assert out[5].fk == [42, 7]
    assert float(out[6].money) == 12.35  # decimal(18,2), first value only
    assert out[7].calc_kind == "date_range" and out[7].calc_date == "2020-01-01,2020-01-02"
    assert out[8].calc_kind == "date" and out[8].calc_date == "2021-05-06"
    assert out[9].calc_kind == "number" and out[9].calc_number == 3.5
    assert out[10].calc_kind == "string" and out[10].calc_raw == "not a number"
    assert not out[11].known
    assert out[12].scalar == ""


_value_text = st.one_of(
    st.none(),
    st.text(min_size=0, max_size=20),
    st.from_regex(r"\d{1,6}(\.\d{1,4})?", fullmatch=True),
    st.from_regex(r"\d{4}-\d{2}-\d{2}", fullmatch=True),
    st.just("<b>x</b>"),
)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            _value_text,
            st.one_of(st.none(), st.from_regex(r"\d{4}-\d{2}-\d{2}", fullmatch=True)),
            st.one_of(st.none(), st.text(max_size=8)),
            st.one_of(st.none(), st.text(max_size=8)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=10**9)),
        ),
        max_size=4,
    ),
    st.sampled_from(list(decode.KNOWN_TYPES) + ["mystery", ""]),
)
def test_decode_never_throws(spark, values, ftype):
    rows = [(0, ftype, values)]
    out = _decode_all(spark, rows)[0]
    # exactly one calculation branch fires
    assert out.calc_kind in ("date_range", "date", "number", "string")
    if out.calc_kind == "number":
        assert out.calc_number is not None
    # quarantine is a flag, never an exception
    assert out.known == (ftype in decode.KNOWN_TYPES)


def test_malformed_props_payloads_never_throw(spark, tmp_path):
    """The props extractors must treat webhook-payload garbage the way
    the reference treats bad payloads — skipped (NULL), never fatal
    (`PodioApiWrapper.py:91-94`). A corpus of malformed/mistyped JSON
    (truncated, empty, quoted numbers, int64 overflow, floats) crashed
    the unguarded ANSI cast in props_json_extract and the oracle's raw
    json_extract CAST in props_from_json_typed; both now agree
    cross-engine, and Spark's type-strict from_json semantics (a quoted
    "12" is NULL, not 12) are mirrored by the oracle's json_type
    guard."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crm_etl_pipeline_spark.registry import load_all

    from tests.conftest import compare_query, duck_views, write_fixture

    registry = load_all()
    fixture = pq.read_table("/root/testdata/sf0.01/events.parquet")
    opts = ["{not json", "", '{"k":', "null", "[]", '{"a":1}',
            '{"k":"12"}', '{"k": 99999999999999999999}', '{"k": 1.5}',
            '{"k": -7}']
    vals = [opts[i % len(opts)] for i in range(fixture.num_rows)]
    garbage = fixture.set_column(
        fixture.column_names.index("props"), "props", pa.array(vals, pa.string())
    )
    out = write_fixture(tmp_path / "badprops", events=garbage)
    extract, typed = (registry[n] for n in ("props_json_extract", "props_from_json_typed"))
    with duck_views(out) as con:
        compare_query(con, extract, extract.fn(spark, out))
        typed_rows = compare_query(con, typed, typed.fn(spark, out))
    # the type-strict branch is really exercised: only the -7 slice of
    # the garbage corpus survives as a number
    assert all(r.min_k in (None, -7) and r.max_k in (None, -7) for r in typed_rows)
