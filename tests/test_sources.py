"""Row-grain fidelity of the text-source roundtrips on adversarial
text — the corners the CSV default config silently loses (found by
tools/degenerate_probe.py): embedded newlines, quotes, delimiters,
whitespace framing, unicode, and the NULL-vs-empty distinction."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from crm_etl_pipeline_spark.registry import load_all

from tests.conftest import compare_query, duck_views, write_fixture

SF_DIR = "/root/testdata/sf0.01"
REGISTRY = load_all()

# the literal nullValue sentinel '\N' and the escape sequences '\E\N',
# '\E\E\N' are included: the _csv_escape/_csv_unescape write
# convention keeps them apart from NULL, so every string must
# round-trip — including the colliding class itself
NASTY = ['{"k": 1}', "line1\nline2", "with,comma", 'with"quote', "with'sq",
         "back\\slash", "unié中文", None, "", "\ttab", " lead sp", "trail sp ",
         "\\N", "\\E\\N", "\\E\\E\\N", "\\Eplain"]


def test_text_roundtrips_survive_adversarial_props(spark, tmp_path):
    """Every NASTY props string, NULL and '' included, survives the
    CSV, JSON and ORC roundtrips value-exact against the oracle."""
    fixture = pq.read_table(f"{SF_DIR}/events.parquet")
    vals = [NASTY[i % len(NASTY)] for i in range(fixture.num_rows)]
    nasty = fixture.set_column(
        fixture.column_names.index("props"), "props", pa.array(vals, pa.string())
    )
    out = write_fixture(tmp_path / "nasty", events=nasty)
    with duck_views(out) as con:
        for name in ("csv_source_roundtrip", "json_source_roundtrip", "orc_source_roundtrip"):
            compare_query(con, REGISTRY[name], REGISTRY[name].fn(spark, out))


def test_csv_sentinel_escape_roundtrip(spark):
    """The escape convention, pinned at unit grain: encode is the
    identity off the colliding class, adds exactly one '\\E' on it;
    decode inverts; NULL and '' stay themselves end to end."""
    from crm_etl_pipeline_spark.queries.sources_q import _csv_escape, _csv_unescape

    cases = [
        ("\\N", "\\E\\N"),          # the sentinel itself
        ("\\E\\N", "\\E\\E\\N"),    # already-escaped input escapes again
        ("\\E\\E\\N", "\\E\\E\\E\\N"),
        ("\\Eplain", "\\Eplain"),   # outside the class: untouched
        ("plain", "plain"),
        ("", ""),
        ("\\Nx", "\\Nx"),           # sentinel prefix but not exact: untouched
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(cases)], "i int, s string"
    )
    enc = df.withColumn("s", _csv_escape("s"))
    got = {r.i: r.s for r in enc.collect()}
    assert got == {i: want for i, (_, want) in enumerate(cases)}
    dec = enc.withColumn("s", _csv_unescape("s"))
    back = {r.i: r.s for r in dec.collect()}
    assert back == {i: orig for i, (orig, _) in enumerate(cases)}


def test_schema_evolution_merges_without_rewriting_old_files(spark, tmp_path):
    """The drift-consumer contract behind schema_evolution_read: after
    the rename+add lands, old-generation files are untouched on disk
    (byte-identical mtime/size census), the merged schema is the union,
    and old rows surface the added column as NULL."""
    import pyarrow.parquet as papq

    reg = load_all()
    df = reg["schema_evolution_read"].fn(spark, SF_DIR)
    assert set(df.columns) == {"item_id", "snap", "display_name", "value", "priority"}
    rows = df.collect()
    # idempotency pin: a second run in the same session must replace
    # its own generations, not append duplicates
    again = reg["schema_evolution_read"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    snap1 = [r for r in rows if r.snap == 1]
    snap2 = [r for r in rows if r.snap == 2]
    assert snap1 and snap2
    assert all(r.priority is None for r in snap1)  # added col backfills NULL
    assert all(r.priority is not None for r in snap2)
    assert all(r.display_name is not None for r in rows)  # rename mapped

    # and the mechanism: two generations of footers coexist in one dir.
    # Reconstruct the query's pid-scoped workdir directly (same naming
    # scheme as tmpdirs.pid_scoped, WITHOUT calling it — a second call
    # would rmtree the generations we are about to census)
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        f"crm_etl_sources_evolve_{os.path.basename(SF_DIR)}_{os.getpid()}",
        "items",
    )
    assert os.path.isdir(root), "evolution workdir must exist after the query"
    schemas = {
        tuple(papq.read_schema(os.path.join(dp, f)).names)
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }
    assert len(schemas) == 2  # neither generation was rewritten


def test_drift_mapping_drives_the_evolution_read(spark, tmp_path):
    """Detect → distill → apply, end to end with no hand-written
    projection: drift_diff over the two catalog generations reports the
    rename, rename_mapping distills the (old, new) label pair, and
    unify_renamed applies it to the mergeSchema read — reproducing
    exactly what schema_evolution_read hand-codes."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.catalog import (
        drift_diff,
        read_evolving,
        rename_mapping,
        unify_renamed,
    )
    from crm_etl_pipeline_spark.io import table

    # the two catalog generations around the drift: field 7 renamed
    # name -> full_name, field 9 (priority) added
    old_cat = spark.createDataFrame(
        [(7, "name", "text"), (8, "value", "number")],
        "field_id long, field_label string, field_type string",
    )
    new_cat = spark.createDataFrame(
        [(7, "full_name", "text"), (8, "value", "number"), (9, "priority", "number")],
        "field_id long, field_label string, field_type string",
    )
    pairs = [
        (r.old_field_label, r.new_field_label)
        for r in rename_mapping(
            drift_diff(old_cat, new_cat, "field_id", ["field_label", "field_type"])
        ).collect()
    ]
    assert pairs == [("name", "full_name")]

    # two store generations written under those catalogs
    cust = table(spark, SF_DIR, "customer").limit(200)
    g1, g2 = str(tmp_path / "snap=1"), str(tmp_path / "snap=2")
    cust.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("item_id"), F.col("c_name").alias("name")
    ).write.parquet(g1)
    cust.filter(F.col("c_custkey") % 2 == 1).select(
        F.col("c_custkey").alias("item_id"),
        F.col("c_name").alias("full_name"),
        (F.col("c_custkey") % 5).cast("int").alias("priority"),
    ).write.parquet(g2)

    unified = unify_renamed(read_evolving(spark, str(tmp_path)), pairs)
    rows = unified.collect()
    assert "name" not in unified.columns and "full_name" in unified.columns
    assert all(r.full_name is not None for r in rows)
    assert {r.snap for r in rows} == {1, 2}

    # a scan spanning ONLY old-generation files still normalizes to the
    # new label (round-8 ADVICE: the elif plain-rename branch) — the
    # consumer schema must not depend on which generations were read
    old_only = unify_renamed(spark.read.parquet(g1), pairs)
    assert "name" not in old_only.columns and "full_name" in old_only.columns
    assert all(r.full_name is not None for r in old_only.collect())


def test_utf8_wire_contract_engine_facts(spark, tmp_path):
    """The three engine facts the utf8_ingest_quarantine contract
    rests on (round-10 probe; each would silently invalidate the
    design if an engine upgrade changed it):

    1. a parquet STRING column containing invalid UTF-8 bytes is a
       TASK-level failure in DuckDB (read_parquet refuses) while Spark
       scans it tolerantly — so text from an untrusted wire must land
       as BINARY, never string;
    2. Spark's is_valid_utf8 / try_validate_utf8 verdicts agree with a
       strict RFC 3629 decoder (Python's utf-8 codec) on the edge
       shapes: truncated sequences, bare continuation bytes, invalid
       leads, overlongs, surrogates, beyond-U+10FFFF;
    3. the DuckDB oracle's hex-regex validator (_UTF8_HEX_RX) produces
       the same verdicts — it IS the cross-engine bridge.
    """
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.queries.sources_q import _UTF8_HEX_RX

    # -- fact 1: invalid UTF-8 smuggled into a parquet string column
    bad = [b"hello", b"caf\xe9 latin1", b"ok"]
    offsets, data = [0], b""
    for v in bad:
        data += v
        offsets.append(len(data))
    arr = pa.StringArray.from_buffers(
        len(bad),
        pa.array(offsets, pa.int32()).buffers()[1],
        pa.py_buffer(data),
    )
    p = str(tmp_path / "badutf8.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(bad)), pa.int64()), "text": arr}), p
    )
    con = duckdb.connect()
    try:
        con.execute(f"SELECT length(text) FROM read_parquet('{p}')").fetchall()
        raise AssertionError("DuckDB now scans invalid-UTF8 parquet strings")
    except duckdb.InvalidInputException:
        pass  # the task-level refusal the contract is built around
    # Spark scans the same bytes without error (byte-wise tolerant)
    rows = spark.read.parquet(p).select(F.length("text").alias("n")).collect()
    assert len(rows) == 3

    # -- facts 2+3: verdict agreement on edge shapes
    cases = [
        b"hello", b"caf\xe9", b"\xff\xfe", b"trunc \xe2\x82",
        b"over \xc0\xaf", "ok €".encode(), b"cont \x82",
        b"\xed\xa0\x80", b"\xf4\x90\x80\x80", "\U0001f389".encode(),
        b"", b"\xed\x9f\xbf", b"\xee\x80\x80",
    ]
    want = []
    for c in cases:
        try:
            c.decode("utf-8")
            want.append(True)
        except UnicodeDecodeError:
            want.append(False)

    df = spark.createDataFrame([(c.hex(),) for c in cases], "h string")
    got_spark = [
        (r.v, r.tv)
        for r in df.select(
            F.is_valid_utf8(F.unhex("h").cast("string")).alias("v"),
            F.try_validate_utf8(F.unhex("h").cast("string")).isNotNull().alias("tv"),
        ).collect()
    ]
    assert [v for v, _ in got_spark] == want
    assert [tv for _, tv in got_spark] == want

    got_duck = [
        bool(
            con.execute(
                f"SELECT regexp_matches(hex(from_hex('{c.hex()}')), '{_UTF8_HEX_RX}')"
            ).fetchone()[0]
        )
        for c in cases
    ]
    con.close()
    assert got_duck == want


def test_xml_wire_contract_engine_facts(spark, tmp_path):
    """The engine facts the xml_source_roundtrip contract rests on
    (round-11 probe; each would silently invalidate the design if a
    Spark upgrade changed it):

    1. the XML writer REFUSES control characters loudly (XML 1.0 has
       no escape for them — the quarantine gate is a format necessity,
       not a choice);
    2. everything XML can carry round-trips VERBATIM with the
       registered reader options: NULL vs empty string stay distinct
       (absent vs empty element), whitespace-framed values survive
       ignoreSurroundingSpaces=false, embedded newlines and markup
       specials survive entity escaping, literal "null"/"\\N" stay
       strings, µs timestamps and doubles are bit-exact;
    3. the Spark gate regex and the DuckDB oracle regex quarantine the
       SAME rows — the class is the cross-engine bridge.
    """
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from crm_etl_pipeline_spark.queries.sources_q import (
        _XML_ILLEGAL_JAVA,
        _XML_ILLEGAL_RE2,
        _xml_legal,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
    )

    # -- fact 1: control characters are a LOUD write failure
    poison = spark.createDataFrame([(1, "a\x01b")], schema)
    try:
        poison.write.mode("overwrite").options(rowTag="r").xml(
            str(tmp_path / "poison")
        )
        raise AssertionError("XML writer accepted a control character")
    except Exception as exc:  # noqa: BLE001 — Py4J wraps the IOException
        assert "TASK_WRITE_FAILED" in str(exc) or "Invalid" in str(exc)

    # -- fact 2: the legal-XML value space round-trips verbatim
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    vals = [
        (1, "plain"),
        (2, None),
        (3, ""),
        (4, "  framed  "),
        (5, "line1\nline2"),
        (6, 'mark<up>&"\'!'),
        (7, "null"),
        (8, "\\N"),
        (9, "\ttabbed\t"),
        (10, "\x7f del is legal"),
    ]
    df = spark.createDataFrame(vals, schema)
    p = str(tmp_path / "legal")
    df.write.mode("overwrite").options(rowTag="r").xml(p)
    back = (
        spark.read.options(rowTag="r", ignoreSurroundingSpaces=False)
        .schema(schema)
        .xml(p)
    )
    assert sorted(map(tuple, back.collect())) == sorted(vals)

    # timestamps + doubles through the registered µs format
    tschema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    trows = [(1, ts, 0.1 + 0.2), (2, None, 2.0**53 + 2.0), (3, ts, None)]
    tdf = spark.createDataFrame(trows, tschema)
    tp = str(tmp_path / "typed")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    tdf.write.mode("overwrite").options(rowTag="r", timestampFormat=fmt).xml(tp)
    tback = (
        spark.read.options(
            rowTag="r", timestampFormat=fmt, ignoreSurroundingSpaces=False
        )
        .schema(tschema)
        .xml(tp)
    )
    assert sorted(map(tuple, tback.collect())) == sorted(trows)

    # -- fact 3: gate and oracle quarantine the same rows
    probes = [
        (1, "clean"),
        (2, "bad\x00null"),
        (3, "bad\x08bs"),
        (4, "ok\ttab\nnl\rcr"),
        (5, "bad\x0bvt"),
        (6, "bad\x1funit"),
        (7, "ok\x7fdel"),
        (8, "bad￾"),
        (9, "bad￿"),
        (10, None),
        (11, "ok� replacement"),
    ]
    pdf = spark.createDataFrame(probes, schema)
    spark_keep = sorted(r.id for r in pdf.filter(_xml_legal("s")).collect())

    import duckdb as _dd

    con = _dd.connect()
    con.execute(
        "CREATE TABLE probes(id BIGINT, s VARCHAR)"
    )
    con.executemany("INSERT INTO probes VALUES (?, ?)", probes)
    duck_keep = sorted(
        r[0]
        for r in con.execute(
            "SELECT id FROM probes WHERE s IS NULL OR "
            f"NOT regexp_matches(s, '{_XML_ILLEGAL_RE2}')"
        ).fetchall()
    )
    con.close()
    assert spark_keep == duck_keep == [1, 4, 7, 10, 11]
    # and the java-side class is the same shape (literal sanity pin)
    assert _XML_ILLEGAL_JAVA.count("-") == _XML_ILLEGAL_RE2.count("-")
