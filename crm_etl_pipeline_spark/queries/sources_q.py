"""Source-format connectors beyond parquet: CSV and JSON-lines readers
with explicit schemas, proven by row-grain roundtrip fidelity.

The reference ingests REST JSON and lands CSV-ish exports by hand
(`PodioApiWrapper.py:104-167` pagination loop, array→CSV at the field
decode layer); warehouse users re-load both. These queries export the
events table to the text format, read it back through the engine's
reader, and return raw rows — the DuckDB oracle reads the PARQUET
source of truth, so any fidelity loss in the text round-trip (timestamp
truncation, double shortest-repr drift, quote/escape damage to embedded
JSON) breaks the value hash. That makes the connector itself the thing
under test, at row grain.

Determinism/fidelity contract:
- schemas are EXPLICIT on read — schema inference samples the input
  and is both nondeterministic under sampling and a full extra pass at
  100 TB;
- timestamps are written/read with an explicit micro-second format
  (`yyyy-MM-dd HH:mm:ss.SSSSSS`); the default format truncates to
  milliseconds and the hash would catch it;
- doubles survive because both Spark writers emit the shortest
  round-trip representation (Jackson/Java `Double.toString`) and the
  reader parses it back to the identical bits;
- embedded JSON in the `props` column stress-tests CSV quoting (the
  default quote+escape settings are symmetric between writer and
  reader).

Scale shape: text sources split by line just like parquet splits by
row group — the reader is a full-width parallel scan; the only scan
pushdown text formats support is line-level (no column pruning, no
predicate pushdown), which is exactly why the engine's stores are
parquet and these readers exist for INGEST, not serving. Scratch
exports go through tmpdirs (exit-removed, crash-swept).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from crm_etl_pipeline_spark import tmpdirs
from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import query

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

_EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_ROUNDTRIP_ORACLE = """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events WHERE event_id < 500
"""


def _export_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").filter(F.col("event_id") < 500)


# --- NULL-sentinel escape convention (closes the round-6 residual) ---
# Spark's CSV parser nullifies any field equal to ``nullValue`` even
# when quoted, so no token choice alone can keep a DATA value equal to
# the sentinel apart from NULL. The write convention escapes exactly
# the colliding class: a value matching (\E)*\N gains one "\E" prefix
# on write; the reader strips one prefix from anything matching
# (\E)+\N. The scheme is self-delimiting (values outside that class
# are untouched in both directions), so every string — including the
# literal sentinel and the literal escape sequences — round-trips.
_CSV_NULL_TOKEN = "\\N"
_CSV_ESC = "\\E"
_CSV_SENTINEL_CLASS = r"^(\\E)*\\N$"  # java-regex: ^(\E)*\N$
_CSV_ESCAPED_CLASS = r"^(\\E)+\\N$"


def _csv_escape(name: str):
    c = F.col(name)
    return F.when(c.rlike(_CSV_SENTINEL_CLASS), F.concat(F.lit(_CSV_ESC), c)).otherwise(c)


def _csv_unescape(name: str):
    c = F.col(name)
    return F.when(
        c.rlike(_CSV_ESCAPED_CLASS), F.substring(c, 3, 2147483647)
    ).otherwise(c)


@query(
    "csv_source_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    survey="S1 source formats (CSV reader with explicit schema; row-grain fidelity)",
)
def csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export 500 events to CSV, read them back through the CSV source,
    return the raw rows — the oracle reads the parquet truth, so the
    hash certifies header handling, explicit-schema typing, µs
    timestamp format, double shortest-repr round-trip, and quoting of
    the embedded-JSON props column.

    Three options close the lossy corners of the CSV default config
    (found by the degenerate sweep, tools/degenerate_probe.py):
    a distinct ``nullValue`` token keeps NULL and the empty string
    apart (both map to "" by default, collapsing '' to NULL on read),
    ``emptyValue`` on read restores the quoted empty field, and
    ``multiLine`` honors quoted embedded newlines, which otherwise
    split one row into two. The writer also must keep
    ``ignoreLeading/TrailingWhiteSpace`` OFF — they default to true on
    WRITE only (read defaults are false), silently trimming
    whitespace-framed values. multiLine makes a file non-splittable by
    line — the honest cost of newline-bearing text in CSV (no escape
    exists in the format); at scale that means one task per file, which
    is another reason these readers are INGEST-only and serving stays
    on parquet.

    The round-6 residual — a data value exactly equal to the nullValue
    sentinel collapsed to NULL on read (Spark's parser nullifies the
    token even when quoted) — is CLOSED by the ``_csv_escape`` /
    ``_csv_unescape`` write convention above: string columns pass
    through a self-delimiting escape of the colliding class on the way
    out and its inverse on the way back, both pure column algebra, so
    literal "\\N" (and literal "\\E\\N", recursively) now round-trips
    (tests/test_sources.py::test_csv_sentinel_escape_roundtrip)."""
    path = os.path.join(tmpdirs.sf_scoped("crm_etl_sources", sf_dir, "csv"), "events_csv")
    str_cols = [
        f.name for f in _EVENTS_SCHEMA.fields if isinstance(f.dataType, StringType)
    ]
    out = _export_subset(spark, sf_dir)
    for c in str_cols:
        out = out.withColumn(c, _csv_escape(c))
    out.write.mode("overwrite").options(
        header=True,
        timestampFormat=_TS_FMT,
        nullValue=_CSV_NULL_TOKEN,
        ignoreLeadingWhiteSpace=False,
        ignoreTrailingWhiteSpace=False,
    ).csv(path)
    back = (
        spark.read.options(
            header=True,
            timestampFormat=_TS_FMT,
            nullValue=_CSV_NULL_TOKEN,
            emptyValue="",
            multiLine=True,
        )
        .schema(_EVENTS_SCHEMA)
        .csv(path)
    )
    for c in str_cols:
        back = back.withColumn(c, _csv_unescape(c))
    return back.select([f.name for f in _EVENTS_SCHEMA.fields])


@query(
    "json_source_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    survey="S7 source formats (JSON-lines reader with explicit schema; the webhook wire format)",
)
def json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract over JSON lines — the reference's actual wire
    format (webhook POST bodies, `PodioApiGateway.py:197-215`). The
    props column nests JSON-in-a-JSON-string, which the explicit
    StringType schema must carry through un-reparsed."""
    path = os.path.join(tmpdirs.sf_scoped("crm_etl_sources", sf_dir, "json"), "events_json")
    _export_subset(spark, sf_dir).write.mode("overwrite").options(
        timestampFormat=_TS_FMT
    ).json(path)
    return (
        spark.read.options(timestampFormat=_TS_FMT)
        .schema(_EVENTS_SCHEMA)
        .json(path)
        .select([f.name for f in _EVENTS_SCHEMA.fields])
    )


@query(
    "orc_source_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    survey="S1 source formats (ORC columnar reader; binary round-trip fidelity)",
)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract over ORC — the other columnar store a warehouse
    inherits (Hive estates land ORC the way this engine lands parquet).
    Being a typed binary format there is no timestamp-format or quoting
    knob to get wrong; what the hash certifies instead is type-system
    fidelity across the ORC writer/reader pair (µs timestamps survive
    intact, doubles bit-exact, strings raw). Unlike the text sources,
    ORC serves as well as ingests: predicate pushdown and column
    pruning work as they do on parquet, so a mixed parquet/ORC estate
    keeps the same plans."""
    path = os.path.join(tmpdirs.sf_scoped("crm_etl_sources", sf_dir, "orc"), "events_orc")
    _export_subset(spark, sf_dir).write.mode("overwrite").orc(path)
    return spark.read.schema(_EVENTS_SCHEMA).orc(path)


@query(
    "wap_publish_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    survey="sink protocol (write-audit-publish: staged write, audit gate, atomic manifest flip)",
)
def wap_publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sink-side twin of the source roundtrips: export 500 events
    through the full write-audit-publish protocol (stage → audit the
    staged bytes → atomic manifest flip) and return what a reader
    resolves through the manifest. The hash certifies the published
    bytes equal the parquet truth; the audit gate ran for real (a
    row-count floor and an event_id non-null check against the staged
    files). The failure paths — audit rejection leaving the old version
    live, instant metadata-only rollback — are exercised in
    tests/test_wap.py.

    Degenerate contract: an EMPTY export batch is the row-count
    audit's designed rejection — nothing is ever published, and the
    query returns what a reader of a never-published table resolves:
    the empty relation (matching the oracle's 0 rows on the same
    input). Any other audit failure still raises."""
    from crm_etl_pipeline_spark import wap

    root = os.path.join(tmpdirs.sf_scoped("crm_etl_sources", sf_dir, "wap"), "events_wap")
    published, _, failures = wap.publish(
        spark,
        _export_subset(spark, sf_dir),
        root,
        audits=[
            ("row_count", lambda d: (d.count() > 0, "empty batch")),
            (
                "event_id_not_null",
                lambda d: (
                    d.filter(F.col("event_id").isNull()).count() == 0,
                    "null event_id",
                ),
            ),
        ],
    )
    if not published and all(f.startswith("row_count:") for f in failures):
        return spark.createDataFrame([], _EVENTS_SCHEMA)
    assert published, f"audits failed: {failures}"
    return wap.read_published(spark, root).select(
        [f.name for f in _EVENTS_SCHEMA.fields]
    )


@query(
    "schema_evolution_read",
    oracle="""
    SELECT c_custkey AS item_id, CAST(1 AS INT) AS snap,
           c_name AS display_name, c_acctbal AS value,
           CAST(NULL AS INT) AS priority
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, CAST(2 AS INT), c_name, c_acctbal,
           CAST(c_custkey % 5 AS INT)
    FROM customer WHERE c_custkey % 2 = 1
    """,
    survey="S6/§1.2 schema drift (mergeSchema read across a renamed + added field; PodioApiWrapper.py:13, README.md:18)",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read an item store ACROSS an evolved schema — the consumer side
    of the catalog-drift machinery (catalog.py detects the rename/add;
    this query proves the store stays readable through it, the
    reference's twice-daily metadata refresh requirement at
    `PodioApiWrapper.py:13` / `README.md:18`).

    Two generations of item files land in one store directory:
    snapshot 1 with the original field label (``name``), snapshot 2
    after the app admin renamed it to ``full_name`` AND added a
    ``priority`` field. The read goes through parquet mergeSchema —
    per-file footers union into one schema, files missing a column
    yield NULL for it — and the drift mapping from the catalog diff
    (old label → new label) becomes one COALESCE projection. The
    detect → distill → apply loop is automated by
    ``catalog.drift_diff`` → ``catalog.rename_mapping`` →
    ``catalog.unify_renamed`` (tests/test_sources.py proves the
    automated path reproduces this query's projection); the oracle
    needs the mapping inline, which is why it is spelled here. The
    oracle recomputes both generations closed-form from the customer
    truth and UNIONs them, so the hash certifies no row or value was
    lost across the evolution.

    Scale shape: mergeSchema is a footer-only operation (no data
    rewrite, no backfill of old files); the COALESCE compiles into the
    scan projection. At 100 TB a rename costs zero bytes moved — the
    alternative (rewriting every historical file to the new schema) is
    exactly what this layout avoids."""
    root = os.path.join(tmpdirs.sf_scoped("crm_etl_sources", sf_dir, "evolve"), "items")
    cust = table(spark, sf_dir, "customer")
    # one generation = one snap=N partition directory, each written
    # with overwrite so the query is idempotent within a session (a
    # re-run replaces its own generation instead of appending
    # duplicates — the "entry() called twice" hazard)
    # snapshot 1: original schema — field label 'name'
    (
        cust.filter(F.col("c_custkey") % 2 == 0)
        .select(
            F.col("c_custkey").alias("item_id"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("value"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(root, "snap=1"))
    )
    # snapshot 2: after the drift — 'name' renamed to 'full_name',
    # 'priority' added (the catalog diff reports exactly this mapping)
    (
        cust.filter(F.col("c_custkey") % 2 == 1)
        .select(
            F.col("c_custkey").alias("item_id"),
            F.col("c_name").alias("full_name"),
            F.col("c_acctbal").alias("value"),
            (F.col("c_custkey") % 5).cast("int").alias("priority"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(root, "snap=2"))
    )
    # partition discovery types snap as int; mergeSchema unions the
    # two generations' footers
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.select(
        "item_id",
        "snap",
        F.coalesce(F.col("full_name"), F.col("name")).alias("display_name"),
        "value",
        "priority",
    )


# RFC 3629 UTF-8, written over UPPERCASE hex byte pairs (the output of
# hex(blob) in DuckDB / F.hex(binary) in Spark). One alternation per
# well-formed sequence class:
#   00-7F | (C2-DF) cont | E0 (A0-BF) cont | (E1-EC) cont cont |
#   ED (80-9F) cont | (EE-EF) cont cont | F0 (90-BF) cont cont |
#   (F1-F3) cont cont cont | F4 (80-8F) cont cont,  cont = 80-BF.
# Rejects exactly what a strict decoder rejects: truncated sequences,
# bare continuation bytes, overlongs (C0/C1, E0 80-9F, F0 80-8F),
# UTF-8-encoded surrogates (ED A0-BF), and beyond-U+10FFFF (F4 90+,
# F5-FF). Verified against Python's strict codec and Spark's
# is_valid_utf8 on 13 edge shapes (tests/test_sources.py). DuckDB's
# regexp engine is RE2 — linear time, no backtracking blowup on long
# documents.
_UTF8_HEX_RX = (
    "^(?:[0-7][0-9A-F]"
    "|(?:C[2-9A-F]|D[0-9A-F])[89AB][0-9A-F]"
    "|E0[AB][0-9A-F][89AB][0-9A-F]"
    "|E[1-9A-C][89AB][0-9A-F][89AB][0-9A-F]"
    "|ED[89][0-9A-F][89AB][0-9A-F]"
    "|E[EF][89AB][0-9A-F][89AB][0-9A-F]"
    "|F0[9AB][0-9A-F](?:[89AB][0-9A-F]){2}"
    "|F[1-3](?:[89AB][0-9A-F]){3}"
    "|F48[0-9A-F](?:[89AB][0-9A-F]){2}"
    ")*$"
)

# wire-corruption shapes injected by doc_id (first matching rule wins),
# as (hex bytes, where) — mirrored literally in the oracle's CASE
_WIRE_CORRUPTIONS = [
    (7, 3, "E282", "append", "truncated_lead"),    # 3-byte lead cut at a chunk boundary
    (11, 5, "FF", "prepend", "invalid_lead"),      # byte that is never legal in UTF-8
    (13, 9, "C0AF", "append", "overlong"),         # overlong encoding of '/'
    (17, 2, "EDA080", "append", "surrogate"),      # UTF-8-encoded UTF-16 surrogate
]


def _wire_case_sql() -> tuple[str, str]:
    """The (payload CASE, injected-kind CASE) SQL fragments."""
    pay, kind = [], []
    for mod, rem, hx, where, label in _WIRE_CORRUPTIONS:
        expr = (
            f"encode(text) || from_hex('{hx}')"
            if where == "append"
            else f"from_hex('{hx}') || encode(text)"
        )
        pay.append(f"WHEN doc_id % {mod} = {rem} THEN {expr}")
        kind.append(f"WHEN doc_id % {mod} = {rem} THEN '{label}'")
    return (
        "CASE " + " ".join(pay) + " ELSE encode(text) END",
        "CASE " + " ".join(kind) + " ELSE 'clean' END",
    )


_PAYLOAD_SQL, _KIND_SQL = _wire_case_sql()


@query(
    "utf8_ingest_quarantine",
    oracle=f"""
    WITH wire AS (
      SELECT doc_id,
             {_PAYLOAD_SQL} AS payload,
             {_KIND_SQL} AS injected
      FROM documents
    ),
    checked AS (
      SELECT doc_id, injected, payload,
             CASE WHEN payload IS NULL THEN FALSE
                  ELSE regexp_matches(hex(payload), '{_UTF8_HEX_RX}')
             END AS is_valid
      FROM wire
    )
    SELECT doc_id,
           octet_length(payload) AS n_wire_bytes,
           injected,
           is_valid,
           CASE WHEN payload IS NULL THEN 'null_payload'
                WHEN is_valid THEN 'ok' ELSE 'quarantined' END AS status,
           CASE WHEN is_valid THEN length(decode(payload)) END AS n_chars
    FROM checked
    """,
    survey="S7 ingest boundary (wire bytes -> validated text; malformed multi-byte UTF-8 quarantine)",
)
def utf8_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validate-or-quarantine at the text ingest boundary: wire bytes
    become engine strings ONLY through an explicit UTF-8 validity gate,
    never a bare cast. The reference ingests webhook/REST payloads as
    trusted text (`PodioApiGateway.py:111-137`); at 100 TB of scraped
    training data the wire is NOT trusted, and the round-10 probe that
    motivated this query measured what each engine does when invalid
    multi-byte UTF-8 reaches a parquet string column:

    - DuckDB refuses to SCAN the file (InvalidInputException at
      read_parquet) — the TASK dies, not the row;
    - Spark scans and silently processes the bytes (UTF8String is
      byte-wise tolerant: length/lower/LIKE all "work" on garbage),
      so corruption propagates into every downstream text metric;
    - Spark's ANSI `decode(payload, 'UTF-8')` CRASHES the stage
      (MALFORMED_CHARACTER_CODING), so decode is a gate that fails the
      task, not the row;
    - the two engines' binary->string CASTS don't even agree on
      semantics: Spark's is an unchecked byte wrap, DuckDB's is a
      lossless \\x-escape rendering.

    Hence the contract, same philosophy as the NULL-vector rule: one
    corrupt document is one quarantined row, never the task. The query
    fabricates wire payloads from the documents fixture (the multimodal
    fabricate precedent — corruption is deterministic in doc_id, so
    every branch is exercised on the clean fixture and under every
    document sweep batch): four malformed shapes a real pipe produces —
    a multi-byte sequence truncated at a chunk boundary, an invalid
    lead byte, an overlong encoding, a UTF-8-encoded surrogate — then
    gates them: Spark with the native `try_validate_utf8` intrinsic
    (NULL on invalid, stays inside whole-stage codegen), DuckDB by
    validating RFC 3629 as an RE2 regex over hex(payload) (linear
    time; `_UTF8_HEX_RX` above) because DuckDB 1.0 has no tolerant
    decode and its strict `decode()` is only safe under a lazily
    evaluated CASE.

    Scale shape: one scan, zero shuffles, no Python — fabrication,
    validation and the quarantine verdict are all per-row column
    expressions inside one codegen stage; the quarantine is a STATUS
    COLUMN the next stage filters on, so the clean 99.99% never blocks
    on the corrupt tail. NULL payloads get their own status (a missing
    document is not a malformed one)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = F.encode(F.col("text"), "UTF-8")

    payload = None
    kind = None
    for mod, rem, hx, where, label in _WIRE_CORRUPTIONS:
        cond = F.col("doc_id") % mod == rem
        corrupted = (
            F.concat(base, F.unhex(F.lit(hx)))
            if where == "append"
            else F.concat(F.unhex(F.lit(hx)), base)
        )
        payload = F.when(cond, corrupted) if payload is None else payload.when(cond, corrupted)
        kind = F.when(cond, F.lit(label)) if kind is None else kind.when(cond, F.lit(label))
    payload = payload.otherwise(base)
    kind = kind.otherwise(F.lit("clean"))

    wire = docs.select(
        "doc_id",
        payload.alias("payload"),
        kind.alias("injected"),
    )
    # cast(binary as string) is Spark's unchecked byte wrap;
    # try_validate_utf8 is the actual gate (NULL = malformed)
    decoded = F.try_validate_utf8(F.col("payload").cast("string"))
    checked = wire.select(
        "doc_id",
        F.octet_length("payload").alias("n_wire_bytes"),
        "injected",
        F.when(F.col("payload").isNull(), F.lit(False))
        .otherwise(decoded.isNotNull())
        .alias("is_valid"),
        F.when(F.col("payload").isNull(), F.lit("null_payload"))
        .when(decoded.isNotNull(), F.lit("ok"))
        .otherwise(F.lit("quarantined"))
        .alias("status"),
        F.when(F.col("payload").isNotNull(), F.length(decoded)).alias("n_chars"),
    )
    return checked


# --- XML: the fourth wire format (round-11) ---------------------------
# XML 1.0 cannot carry most C0 control characters AT ALL — there is no
# escape for them (the woodstox writer refuses with an IOException, and
# an entity like &#x1; is equally illegal). That makes control
# characters XML's ingest boundary the same way invalid byte sequences
# are UTF-8's (utf8_ingest_quarantine): a wire export must
# validate-or-quarantine, it cannot pretend the format can represent
# the value. The gate below excludes rows whose string columns carry
# XML-1.0-illegal characters (C0 minus \t\n\r, plus the ￾/￿
# non-characters; surrogates cannot occur in valid UTF-8 column data),
# and the oracle applies the IDENTICAL class over the parquet truth —
# a no-op on clean fixtures, exercised by the control_char_props sweep
# batch. Everything XML *can* carry round-trips verbatim: NULL vs
# empty string (absent vs empty element), whitespace-framed values
# (ignoreSurroundingSpaces=false on read), embedded newlines, markup
# specials via entity escaping, literal "null"/"\N" strings, µs
# timestamps, shortest-repr doubles
# (tests/test_sources.py::test_xml_wire_contract_engine_facts).
_XML_ILLEGAL_JAVA = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\uFFFE\\uFFFF]"
_XML_ILLEGAL_RE2 = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x{FFFE}\x{FFFF}]"

_XML_ROUNDTRIP_ORACLE = f"""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events WHERE event_id < 500
      AND (event_type IS NULL
           OR NOT regexp_matches(event_type, '{_XML_ILLEGAL_RE2}'))
      AND (props IS NULL
           OR NOT regexp_matches(props, '{_XML_ILLEGAL_RE2}'))
"""


def _xml_legal(name: str):
    # NULL-safe: rlike(NULL) is NULL and would three-valued-logic the
    # row out of the export while the oracle's IS NULL arm keeps it
    c = F.col(name)
    return c.isNull() | ~c.rlike(_XML_ILLEGAL_JAVA)


@query(
    "xml_source_roundtrip",
    oracle=_XML_ROUNDTRIP_ORACLE,
    survey="S7 source formats (XML reader/writer, Spark-4 built-in; validate-or-quarantine at the XML-1.0 character boundary)",
)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-grain roundtrip through Spark 4's built-in XML source —
    the enterprise feed format the reference's CRM world exports
    (Podio webhooks have JSON bodies, but the systems they sync
    against — ERP/EDI — speak XML). Same certification shape as the
    CSV/JSON/ORC roundtrips: the oracle reads the parquet truth, so
    entity escaping, explicit-schema typing, µs timestamp format,
    double shortest-repr, and the NULL-vs-empty-element distinction
    are all under the value hash.

    The one thing XML cannot do is carry C0 control characters (no
    escape exists in XML 1.0; the writer task-fails loudly) — so the
    export runs behind a validate-or-quarantine gate over the string
    columns, mirrored verbatim in the oracle (module comment above).

    Scale shape: like the other text sources this is an INGEST
    connector, not a serving store — but XML is the worst of them:
    a row's element spans multiple lines, so splitting is by rowTag
    scan, there is no column pruning, and the markup overhead is
    ~3× the payload. The honest pipeline lands XML to parquet once
    at the boundary, which is exactly what this query certifies."""
    path = os.path.join(tmpdirs.sf_scoped("crm_etl_sources", sf_dir, "xml"), "events_xml")
    out = _export_subset(spark, sf_dir).filter(
        _xml_legal("event_type") & _xml_legal("props")
    )
    out.write.mode("overwrite").options(
        rootTag="events", rowTag="event", timestampFormat=_TS_FMT
    ).xml(path)
    return (
        spark.read.options(
            rowTag="event",
            timestampFormat=_TS_FMT,
            # read-side default trims element text; symmetric fidelity
            # needs the raw characters (whitespace-framed values)
            ignoreSurroundingSpaces=False,
        )
        .schema(_EVENTS_SCHEMA)
        .xml(path)
        .select([f.name for f in _EVENTS_SCHEMA.fields])
    )
