"""Degenerate-input sweep: run division-, sqrt- and emptiness-sensitive
queries on mutated copies of the sf0.01 tables and compare each with
its DuckDB oracle through ``tests/conftest.py``'s ``compare_query``
(FIXTURES.md §6).

Each entry of ``PROBES`` is one batch: a name, a ``{table: mutator}``
map and the queries to run. A batch builds its fixture in
``/tmp/deg_<name>`` with ``write_fixture`` (each mutated table
rewritten with a degenerate shape: constant or zero columns, empty or
all-unique text, zero-norm vectors, single-row or empty tables, NULL or
colliding ids, malformed JSON, ...; the other tables symlinked), then
runs every listed query in both engines. ``OK`` means the canonical
rows, columns and type families agree; a divergence or a crash on
either side prints loudly and counts as non-OK. The exit status is 1
when any probe is non-OK. A lost Spark gateway stops the sweep at the
probe that saw it, with exit status 3.

Run from the repo root:

    python tools/degenerate_probe.py                      # every batch
    python tools/degenerate_probe.py dup_events const_ts  # named batches

A full sweep takes ~25 min; it needs an otherwise idle Spark, like any
measurement run.
"""

from __future__ import annotations

import datetime
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from py4j.protocol import Py4JNetworkError

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from crm_etl_pipeline_spark.registry import load_all  # noqa: E402
from crm_etl_pipeline_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_DIR, compare_query, duck_views, write_fixture  # noqa: E402

REGISTRY = load_all()

#: a lost Spark gateway: every later probe would fail the same way, so
#: the sweep stops instead of reporting each one as a crash
GATEWAY_LOST = (ConnectionError, Py4JNetworkError)


def compare(spark, con, qname, fixture_dir):
    """One probe's verdict: OK, DIVERGE (a failed ``compare_query``
    check) or the engine that crashed. A lost gateway (``GATEWAY_LOST``)
    propagates."""
    q = REGISTRY[qname]
    try:
        rows = compare_query(con, q, q.fn(spark, fixture_dir))
    except AssertionError as e:
        return f"DIVERGE {str(e)[:500]}"
    except duckdb.Error as e:
        return f"ORACLE CRASH: {type(e).__name__}: {str(e)[:300]}"
    except GATEWAY_LOST:
        raise
    except Exception as e:  # noqa: BLE001 - report, don't abort the sweep
        return f"SPARK CRASH: {type(e).__name__}: {str(e)[:300]}"
    return f"OK rows={len(rows)}"


def const_col(col, val, typ=pa.float64()):
    def f(tbl):
        return tbl.set_column(
            tbl.column_names.index(col), col, pa.array([val] * tbl.num_rows, typ)
        )

    return f


def one_row(tbl):
    return tbl.slice(0, 1)


def unique_docs(tbl):
    ids = tbl.column("doc_id").to_pylist()
    txt = pa.array([f"unique document body {i} zz{i * 7} qq{i * 13}" for i in ids])
    return tbl.set_column(tbl.column_names.index("text"), "text", txt)


def single_user_events(tbl):
    uid = tbl.column("user_id")[0].as_py()
    return tbl.filter(pc.equal(tbl.column("user_id"), uid))


def single_month_orders(tbl):
    dates = tbl.column("o_orderdate")
    pinned = [
        datetime.datetime(1995, 6, min(d.as_py().day, 28)) for d in dates
    ]
    return tbl.set_column(
        tbl.column_names.index("o_orderdate"), "o_orderdate", pa.array(pinned, dates.type)
    )


def zero_first_vec(tbl):
    embs = tbl.column("embedding").to_pylist()
    embs[0] = [0.0] * len(embs[0])
    return tbl.set_column(
        tbl.column_names.index("embedding"),
        "embedding",
        pa.array(embs, tbl.schema.field("embedding").type),
    )


def extreme_values(tbl):
    # magnitude storm (round-9 probe): every 13th event value is
    # ±8.8e13 (alternating sign — the clean fixture has NO negative
    # values, so sign handling is probed too) and one row sits at
    # 9.9e15, just under the DECIMAL(18,2) per-row ceiling (1e16).
    # Targets: exact-DECIMAL moment accumulation headroom, ANSI casts
    # that assumed human-scale values, interpolation/percentile math
    vals = tbl.column("value").to_pylist()
    for i in range(0, len(vals), 13):
        vals[i] = 8.8e13 if (i // 13) % 2 == 0 else -8.8e13
    if len(vals) > 3:
        vals[3] = 9.9e15
    return tbl.set_column(
        tbl.column_names.index("value"), "value", pa.array(vals, pa.float64())
    )


def null_event_ids(tbl):
    # NULL event identity (round 13 — the events member of the
    # identity-absent axis): every 13th event_id becomes NULL.
    # Candidate hazards: (ts, event_id) tiebreak orderings meet a NULL
    # key (engine placement defaults disagree), the pmod chunk relay's
    # coalesce(event_id, 0) routing (round-10 advisor find, here
    # probed with REAL NULLs for the first time), and dedup/SCD2
    # identity rules under an absent key.
    ids = tbl.column("event_id").to_pylist()
    out = [None if i % 13 == 5 else v for i, v in enumerate(ids)]
    return tbl.set_column(
        tbl.column_names.index("event_id"), "event_id",
        pa.array(out, tbl.schema.field("event_id").type),
    )


def const_ts_null_ids(tbl):
    # the COMPOSED hazard (round 13): every timestamp tied at one
    # instant AND every 13th event_id NULL — the (ts, event_id)
    # tiebreaks degrade to ordering on event_id ALONE, where a NULL
    # key meets the engines' opposite placement defaults. The
    # separate batches each pass (unique ts hides the placement;
    # non-NULL ids hide the tie); only the composition exposes it.
    return null_event_ids(const_ts_events(tbl))


def zero_prices_null_okeys(tbl):
    # the orders member of the composed-hazard axis (round 13): every
    # o_totalprice zeroed (total value-tie storm) AND every 11th
    # o_orderkey NULL — revenue/value rankings degrade to their
    # orderkey tiebreaks, which meet a NULL key; DESC rankings hit the
    # MIRRORED placement defaults (Spark DESC = NULLS LAST, DuckDB
    # DESC = NULLS FIRST).
    prices = [0.0 if v is not None else None
              for v in tbl.column("o_totalprice").to_pylist()]
    tbl = tbl.set_column(tbl.column_names.index("o_totalprice"),
                         "o_totalprice", pa.array(prices, pa.float64()))
    keys = tbl.column("o_orderkey").to_pylist()
    out = [None if i % 11 == 4 else v for i, v in enumerate(keys)]
    return tbl.set_column(tbl.column_names.index("o_orderkey"),
                          "o_orderkey",
                          pa.array(out, tbl.schema.field("o_orderkey").type))


def null_vec_ids(tbl):
    # NULL vector identity (round 13 — the embeddings twin of
    # null_doc_ids): every 31st vec_id becomes NULL while the payload
    # stays. Candidate hazard: the kmeans/PQ seed hash-rank orderings
    # (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) meet a NULL key —
    # the engines' NULL-placement defaults disagree — and the
    # _one_per_vec groupBy collapses ALL NULL-id rows to one winner
    # (aggressive but symmetric, like the docs twin).
    ids = tbl.column("vec_id").to_pylist()
    out = [None if i % 31 == 7 else v for i, v in enumerate(ids)]
    return tbl.set_column(
        tbl.column_names.index("vec_id"), "vec_id",
        pa.array(out, tbl.schema.field("vec_id").type),
    )


def nan_inf_embeddings(tbl):
    # float payload corruption (round-9 probe): a NaN component in
    # every 17th vector, +Inf in every 23rd — non-finite floats are
    # the upstream-corruption twin of the NULL-vector contract (a
    # corrupted vector has no usable direction/norm/cell either)
    embs = tbl.column("embedding").to_pylist()
    for i in range(0, len(embs), 17):
        if embs[i] is not None:
            embs[i] = [float("nan")] + list(embs[i][1:])
    for i in range(0, len(embs), 23):
        if embs[i] is not None:
            embs[i] = list(embs[i][:-1]) + [float("inf")]
    return tbl.set_column(
        tbl.column_names.index("embedding"),
        "embedding",
        pa.array(embs, tbl.schema.field("embedding").type),
    )


def ragged_dim_embs(tbl):
    # RAGGED dimensions (round-15 close of the round-14 ADVICE find):
    # every 7th vector truncated to 32 dims, every 11th extended to 80
    # dims (tail repeated), one vector cut to a single component. The
    # engines fail a mis-shaped vector ASYMMETRICALLY — Spark's
    # zip_with null-pads so the fixed-point fold null-propagates,
    # DuckDB's range(1,65) correlated SUM partial-sums a short vector
    # and silently truncates a long one — so the family-wide exact-
    # length quarantine (size/len(embedding) = 64) is the only
    # cross-engine-stable contract. This batch pins it.
    embs = tbl.column("embedding").to_pylist()
    for i in range(0, len(embs), 7):
        if embs[i] is not None:
            embs[i] = list(embs[i][:32])
    for i in range(0, len(embs), 11):
        if embs[i] is not None:
            embs[i] = list(embs[i]) + list(embs[i][-16:])
    if embs and embs[3] is not None:
        embs[3] = list(embs[3][:1])
    return tbl.set_column(
        tbl.column_names.index("embedding"),
        "embedding",
        pa.array(embs, tbl.schema.field("embedding").type),
    )


def id_collision_embs(tbl):
    # identity collision for vectors (round-10 probe, the embedding twin
    # of id_collision_docs): every 31st vector takes its predecessor's
    # vec_id while KEEPING its own embedding/label — catches orderings
    # and survivor rules that assume vec_id uniqueness (k-means/IVF seed
    # ranks order by (md5(vec_id), vec_id): a collision TIES two
    # different vectors).
    ids = tbl.column("vec_id").to_pylist()
    for i in range(31, len(ids), 31):
        ids[i] = ids[i - 1]
    return tbl.set_column(
        tbl.column_names.index("vec_id"), "vec_id",
        pa.array(ids, tbl.schema.field("vec_id").type),
    )


def id_collision_events(tbl):
    # identity collision for events: every 41st event takes its
    # predecessor's event_id while KEEPING its own (ts, user_id, value,
    # ...) — catches last-write-wins/dedup tiebreakers that assume
    # (ts, event_id) totally orders distinct payloads.
    ids = tbl.column("event_id").to_pylist()
    for i in range(41, len(ids), 41):
        ids[i] = ids[i - 1]
    return tbl.set_column(
        tbl.column_names.index("event_id"), "event_id",
        pa.array(ids, tbl.schema.field("event_id").type),
    )


def id_collision_orders(tbl):
    # identity collision for orders: every 37th order takes its
    # predecessor's o_orderkey while keeping its own payload — probes
    # keyset pagination cursors, top-k tiebreaks, as-of picks, and the
    # dq uniqueness rule (which must FLAG it identically both engines).
    ids = tbl.column("o_orderkey").to_pylist()
    for i in range(37, len(ids), 37):
        ids[i] = ids[i - 1]
    return tbl.set_column(
        tbl.column_names.index("o_orderkey"), "o_orderkey",
        pa.array(ids, tbl.schema.field("o_orderkey").type),
    )


def id_collision_customer(tbl):
    # identity collision for customers: every 43rd customer takes its
    # predecessor's c_custkey while keeping its own payload — probes the
    # catalog/item-store families (customer plays the CRM item table)
    # and every per-customer grain.
    ids = tbl.column("c_custkey").to_pylist()
    for i in range(43, len(ids), 43):
        ids[i] = ids[i - 1]
    return tbl.set_column(
        tbl.column_names.index("c_custkey"), "c_custkey",
        pa.array(ids, tbl.schema.field("c_custkey").type),
    )


def null_component_embeddings(tbl):
    # NULL payload corruption (round-10 advisor find): a NULL component
    # in every 19th vector. Before the contract extension the engines
    # SPLIT on this shape — Spark's three-valued ~exists(...) dropped
    # the row (lambda over NULL -> NULL -> exists NULL -> filter
    # drops) while DuckDB's NOT list_bool_or(...) ignored the NULL
    # lambda result and KEPT it, feeding NULL into the fixed-point
    # pipeline. Both engines now name x IS NULL corrupt outright.
    embs = tbl.column("embedding").to_pylist()
    for i in range(0, len(embs), 19):
        if embs[i] is not None and len(embs[i]) >= 3:
            v = list(embs[i])
            v[1] = None
            embs[i] = v
    return tbl.set_column(
        tbl.column_names.index("embedding"),
        "embedding",
        pa.array(embs, tbl.schema.field("embedding").type),
    )


def id_collision_docs(tbl):
    # identity collision (round-10 probe): every 29th document takes its
    # predecessor's doc_id while KEEPING its own text/lang — the
    # cross-shard ingest hazard (two shards minting the same id for
    # different content). Distinct from dup_docs (byte-identical rows):
    # here doc_id identity and content identity DISAGREE, so any
    # tiebreaker, survivor rule, or join that assumes doc_id uniqueness
    # over distinct content either stays deterministic or gets caught.
    ids = tbl.column("doc_id").to_pylist()
    for i in range(29, len(ids), 29):
        ids[i] = ids[i - 1]
    return tbl.set_column(
        tbl.column_names.index("doc_id"), "doc_id",
        pa.array(ids, tbl.schema.field("doc_id").type),
    )


def null_doc_ids(tbl):
    # NULL document identity (round 13 — the hazard the round-12 ADVICE
    # named with no covering batch): every 10th doc_id becomes NULL
    # while the text stays. NULL ids stress three distinct contracts:
    # (a) join keys derived from doc_id (a NULL key silently drops the
    # group from an inner equi-join while a CROSS JOIN oracle keeps it —
    # the bigram corpus-mean class; ``attach`` keys are never NULL);
    # (b) identity-grain loaders (_one_per_doc / _DOCS_ONE_SQL window a
    # NULL partition — all NULL-id rows collapse to ONE winner in both
    # engines, an aggressive but symmetric identity rule); (c) any
    # ORDER BY on a NULL-bearing expression (md5(CAST(NULL)) is NULL,
    # and Spark's ASC default is NULLS FIRST while DuckDB's is NULLS
    # LAST — lay-down orders must spell the placement).
    ids = tbl.column("doc_id").to_pylist()
    out = [None if i % 10 == 3 else v for i, v in enumerate(ids)]
    return tbl.set_column(
        tbl.column_names.index("doc_id"), "doc_id",
        pa.array(out, tbl.schema.field("doc_id").type),
    )


def negative_doc_ids(tbl):
    # negative document identity (round 13 — completes the identity
    # hazard axis: collision / NULL / negative): every 10th doc_id is
    # negated. Negative ids stress sign-sensitive arithmetic — Spark's
    # `div` and `%` truncate toward zero while DuckDB's `//` FLOORS
    # (they disagree on negatives), pmod lands in [0, n) while both
    # engines' `%` can go negative, and CAST(neg AS VARCHAR) feeds md5
    # ranks a '-' prefix (same bytes both engines, but any oracle that
    # re-derives the id from the string must round-trip the sign).
    ids = tbl.column("doc_id").to_pylist()
    out = [(-v if (i % 10 == 3 and v is not None and v > 0) else v)
           for i, v in enumerate(ids)]
    return tbl.set_column(
        tbl.column_names.index("doc_id"), "doc_id",
        pa.array(out, tbl.schema.field("doc_id").type),
    )


def negative_vec_ids(tbl):
    # negative vector identity — the embeddings twin of
    # negative_doc_ids: every 10th vec_id is negated. Any join key or
    # bucket derived from the id's arithmetic (least(vec_id + 1, 1),
    # `%`, `div`) changes value for a negative id, and a constant-key
    # attach built that way silently drops the row on one engine only.
    ids = tbl.column("vec_id").to_pylist()
    out = [(-v if (i % 10 == 3 and v is not None and v > 0) else v)
           for i, v in enumerate(ids)]
    return tbl.set_column(
        tbl.column_names.index("vec_id"), "vec_id",
        pa.array(out, tbl.schema.field("vec_id").type),
    )


def garbage_props(tbl):
    opts = [
        "{not json", "", '{"k":', "null", "[]", '{"a":1}',
        '{"k":"12"}', '{"k": 99999999999999999999}', '{"k": 1.5}', '{"k": -7}',
    ]
    vals = [opts[i % len(opts)] for i in range(tbl.num_rows)]
    return tbl.set_column(
        tbl.column_names.index("props"), "props", pa.array(vals, pa.string())
    )


def null_every_10th(col):
    def f(tbl):
        vals = tbl.column(col).to_pylist()
        vals = [None if i % 10 == 3 else v for i, v in enumerate(vals)]
        return tbl.set_column(
            tbl.column_names.index(col), col,
            pa.array(vals, tbl.schema.field(col).type),
        )

    return f


def empty_string_every_10th(col):
    # distinct from NULL-injection: '' is a real key that must survive
    # joins/windows (length('')==0 vanished it from the temperature
    # re-mix's scalar-attach until the round-8 fix)
    def f(tbl):
        vals = tbl.column(col).to_pylist()
        vals = ["" if i % 10 == 3 else v for i, v in enumerate(vals)]
        return tbl.set_column(
            tbl.column_names.index(col), col,
            pa.array(vals, tbl.schema.field(col).type),
        )

    return f


def adversarial_props(tbl):
    # literal '\N' / '\E\N' included since r8: the CSV escape-token
    # write convention (sources_q._csv_escape) round-trips the
    # nullValue-sentinel class that used to collapse on read
    opts = ['{"k": 1}', "line1\nline2", "with,comma", 'with"quote', "with'sq",
            "back\\slash", "unié中文", None, "", "\ttab", " lead sp", "trail sp ",
            "\\N", "\\E\\N", "\\Eplain"]
    vals = [opts[i % len(opts)] for i in range(tbl.num_rows)]
    return tbl.set_column(
        tbl.column_names.index("props"), "props", pa.array(vals, pa.string())
    )


def control_char_props(tbl):
    # C0 control characters (and the ￾/￿ non-characters) in
    # wire text: legal in parquet/CSV/JSON/ORC, ILLEGAL in XML 1.0 —
    # the XML export must quarantine exactly these rows (round-11)
    opts = ["null\x00byte", "bell\x07", "bs\x08", "vt\x0b", "ff\x0c",
            "esc\x1b", "us\x1f", "noncharacter￾", "last￿",
            "legal \t\n\r del\x7f", "plain"]
    props = tbl.column("props").to_pylist()
    vals = [opts[i % len(opts)] if i % 6 == 0 else props[i]
            for i in range(tbl.num_rows)]
    return tbl.set_column(
        tbl.column_names.index("props"), "props", pa.array(vals, pa.string())
    )


def const_ts_events(tbl):
    # tie storm: EVERY event at one instant — any window/sort missing
    # its deterministic (ts, event_id) tiebreaker diverges cross-engine
    # under total ordering collapse (23/23 held at round-8 HEAD)
    ts = tbl.column("ts")
    pinned = [datetime.datetime(2024, 1, 15, 12, 0, 0)] * tbl.num_rows
    return tbl.set_column(
        tbl.column_names.index("ts"), "ts", pa.array(pinned, ts.type)
    )


def duplicate_every_7th(tbl):
    # at-least-once delivery: every 7th event row appears TWICE,
    # byte-identical (same event_id/ts). Exercises window tie-breaks
    # on fully-duplicated keys — identical rows make any row_number
    # assignment yield identical multisets, so engines must agree
    # unless a query breaks ties nondeterministically
    import pyarrow as pa

    idx = [i for i in range(tbl.num_rows)] + [
        i for i in range(tbl.num_rows) if i % 7 == 3
    ]
    return tbl.take(pa.array(sorted(idx)))


def mega_doc(tbl):
    # pathological page size (round 12): web crawls contain multi-MB
    # documents; ONE such row must cost one row's work, never blow up a
    # per-line/per-shingle/per-window stage. doc_id 0 becomes ~130 KB
    # (50-100x the fixture median): 2k distinct semi-repetitive lines
    # (so the line and shingle grains genuinely materialize ~2k rows
    # for this doc), words within the BPE alphabet gate, plus one very
    # long single-token "word" (len 4000, over the 16-char gate -> must
    # be dropped, not exploded) and a 10k-char single LINE (line-grain
    # width hazard). Deterministic, no RNG.
    #
    # MEASURED HARNESS BOUNDARY (why not bigger): at ~1.2 MB for this
    # one doc the SPARK side passed every probe (row-grain explodes are
    # bounded by construction), but DuckDB's LIST-formulated minhash
    # oracle — 128 list_transform passes over the per-row shingle
    # list — materialized >128 GB and was OOM-killed even under SET
    # memory_limit='24GB' (list intermediates bypass that accounting).
    # The oracle twin is an sf0.01 judge, not the engine; the probe
    # stays inside ITS budget while still stressing the engine's
    # per-row grain. The 100 TB mega-doc claim rests on the Spark
    # plan shape (explode -> row grain), which the 1.2 MB Spark-only
    # run verified.
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    lines = [
        f"line {i} alpha{i % 977} beta{(i * 7) % 971} gamma{(i * 13) % 983} common tail"
        for i in range(2_000)
    ]
    mega = (
        "\n".join(lines)
        + "\n" + ("z" * 4_000)  # one over-gate mega token
        + "\n" + ("wide word " * 1_000)  # one ~10k-char line
    )
    out = [mega if d == 0 else t for d, t in zip(ids, texts)]
    return tbl.set_column(
        tbl.column_names.index("text"), "text", pa.array(out, pa.string())
    )


def const_text_docs(tbl):
    # mass-dup tie storm: EVERY document carries the same multi-line
    # text — one mega shingle-bucket far over lsh.BUCKET_CAP, so the
    # capped star-pair path (and the oracle's mirror of it) runs
    # cross-engine for the first time at sweep level; idf/df collapse
    # (df == N for every term); every line is corpus boilerplate
    body = ("the quick brown spark line one alpha beta gamma\n"
            "shared boilerplate middle line delta epsilon zeta\n"
            "closing common line eta theta iota kappa")
    return tbl.set_column(
        tbl.column_names.index("text"), "text",
        pa.array([body] * tbl.num_rows, pa.string()),
    )


def const_vec_embeddings(tbl):
    # tie storm for the vector family: EVERY embedding is the same
    # vector — all distances/cosines equal, every ranking a total tie,
    # one k-means/IVF/PQ cell; any argmin/top-k missing its
    # deterministic id tiebreaker diverges cross-engine
    embs = tbl.column("embedding").to_pylist()
    first = next(e for e in embs if e is not None)
    return tbl.set_column(
        tbl.column_names.index("embedding"), "embedding",
        pa.array([first] * tbl.num_rows, tbl.schema.field("embedding").type),
    )


def const_value_events(tbl):
    # zero-dispersion twin of const_vec for the events table: every
    # event carries one constant nonzero value — per-type variances
    # are all-equal-population residuals (the sqrt(greatest(0, .))
    # contract), percentiles/winsor bounds collapse to a point
    return tbl.set_column(
        tbl.column_names.index("value"), "value",
        pa.array([42.5] * tbl.num_rows, pa.float64()),
    )


def const_etype_events(tbl):
    # category collapse: EVERY event is one type — funnels have a
    # single populated step, transition matrices one self-loop row
    # (probability exactly 1), routing sends everything one way,
    # per-type sketches hold one key
    return tbl.set_column(
        tbl.column_names.index("event_type"), "event_type",
        pa.array(["view"] * tbl.num_rows, pa.string()),
    )


def const_label_embeddings(tbl):
    # label collapse: one class — a single per-label centroid, purity
    # exactly 1, zero kNN disagreement
    return tbl.set_column(
        tbl.column_names.index("label"), "label",
        pa.array([3] * tbl.num_rows, tbl.schema.field("label").type),
    )


def unicode_docs(tbl):
    # non-ASCII stress for the text family: CJK (no spaces), emoji +
    # ZWJ sequences, combining marks, Turkish dotted/dotless i, RTL,
    # full-width digits — lower()/length()/regex tokenization must
    # agree cross-engine on codepoint (not grapheme/locale) semantics
    bodies = [
        "\u6771\u4eac\u90fd\u6e2f\u533a\u306e\u30c7\u30fc\u30bf\u57fa\u76e4 spark \u5206\u6563\u51e6\u7406",
        "family \U0001f468\u200d\U0001f469\u200d\U0001f467 emoji \U0001f680 rocket launch data",
        "cafe\u0301 re\u0301sume\u0301 combining marks vs caf\u00e9 r\u00e9sum\u00e9 precomposed",
        "Istanbul I\u0131 \u0130i Turkish dotless i \u039f\u0394\u03a5\u03a3\u03a3\u0395\u03a5\u03a3 final sigma \u03a3\u03a3 casing",
        "\u05e9\u05dc\u05d5\u05dd rtl hebrew mixed with ltr spark tokens",
        "\uff11\uff12\uff13 full-width digits \uff53\uff50\uff41\uff52\uff4b full-width latin",
    ]
    ids = tbl.column("doc_id").to_pylist()
    txt = pa.array([bodies[i % len(bodies)] + f" tail{i}" for i in ids], pa.string())
    return tbl.set_column(tbl.column_names.index("text"), "text", txt)


def whitespace_storm_docs(tbl):
    # exotic whitespace: vertical tab (in Java's \s but NOT RE2's),
    # NBSP (in neither), form feed / CR / tab / newline runs, framing
    # space storms — the normalization and BPE classes must be spelled
    # as explicit character sets or the two regex engines diverge
    ids = tbl.column("doc_id").to_pylist()
    frames = [
        "alpha\x0bbeta vertical\ttab",
        "nb\xa0sp\xa0stays beta",
        "multi   space\f\rrun gamma",
        "  framing   storm\t\t",
        "plain ascii control case",
        # trailing-line-terminator class (round-13 ADVICE): \u0085 /
        # \u2028 / \u2029 are NOT in _WS_CLASS, so they survive the
        # split glued to a token; Java's non-MULTILINE $ would accept
        # 'ab\u2028' at end-of-match while RE2's $ rejects it — the
        # token gates must anchor \z (end of text) in both engines
        "ab\u2028 mid line\u2028sep delta ok\u2028",
        "nel\u0085 next\u0085line epsilon zz\u0085",
        "para\u2029 sep\u2029kind zeta qq\u2029",
    ]
    txt = pa.array([frames[i % len(frames)] + f" tail{i}" for i in ids], pa.string())
    return tbl.set_column(tbl.column_names.index("text"), "text", txt)


def crlf_docs(tbl):
    # Windows line endings: every newline becomes \r\n — line-grain
    # queries split on '\n' and must treat the trailing \r
    # identically in both engines (it is NOT trimmed: \r survives in
    # the line hash), and the dedup normalization collapses both chars
    ids = tbl.column("doc_id").to_pylist()
    txts = tbl.column("text").to_pylist()
    out = [(t.replace("\n", "\r\n") if t is not None else None) + f"\r\nextra line {i}"
           for i, t in zip(ids, txts)]
    return tbl.set_column(tbl.column_names.index("text"), "text",
                          pa.array(out, pa.string()))


def far_future_ts(tbl):
    # clock-skew garbage: one event stamped year 2400 — past pandas'
    # datetime64[ns] ceiling (2262-04-11), so any timestamp crossing
    # the Arrow/pandas boundary as a datetime kills the whole stage
    # for one bad row; the contract is epoch-micros across every
    # applyInPandas boundary (quarantine philosophy: one bad row is
    # one bad row, never the task)
    ts = tbl.column("ts").to_pylist()
    ts[5] = datetime.datetime(2400, 6, 1, 12, 0, 0)
    return tbl.set_column(
        tbl.column_names.index("ts"), "ts",
        pa.array(ts, tbl.schema.field("ts").type),
    )


def singleton_lineitem(tbl):
    return tbl.filter(pc.equal(tbl.column("l_linenumber"), 1))


def empty_table(tbl):
    return tbl.slice(0, 0)


def one_document(tbl):
    # doc_id 0: mime rotation slot 0 AND doc_id % 10 == 0 — the single
    # payload is also the quarantine query's corrupt one
    return tbl.slice(0, 1)


def no_error_events(tbl):
    # retype every 'error' event: the DLQ/retry family sees zero
    # failures end to end (empty dead-letter store, zero requeues)
    et = tbl.column("event_type").to_pylist()
    et = ["view" if v == "error" else v for v in et]
    return tbl.set_column(
        tbl.column_names.index("event_type"), "event_type",
        pa.array(et, pa.string()),
    )


def all_error_events(tbl):
    # every event dead-letters eventually; the SCD2 pipeline processes
    # nothing (no update/create types survive the ingest filter)
    return tbl.set_column(
        tbl.column_names.index("event_type"), "event_type",
        pa.array(["error"] * tbl.num_rows, pa.string()),
    )


def all_constant_lineitem(tbl):
    for col, val in (("l_quantity", 1.0), ("l_extendedprice", 10.0), ("l_discount", 0.0)):
        tbl = const_col(col, val)(tbl)
    return tbl


PROBES = [
    ("pearson_all_const", {"lineitem": all_constant_lineitem},
     ["pearson_correlation_matrix"]),
    ("flat_orders", {"orders": const_col("o_totalprice", 42.5)},
     ["histogram_equi_depth", "rfm_segmentation", "benford_price_audit",
      "mom_revenue_growth", "decile_gains_table", "abc_pareto_classification"]),
    ("zero_prices", {"orders": const_col("o_totalprice", 0.0)},
     ["mom_revenue_growth", "decile_gains_table", "histogram_equi_depth",
      "abc_pareto_classification", "rfm_segmentation"]),
    ("empty_docs", {"documents": const_col("text", "", pa.string())},
     ["bm25_topk_search", "token_rarity_score", "chunk_documents",
      "text_stats", "inverted_index_postings", "boilerplate_line_removal", "utf8_ingest_quarantine", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup", "bigram_lm_quality_filter", "hybrid_rank_fusion", "dsir_importance_resample", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("unique_docs", {"documents": unique_docs},
     ["minhash_near_dup", "simhash_near_dup", "dedup_components",
      "prefix_filter_setsim_join", "exact_dedup_documents", "ngram_jaccard_verify",
      "streaming_incremental_dedup", "dedup_cluster_keep_best"]),
    ("singleton_orders", {"lineitem": singleton_lineitem},
     ["copurchase_pagerank", "copurchase_lift_topk", "triangle_count"]),
    ("empty_names", {"customer": const_col("c_name", "", pa.string())},
     ["record_linkage_fuzzy"]),
    ("tiny_embeddings", {"embeddings": lambda t: t.slice(0, 3)},
     ["knn_label_disagreement", "embedding_kmeans", "kmeans_cluster_purity",
      "ann_cosine_topk", "embedding_standardize", "embedding_quantize_int8",
      "ann_pq_adc", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("zero_vec", {"embeddings": zero_first_vec},
     ["ann_cosine_topk", "embedding_near_dup", "ann_lsh_bucketed",
      "ann_ivf_probe", "ann_ivf_nprobe2", "embedding_norm_topk",
      "ann_pq_adc", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("single_event", {"events": one_row},
     ["sessionization", "session_window_builtin", "session_path_trigrams",
      "event_transition_matrix", "ewma_user_value", "funnel_conversion",
      "attribution_last_touch", "asof_join_latest_order",
      "range_join_clicks_before_purchase", "fifo_head",
      "gapfill_daily_user_revenue", "interpolate_daily_user_value",
      "scd2_current_view", "scd2_asof_snapshot", "cdc_derive_changes",
      "cdc_apply_snapshot", "event_dedup_last_write_wins",
      "version_counts_per_key", "incremental_agg_merge",
      "countmin_heavy_hitters", "approx_distinct_selfcheck",
      "kmv_set_intersection", "approx_value_percentiles",
      "ab_test_conversion", "zorder_range_scan"]),
    ("single_user", {"events": single_user_events},
     ["sessionization", "session_window_builtin", "session_path_trigrams",
      "event_transition_matrix", "ewma_user_value", "funnel_conversion",
      "attribution_last_touch", "asof_join_latest_order",
      "range_join_clicks_before_purchase", "fifo_head",
      "gapfill_daily_user_revenue", "interpolate_daily_user_value",
      "ab_test_conversion"]),
    ("single_month", {"orders": single_month_orders},
     ["mom_revenue_growth", "cohort_retention", "keyset_pagination_orders"]),
    ("bad_props", {"events": garbage_props},
     ["props_json_extract", "props_from_json_typed", "variant_props_shred"]),
    ("nasty_text", {"events": adversarial_props},
     ["csv_source_roundtrip", "json_source_roundtrip", "orc_source_roundtrip",
      "xml_source_roundtrip", "variant_props_shred"]),
    # round-11: C0 control characters in wire text. CSV/JSON/ORC can
    # carry them (JSON \u-escapes, CSV passes raw bytes in quotes, ORC
    # is binary) so their roundtrips must be verbatim; XML 1.0 CANNOT
    # (no escape exists — the writer task-fails), so the XML export's
    # validate-or-quarantine gate must drop exactly the rows the
    # oracle's identical regex drops.
    ("control_char_props", {"events": control_char_props},
     ["csv_source_roundtrip", "json_source_roundtrip", "orc_source_roundtrip",
      "xml_source_roundtrip", "variant_props_shred"]),
    ("null_values", {"events": null_every_10th("value")},
     ["event_value_anomalies", "robust_outliers_mad", "winsorize_event_values",
      "approx_value_percentiles", "incremental_agg_merge", "ewma_user_value",
      "interpolate_daily_user_value", "cdc_apply_snapshot"]),
    ("null_types", {"events": null_every_10th("event_type")},
     ["event_type_routing", "event_transition_matrix", "funnel_conversion",
      "countmin_heavy_hitters", "approx_distinct_selfcheck",
      "version_counts_per_key",
      "skew_salted_join", "variant_props_shred"]),
    ("null_text", {"documents": null_every_10th("text")},
     ["text_stats", "token_rarity_score", "chunk_documents", "bm25_topk_search",
      "minhash_near_dup", "exact_dedup_documents", "boilerplate_line_removal", "utf8_ingest_quarantine", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup", "bigram_lm_quality_filter", "hybrid_rank_fusion", "dsir_importance_resample", "dedup_cluster_keep_best", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("one_lineitem", {"lineitem": one_row},
     ["rollup_revenue", "cube_lineitem_flags", "pivot_status_by_priority",
      "grouping_sets_region_segment"]),
    ("one_customer", {"customer": one_row},
     ["catalog_tree", "catalog_drift", "catalog_fields_tree",
      "composite_key_roundtrip", "hidden_field_projection",
      "return_type_fallback", "rfm_segmentation", "chi_square_segment_nation"]),
    ("one_order", {"orders": one_row},
     ["join_left_missing", "join_semi", "join_anti", "join_fk_enrichment",
      "bloom_semi_join_prune", "regional_supplier_volume",
      "latest_order_per_customer", "topk_orders_by_revenue"]),
    # --- round-7 extension: streaming / multimodal / gateway / WAP ---
    ("no_error_events", {"events": no_error_events},
     ["streaming_dlq", "streaming_requeue", "streaming_dlq_replay",
      "retry_and_dead_letter", "backoff_penalty_audit"]),
    ("all_error_events", {"events": all_error_events},
     ["streaming_dlq", "streaming_requeue", "streaming_scd2_state",
      "retry_and_dead_letter", "backoff_penalty_audit",
      "event_type_routing", "funnel_conversion"]),
    ("single_event_stream", {"events": one_row},
     ["streaming_scd2_state", "streaming_tumbling_counts",
      "streaming_stateful_sessions", "streaming_moments_anomalies",
      "streaming_rate_limit", "streaming_stream_stream_join",
      "streaming_late_data_audit", "streaming_dlq",
      "rate_limit_admission", "credential_rotation_schedule",
      "backoff_penalty_audit", "wap_publish_roundtrip"]),
    ("empty_events", {"events": empty_table},
     ["streaming_scd2_state", "streaming_tumbling_counts",
      "streaming_stateful_sessions", "streaming_moments_anomalies",
      "streaming_rate_limit", "streaming_dlq", "streaming_requeue",
      "streaming_late_data_audit", "rate_limit_admission",
      "credential_rotation_schedule", "backoff_penalty_audit",
      "wap_publish_roundtrip", "csv_source_roundtrip",
      "json_source_roundtrip", "orc_source_roundtrip",
      "xml_source_roundtrip", "ab_test_conversion", "fifo_head", "event_dedup_last_write_wins",
      "partition_evolution_regrain", "scd2_expire_versions",
      "zorder_range_scan", "zorder_incremental_compact",
      "streaming_zorder_ingest",
      "skew_salted_join", "variant_props_shred",
      "streaming_dim_enrichment"]),
    ("empty_documents", {"documents": empty_table},
     ["multimodal_manifest", "multimodal_features",
      "multimodal_real_decode", "multimodal_frame_sample",
      "multimodal_byte_dedup", "multimodal_decode_quarantine",
      "multimodal_mp4_seek_plan",
      "pii_redaction", "pack_training_sequences", "curation_pipeline",
      "chunk_documents", "language_temperature_sample", "audio_energy_windows", "utf8_ingest_quarantine", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup", "bigram_lm_quality_filter", "hybrid_rank_fusion", "dsir_importance_resample", "dedup_cluster_keep_best", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("one_document", {"documents": one_document},
     ["multimodal_manifest", "multimodal_features",
      "multimodal_real_decode", "multimodal_frame_sample",
      "multimodal_byte_dedup", "multimodal_decode_quarantine",
      "multimodal_mp4_seek_plan",
      "pii_redaction", "pack_training_sequences", "audio_energy_windows", "utf8_ingest_quarantine",
      "bpe_encode", "pack_bpe_sequences", "streaming_incremental_dedup", "hybrid_rank_fusion", "dsir_importance_resample", "dedup_cluster_keep_best", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("null_langs", {"documents": null_every_10th("lang")},
     ["language_temperature_sample", "text_stats",
      "train_split_stratified", "language_id_ngram", "dsir_importance_resample"]),
    ("empty_string_langs", {"documents": empty_string_every_10th("lang")},
     ["language_temperature_sample", "text_stats",
      "train_split_stratified", "language_id_ngram", "dsir_importance_resample"]),
    ("null_embeddings", {"embeddings": null_every_10th("embedding")},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "embedding_standardize", "embedding_quantize_int8",
      "embedding_centroid_per_label", "embedding_norm_topk",
      "embedding_kmeans", "knn_label_disagreement", "ann_pq_adc", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("dup_docs", {"documents": duplicate_every_7th},
     ["exact_dedup_documents", "minhash_near_dup", "simhash_near_dup",
      "lsh_bucket_profile", "ngram_jaccard_verify",
      "prefix_filter_setsim_join", "contamination_ngram_overlap",
      "dedup_incremental_new_docs", "repeated_span_mining",
      "boilerplate_line_removal", "token_rarity_score",
      "inverted_index_postings", "tfidf_top_terms", "pii_redaction",
      "curation_pipeline", "doc_repetition_ratio", "text_stats",
      "doc_fingerprint", "vocab_top_tokens", "chunk_documents",
      "bm25_topk_search", "language_temperature_sample",
      "train_split_stratified", "pack_training_sequences",
      "multimodal_byte_dedup", "doc_quality_score",
      "embedding_near_dup", "audio_energy_windows", "utf8_ingest_quarantine", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup", "bigram_lm_quality_filter", "hybrid_rank_fusion", "dsir_importance_resample", "dedup_cluster_keep_best", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("const_ts", {"events": const_ts_events},
     ["sessionization", "session_window_builtin", "fifo_head",
      "asof_join_latest_order", "event_dedup_last_write_wins",
      "zorder_incremental_compact", "streaming_zorder_ingest",
      "scd2_versioned_store", "scd2_current_view", "ewma_user_value",
      "running_revenue", "sliding_1h_user_value", "lag_order_gap_days",
      "streaming_scd2_state", "streaming_tumbling_counts",
      "tumbling_daily_counts", "event_transition_matrix",
      "rate_limit_admission", "credential_rotation_schedule",
      "gapfill_daily_user_revenue", "interpolate_daily_user_value",
      "attribution_last_touch", "range_join_clicks_before_purchase",
      "keyset_pagination_orders", "scd2_expire_versions"]),
    ("const_text", {"documents": const_text_docs},
     ["exact_dedup_documents", "minhash_near_dup", "simhash_near_dup",
      "lsh_bucket_profile", "dedup_components", "prefix_filter_setsim_join",
      "ngram_jaccard_verify", "contamination_ngram_overlap",
      "boilerplate_line_removal", "repeated_span_mining",
      "tfidf_top_terms", "bm25_topk_search", "token_rarity_score",
      "doc_repetition_ratio", "doc_fingerprint", "vocab_top_tokens", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup", "bigram_lm_quality_filter", "hybrid_rank_fusion", "dsir_importance_resample", "dedup_cluster_keep_best", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("mega_doc", {"documents": mega_doc},
     ["minhash_near_dup", "simhash_near_dup", "exact_dedup_documents",
      "dedup_components", "prefix_filter_setsim_join",
      "boilerplate_line_removal", "repeated_span_mining",
      "doc_repetition_ratio", "doc_fingerprint", "chunk_documents",
      "text_stats", "doc_quality_score", "token_profile",
      "vocab_top_tokens", "tfidf_top_terms", "bm25_topk_search",
      "inverted_index_postings", "curation_pipeline",
      "pack_training_sequences", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup",
      "utf8_ingest_quarantine", "bigram_lm_quality_filter", "hybrid_rank_fusion", "dsir_importance_resample", "dedup_cluster_keep_best", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("far_future_ts", {"events": far_future_ts},
     ["ewma_user_value", "streaming_stateful_sessions",
      "streaming_rate_limit", "sessionization", "session_window_builtin",
      "event_dedup_last_write_wins", "asof_join_latest_order",
      "tumbling_daily_counts", "scd2_current_view"]),
    ("crlf_docs", {"documents": crlf_docs},
     ["boilerplate_line_removal", "exact_dedup_documents",
      "chunk_documents", "text_stats", "doc_fingerprint",
      "repeated_span_mining", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup", "bigram_lm_quality_filter", "chunk_bm25_retrieval", "chunk_hybrid_retrieval"]),
    ("whitespace_storm", {"documents": whitespace_storm_docs},
     ["exact_dedup_documents", "dedup_incremental_new_docs",
      "token_profile", "text_stats", "vocab_top_tokens",
      "chunk_documents", "pack_training_sequences",
      "boilerplate_line_removal", "doc_quality_score", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup", "bigram_lm_quality_filter", "chunk_bm25_retrieval", "chunk_hybrid_retrieval"]),
    ("unicode_text", {"documents": unicode_docs},
     ["text_stats", "language_id_ngram", "vocab_top_tokens",
      "token_rarity_score", "doc_fingerprint", "doc_quality_score",
      "minhash_near_dup", "simhash_near_dup", "exact_dedup_documents",
      "chunk_documents", "pii_redaction", "doc_repetition_ratio",
      "tfidf_top_terms", "boilerplate_line_removal",
      "token_profile", "dedup_incremental_new_docs", "utf8_ingest_quarantine", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup", "bigram_lm_quality_filter", "chunk_bm25_retrieval", "chunk_hybrid_retrieval"]),
    ("const_etype", {"events": const_etype_events},
     ["event_type_routing", "funnel_conversion", "event_transition_matrix",
      "session_path_trigrams", "countmin_heavy_hitters",
      "approx_distinct_selfcheck", "attribution_last_touch",
      "streaming_dlq", "retry_and_dead_letter",
      "skew_salted_join", "variant_props_shred"]),
    ("const_label", {"embeddings": const_label_embeddings},
     ["embedding_centroid_per_label", "kmeans_cluster_purity",
      "knn_label_disagreement"]),
    ("const_values", {"events": const_value_events},
     ["event_value_anomalies", "streaming_moments_anomalies",
      "winsorize_event_values", "robust_outliers_mad",
      "value_percentiles", "approx_value_percentiles",
      "incremental_agg_merge", "ewma_user_value"]),
    ("const_vec", {"embeddings": const_vec_embeddings},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "ann_ivf_nprobe2", "ann_ivf_persisted_index", "ann_pq_adc",
      "embedding_standardize", "embedding_quantize_int8",
      "embedding_centroid_per_label", "embedding_norm_topk",
      "embedding_kmeans", "kmeans_cluster_purity",
      "knn_label_disagreement", "embedding_near_dup", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("extreme_values", {"events": extreme_values},
     ["event_value_anomalies", "streaming_moments_anomalies",
      "winsorize_event_values", "robust_outliers_mad",
      "value_percentiles", "approx_value_percentiles",
      "incremental_agg_merge", "ewma_user_value",
      "salted_user_event_totals", "gapfill_daily_user_revenue",
      "sliding_1h_user_value", "tumbling_daily_counts",
      "backoff_penalty_audit",
      "skew_salted_join"]),
    ("nan_inf_embeddings", {"embeddings": nan_inf_embeddings},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "ann_ivf_nprobe2", "ann_pq_adc", "ann_ivf_persisted_index",
      "embedding_standardize",
      "embedding_quantize_int8", "embedding_centroid_per_label",
      "embedding_norm_topk", "embedding_kmeans", "kmeans_cluster_purity",
      "knn_label_disagreement", "embedding_near_dup", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    # round-15 batch: ragged vector dimensions (the round-14 ADVICE
    # find) — the exact-length quarantine must agree cross-engine on
    # short, long and single-component vectors
    ("ragged_dim_embs", {"embeddings": ragged_dim_embs},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "ann_ivf_nprobe2", "ann_pq_adc", "ann_ivf_persisted_index",
      "embedding_standardize",
      "embedding_quantize_int8", "embedding_centroid_per_label",
      "embedding_norm_topk", "embedding_kmeans", "kmeans_cluster_purity",
      "knn_label_disagreement", "embedding_near_dup", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("id_collision_docs", {"documents": id_collision_docs},
     ["exact_dedup_documents", "dedup_incremental_new_docs",
      "chunk_documents", "doc_fingerprint", "bm25_topk_search",
      "tfidf_top_terms", "inverted_index_postings",
      "boilerplate_line_removal", "repeated_span_mining",
      "minhash_near_dup", "simhash_near_dup",
      "sample_stratified_hashrank", "pack_training_sequences", "train_split_stratified",
      "curation_pipeline", "utf8_ingest_quarantine",
      "multimodal_manifest", "multimodal_byte_dedup", "token_profile", "bpe_merge_training", "bpe_encode", "bpe_subword_vocab", "pack_bpe_sequences", "streaming_incremental_dedup", "bigram_lm_quality_filter", "hybrid_rank_fusion", "dsir_importance_resample", "dedup_cluster_keep_best", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("null_doc_ids", {"documents": null_doc_ids},
     ["exact_dedup_documents", "minhash_near_dup", "dedup_components",
      "pack_training_sequences", "curation_pipeline", "chunk_documents",
      "doc_fingerprint", "doc_quality_score", "text_stats",
      "vocab_top_tokens", "tfidf_top_terms", "boilerplate_line_removal",
      "sample_stratified_hashrank", "train_split_stratified", "language_temperature_sample",
      "dedup_incremental_new_docs", "bpe_merge_training", "bpe_encode",
      "bpe_subword_vocab", "pack_bpe_sequences",
      "bigram_lm_quality_filter", "streaming_incremental_dedup", "hybrid_rank_fusion", "dsir_importance_resample", "dedup_cluster_keep_best", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("negative_doc_ids", {"documents": negative_doc_ids},
     ["exact_dedup_documents", "minhash_near_dup", "dedup_components",
      "pack_training_sequences", "curation_pipeline", "chunk_documents",
      "doc_fingerprint", "doc_quality_score", "text_stats",
      "vocab_top_tokens", "tfidf_top_terms", "boilerplate_line_removal",
      "sample_stratified_hashrank", "train_split_stratified", "language_temperature_sample",
      "dedup_incremental_new_docs", "bpe_merge_training", "bpe_encode",
      "bpe_subword_vocab", "pack_bpe_sequences",
      "bigram_lm_quality_filter", "streaming_incremental_dedup", "hybrid_rank_fusion", "dsir_importance_resample", "dedup_cluster_keep_best", "chunk_bm25_retrieval", "rerank_fused_topk", "chunk_hybrid_retrieval"]),
    ("null_event_ids", {"events": null_event_ids},
     ["sessionization", "session_window_builtin", "fifo_head",
      "asof_join_latest_order", "event_dedup_last_write_wins",
      "scd2_versioned_store", "scd2_current_view", "ewma_user_value",
      "running_revenue", "sliding_1h_user_value",
      "streaming_scd2_state", "streaming_tumbling_counts",
      "tumbling_daily_counts", "event_transition_matrix",
      "rate_limit_admission", "credential_rotation_schedule",
      "attribution_last_touch", "range_join_clicks_before_purchase",
      "cdc_derive_changes", "streaming_dlq", "streaming_requeue",
      "streaming_zorder_ingest", "kmv_distinct_sketch"]),
    ("const_ts_null_ids", {"events": const_ts_null_ids},
     ["sessionization", "session_window_builtin", "fifo_head",
      "asof_join_latest_order", "event_dedup_last_write_wins",
      "scd2_versioned_store", "scd2_current_view", "ewma_user_value",
      "running_revenue", "sliding_1h_user_value",
      "event_transition_matrix", "attribution_last_touch",
      "cdc_derive_changes", "keyset_pagination_orders",
      "rate_limit_admission", "credential_rotation_schedule"]),
    ("zero_prices_null_okeys", {"orders": zero_prices_null_okeys},
     ["topk_orders_by_revenue", "keyset_pagination_orders",
      "latest_order_per_customer", "lag_order_gap_days",
      "global_rank_two_phase", "ntile_order_value_quartiles",
      "decile_gains_table", "abc_pareto_classification",
      "mom_revenue_growth", "dq_audit_orders", "topk_per_group",
      "running_revenue"]),
    # round-14(b) COMPOSED batches (the const_ts_null_ids discipline:
    # each component batch passes alone; the composition is the probe).
    # null_ids_both_axes: the first TWO-TABLE composition — NULL ids in
    # BOTH arms of the retrieval fusion simultaneously, so the id-keyed
    # full-outer union and both arms' non-NULL-id gates must agree at
    # the same time. null_langs_null_doc_ids: NULL lang AND NULL doc_id
    # coincide on every 10th row — the target-slice membership and the
    # identity axes compose on the lang-stratified lay-downs (the
    # round-13 second-order tie shape).
    ("null_ids_both_axes",
     {"documents": null_doc_ids, "embeddings": null_vec_ids},
     ["hybrid_rank_fusion", "rerank_fused_topk"]),
    ("null_langs_null_doc_ids",
     {"documents": lambda t: null_every_10th("lang")(null_doc_ids(t))},
     ["dsir_importance_resample", "language_temperature_sample",
      "sample_stratified_hashrank", "train_split_stratified",
      "pack_training_sequences"]),
    ("null_vec_ids", {"embeddings": null_vec_ids},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "ann_ivf_nprobe2", "ann_pq_adc", "ann_ivf_persisted_index",
      "embedding_standardize",
      "embedding_quantize_int8", "embedding_centroid_per_label",
      "embedding_norm_topk", "embedding_kmeans", "kmeans_cluster_purity",
      "knn_label_disagreement", "embedding_near_dup", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("negative_vec_ids", {"embeddings": negative_vec_ids},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "ann_ivf_nprobe2", "ann_pq_adc", "ann_ivf_persisted_index",
      "embedding_standardize",
      "embedding_quantize_int8", "embedding_centroid_per_label",
      "embedding_norm_topk", "embedding_kmeans", "kmeans_cluster_purity",
      "knn_label_disagreement", "embedding_near_dup", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    # round-14(c) COMPOSED batch: the round-14 collision-grain fix
    # (_ASSIGN_SQL's per-row argmin) composed with the zero-norm axis —
    # a COLLIDED id where one payload row is the all-zero vector, so
    # the identity winner rules, seed orderings and cosine zero-norm
    # contract must all hold on the SAME row at once.
    ("id_collision_zero_vec",
     {"embeddings": lambda t: zero_first_vec(id_collision_embs(t))},
     ["ann_cosine_topk", "ann_ivf_probe", "ann_ivf_nprobe2",
      "ann_ivf_persisted_index", "ann_pq_adc", "ann_recall_selfcheck",
      "embedding_kmeans", "kmeans_cluster_purity", "semantic_dedup",
      "ann_ivf_incremental_index", "hybrid_rank_fusion",
      "embedding_near_dup", "rerank_fused_topk"]),
    ("id_collision_embs", {"embeddings": id_collision_embs},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "ann_ivf_nprobe2", "ann_pq_adc", "ann_ivf_persisted_index",
      "embedding_standardize",
      "embedding_quantize_int8", "embedding_centroid_per_label",
      "embedding_norm_topk", "embedding_kmeans", "kmeans_cluster_purity",
      "knn_label_disagreement", "embedding_near_dup", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("id_collision_events", {"events": id_collision_events},
     ["event_dedup_last_write_wins", "scd2_versioned_store",
      "scd2_current_view", "scd2_soft_delete", "scd2_expire_versions",
      "scd2_asof_snapshot", "version_counts_per_key", "fifo_head",
      "sessionization", "asof_join_latest_order",
      "streaming_scd2_state", "incremental_agg_merge",
      "rate_limit_admission", "streaming_rate_limit",
      "tumbling_daily_counts", "event_type_routing",
      "cdc_derive_changes", "cdc_apply_snapshot",
      "event_value_anomalies", "keyset_pagination_orders",
      "skew_salted_join"]),
    ("id_collision_orders", {"orders": id_collision_orders},
     ["keyset_pagination_orders", "topk_orders_by_revenue",
      "latest_order_per_customer", "asof_join_latest_order",
      "range_join_clicks_before_purchase", "dq_audit_orders",
      "mom_revenue_growth", "cohort_retention", "rfm_segmentation",
      "decile_gains_table", "abc_pareto_classification",
      "histogram_order_values", "histogram_equi_depth",
      "shipping_delay_audit", "benford_price_audit",
      "gapfill_daily_user_revenue"]),
    ("id_collision_customer", {"customer": id_collision_customer},
     ["catalog_tree", "catalog_drift", "catalog_fields_tree",
      "composite_key_roundtrip", "hidden_field_projection",
      "return_type_fallback", "typed_field_decode",
      "record_linkage_fuzzy", "flagship_segment_revenue",
      "join_fk_enrichment", "join_left_missing", "join_semi",
      "join_anti", "scd2_versioned_store", "scd2_current_view",
      "scd2_soft_delete", "scd2_store_roundtrip", "scd2_asof_snapshot",
      "scd2_expire_versions", "scd2_compact_small_files",
      "streaming_scd2_state",
      "schema_evolution_read", "pps_systematic_sample",
      "weighted_sample_allocation", "chi_square_segment_nation",
      "skew_salted_join", "streaming_dim_enrichment"]),
    ("null_component_embeddings", {"embeddings": null_component_embeddings},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "ann_ivf_nprobe2", "ann_pq_adc", "ann_ivf_persisted_index",
      "embedding_standardize",
      "embedding_quantize_int8", "embedding_centroid_per_label",
      "embedding_norm_topk", "embedding_kmeans", "kmeans_cluster_purity",
      "knn_label_disagreement", "embedding_near_dup", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("dup_embs", {"embeddings": duplicate_every_7th},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "ann_ivf_nprobe2", "ann_ivf_persisted_index",
      "embedding_standardize", "embedding_quantize_int8",
      "embedding_centroid_per_label", "embedding_norm_topk",
      "embedding_kmeans", "kmeans_cluster_purity",
      "knn_label_disagreement", "embedding_near_dup", "ann_pq_adc", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("dup_events", {"events": duplicate_every_7th},
     ["event_dedup_last_write_wins", "scd2_versioned_store",
      "scd2_current_view", "scd2_expire_versions", "version_counts_per_key",
      "fifo_head", "sessionization", "streaming_scd2_state",
      "retry_and_dead_letter", "incremental_agg_merge",
      "asof_join_latest_order", "event_type_routing",
      "rate_limit_admission", "tumbling_daily_counts",
      # round-9: the rest of the count-sensitive gateway family
      # (contract in gateway_q's module docstring) + the streaming
      # limiter twin whose oracle is _ADMISSION_SQL verbatim
      "credential_rotation_schedule", "backoff_penalty_audit",
      "streaming_rate_limit",
      "skew_salted_join"]),
    ("null_user_ids", {"events": null_every_10th("user_id")},
     ["sessionization", "event_transition_matrix", "funnel_conversion",
      "latest_order_per_customer", "asof_join_latest_order",
      "event_dedup_last_write_wins", "gapfill_daily_user_revenue",
      "ab_test_conversion", "rate_limit_admission",
      "cohort_retention", "streaming_scd2_state",
      "skew_salted_join", "variant_props_shred", "streaming_dim_enrichment"]),
    ("empty_embeddings", {"embeddings": empty_table},
     ["ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_probe",
      "ann_ivf_nprobe2", "embedding_kmeans", "kmeans_cluster_purity",
      "embedding_standardize", "embedding_quantize_int8",
      "embedding_centroid_per_label", "embedding_norm_topk",
      "knn_label_disagreement", "embedding_near_dup", "ann_pq_adc", "ann_recall_selfcheck", "semantic_dedup", "ann_ivf_incremental_index", "hybrid_rank_fusion", "rerank_fused_topk"]),
    ("empty_orders", {"orders": empty_table},
     ["join_left_missing", "join_semi", "join_anti", "join_full_outer",
      "latest_order_per_customer", "topk_orders_by_revenue",
      "mom_revenue_growth", "decile_gains_table", "rfm_segmentation",
      "histogram_order_values", "histogram_equi_depth",
      "abc_pareto_classification", "keyset_pagination_orders",
      "dq_audit_orders", "cohort_retention"]),
    ("empty_customer", {"customer": empty_table},
     ["catalog_tree", "catalog_drift", "catalog_fields_tree",
      "composite_key_roundtrip", "hidden_field_projection",
      "return_type_fallback", "scd2_versioned_store", "scd2_current_view",
      "scd2_store_roundtrip", "streaming_scd2_state", "rfm_segmentation",
      "record_linkage_fuzzy", "ols_frequency_monetary",
      "schema_evolution_read", "scd2_compact_small_files",
      "scd2_expire_versions",
      "skew_salted_join", "streaming_dim_enrichment"]),
    ("empty_lineitem", {"lineitem": empty_table},
     ["pricing_summary", "flagship_segment_revenue", "rollup_revenue",
      "cube_lineitem_flags", "pivot_status_by_priority", "having_filter",
      "grouping_sets_region_segment", "pearson_correlation_matrix",
      "copurchase_pagerank", "triangle_count", "copurchase_lift_topk",
      "regional_supplier_volume", "exists_returned_lineitems"]),
    # round-11(b): the catalog dims were the last never-mutated tables.
    # An empty supplier cuts the tree's leaf level (recursive walk must
    # stop at depth 2, not error on an empty frontier) and empties one
    # side of the full-outer snapshot diff; an empty region orphans
    # every app (the recursive walk keeps ONLY the root — orphaned
    # subtrees must drop identically in both engines, not surface as
    # parentless rows) and zeroes the catalog joins.
    ("empty_supplier", {"supplier": empty_table},
     ["catalog_fields_tree", "hidden_field_projection",
      "catalog_recursive_paths", "join_full_outer",
      "regional_supplier_volume"]),
    ("empty_region", {"region": empty_table},
     ["catalog_tree", "composite_key_roundtrip", "catalog_recursive_paths",
      "regional_supplier_volume", "grouping_sets_region_segment"]),
]


def main():
    # optional batch-name filter: python tools/degenerate_probe.py dup_events ...
    only = set(sys.argv[1:])
    probes = [p for p in PROBES if not only or p[0] in only]
    if only and len(probes) != len(only):
        missing = only - {p[0] for p in probes}
        print(f"unknown batch name(s): {sorted(missing)}")
        return 2
    spark = get_spark("degenerate-probe")
    failures = 0
    for name, muts, qnames in probes:
        tables = {t: fn(pq.read_table(f"{SF_DIR}/{t}.parquet")) for t, fn in muts.items()}
        d = write_fixture(f"/tmp/deg_{name}", **tables)
        with duck_views(d) as con:
            for qn in qnames:
                if qn not in REGISTRY:
                    result = "NOT REGISTERED"
                else:
                    try:
                        result = compare(spark, con, qn, d)
                    except GATEWAY_LOST as e:
                        print(f"[{name}] {qn}: GATEWAY LOST: {type(e).__name__}: {e}")
                        print("sweep stopped: the Spark gateway is gone")
                        return 3
                if not result.startswith("OK"):
                    failures += 1
                print(f"[{name}] {qn}: {result}", flush=True)
    print(f"\nsweep done: {failures} non-OK probe(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
