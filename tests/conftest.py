"""Shared fixtures, and the suite's one cross-engine comparison.

``compare_query`` is the only place that checks a Spark query against
its DuckDB oracle. It is intentionally STRICTER than the value hash
behind CORRECTNESS_r{N}.json (exact canonical-string equality, not just
a hash), so a green suite implies a green correctness report. It runs
at the scale factor that report uses (sf0.01) and compares result TYPE
families, so a DuckDB HUGEINT or DECIMAL leaking from an uncast
aggregate fails here before it fails the value hash.

A degenerate-input check is three lines over these pieces::

    out = write_fixture(tmp_path / "flat", events=mutated_events)
    with duck_views(out) as con:
        rows = compare_query(con, q, q.fn(spark, out))
"""

from __future__ import annotations

import math
import os
import re
import shutil
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from crm_etl_pipeline_spark.io import TABLES
from crm_etl_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


def duck_views(data_dir) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table in ``data_dir``: a
    ``{name}.parquet`` file or a Spark-written ``{name}.parquet/``
    directory of part files."""
    con = duckdb.connect()
    for path in sorted(Path(data_dir).glob("*.parquet")):
        src = f"{path}/*.parquet" if path.is_dir() else str(path)
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{src}')")
    return con


def write_fixture(out, **tables) -> str:
    """A fresh fixture directory ``out``: each ``name=pyarrow.Table``
    written as ``{name}.parquet``, every other ``io.TABLES`` member
    symlinked from sf0.01."""
    unknown = set(tables) - set(TABLES)
    if unknown:
        raise KeyError(f"unknown tables {sorted(unknown)}; have {TABLES}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name in TABLES:
        dst = os.path.join(out, f"{name}.parquet")
        if name in tables:
            pq.write_table(tables[name], dst)
        else:
            os.symlink(f"{SF_DIR}/{name}.parquet", dst)
    return str(out)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("crm-etl-pipeline-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


def canonical(value) -> str:
    """Canonical string for order-insensitive cross-engine comparison."""
    if value is None:
        return "NULL"
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # exact float repr: both engines must produce bit-identical doubles
        return repr(value)
    if isinstance(value, bool):
        return str(value).lower()
    return str(value)


def rows_canonical(cols: list[str], rows: list[tuple]) -> list[str]:
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canonical(r[i]) for i in order) for r in rows)


# cross-engine type families: Spark dtype / DuckDB type → comparable family.
# int widths are interchangeable for the driver hash (verified r1), but
# HUGEINT (int128) and DECIMAL leaking from an uncast aggregate are not.
_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "integer": "int", "ubigint": "int",
    "double": "double", "float": "float", "real": "float",
    "string": "string", "varchar": "string",
    "timestamp": "timestamp", "timestamp_ns": "timestamp", "timestamp_ntz": "timestamp",
    "date": "date", "boolean": "bool", "hugeint": "hugeint",
}


def _family(type_name: str) -> str:
    t = type_name.strip().lower()
    t = re.sub(r"\(.*\)", "", t)  # decimal(38,18) → decimal
    return _FAMILY.get(t, t)


# Types that must NEVER cross the query output edge, even when both engines
# agree on them: the driver's value hash serializes decimal(18,2) and
# decimal(38,2) differently, so both-sides-decimal passes a family compare
# but fails the driver (the three r2 hash-fails). Contract: accumulate in
# DECIMAL, cast to DOUBLE at the edge (registry.py).
_FORBIDDEN_EDGE_FAMILIES = {"decimal", "hugeint"}


def compare_query(duck, q, sdf) -> list:
    """Run registry Query ``q``'s frame ``sdf`` and its DuckDB oracle on
    ``duck``; assert equivalence and return the collected Spark rows."""
    rows = sdf.collect()
    scols = sdf.columns
    rel = duck.sql(q.oracle)
    stypes = {c: _family(t) for c, t in sdf.dtypes}
    otypes = {c: _family(str(t)) for c, t in zip(rel.columns, rel.types)}
    leaked = {c: f for d in (stypes, otypes) for c, f in d.items()
              if f in _FORBIDDEN_EDGE_FAMILIES}
    assert not leaked, (
        f"{q.name}: {leaked} at the output edge — cast to DOUBLE in BOTH the "
        f"Spark query and the oracle SQL (driver value-hash is representation-"
        f"sensitive even when values match)"
    )
    assert stypes == otypes, f"{q.name}: type families {stypes} vs oracle {otypes}"
    res = duck.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols), f"{q.name}: columns {scols} vs oracle {ocols}"
    assert len(rows) == len(orows), f"{q.name}: rowcount {len(rows)} vs oracle {len(orows)}"
    scanon = rows_canonical(scols, rows)
    ocanon = rows_canonical(ocols, orows)
    mismatches = [(a, b) for a, b in zip(scanon, ocanon) if a != b]
    assert not mismatches, f"{q.name}: {len(mismatches)} row mismatches; first: {mismatches[0]}"
    return rows
