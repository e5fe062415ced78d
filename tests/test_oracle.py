"""Every registered query with an oracle must match DuckDB exactly
(row count + column names + canonical values) at sf0.01 — the same
scale factor and contract the driver enforces."""

from __future__ import annotations

import pytest

from crm_etl_pipeline_spark.registry import load_all

from tests.conftest import SF_DIR, compare_query
from tests.test_plan_shapes import plan_lint, plan_string

REGISTRY = load_all()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    """The query's result matches its oracle, and its initial physical
    plan, read before the frame runs, passes ``plan_lint``."""
    q = REGISTRY[name]
    if q.oracle is None:
        df = q.fn(spark, "/root/testdata/sf0.001")
        plan = plan_string(df)
        assert df.count() >= 0  # rows-only smoke, mirrors driver's weak check
    else:
        df = q.fn(spark, SF_DIR)
        plan = plan_string(df)
        compare_query(duck, q, df)
    assert plan_lint(name, plan) == [], f"{name}: plan shapes that do not scale"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 2


def test_driver_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 1


def test_schema_evolution_mergeschema(spark, tmp_path):
    """Catalog drift → storage: a field added in generation 2 appears
    as NULL on generation-1 rows under mergeSchema (SURVEY §1.3)."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.catalog import read_evolving
    from crm_etl_pipeline_spark.io import table

    gen1 = str(tmp_path / "gen1")
    gen2 = str(tmp_path / "gen2")
    cust = table(spark, "/root/testdata/sf0.001", "customer")
    cust.select("c_custkey", "c_name").write.parquet(gen1)
    cust.select("c_custkey", "c_name", "c_acctbal").write.parquet(gen2)
    merged = read_evolving(spark, gen1, gen2)
    assert set(merged.columns) == {"c_custkey", "c_name", "c_acctbal"}
    n = cust.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("c_acctbal").isNull()).count() == n


def test_driver_priority_window():
    """DRIVER_PRIORITY names must all exist, be unique, and fit inside the
    driver's 50-query correctness prefix of load_all() iteration order —
    the mechanism that gets never-checked queries a driver row this round."""
    from crm_etl_pipeline_spark import queries as qpkg

    names = qpkg.DRIVER_PRIORITY
    assert len(names) == len(set(names)), "duplicate names in DRIVER_PRIORITY"
    reg = load_all()
    missing = [n for n in names if n not in reg]
    assert not missing, f"DRIVER_PRIORITY names not registered: {missing}"
    first50 = list(reg)[:50]
    outside = [n for n in names if n not in first50]
    assert not outside, f"priority queries fell outside the 50-slot window: {outside}"


def test_bad_sf_dir_raises_cleanly(spark):
    """A wrong data dir fails with AnalysisException (PATH_NOT_FOUND),
    not a hang or a silent empty result."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    from crm_etl_pipeline_spark.io import table

    with pytest.raises(AnalysisException):
        table(spark, "/root/testdata/sf-nonexistent", "customer").count()


def test_degenerate_sweep_manifest():
    """Every batch of tools/degenerate_probe.py has a unique name, lists
    only registered queries that have an oracle, and mutates only
    io.TABLES members — so a rename fails here, not 25 minutes into a
    sweep."""
    from crm_etl_pipeline_spark.io import TABLES
    from tools.degenerate_probe import PROBES

    names = [name for name, _, _ in PROBES]
    assert len(names) == len(set(names)), "duplicate batch names"
    for name, mutations, qnames in PROBES:
        assert set(mutations) <= set(TABLES), f"{name}: mutates {set(mutations) - set(TABLES)}"
        missing = [q for q in qnames if q not in REGISTRY or REGISTRY[q].oracle is None]
        assert not missing, f"{name}: unregistered or oracle-less queries {missing}"


def test_degenerate_probe_stops_on_dead_gateway(monkeypatch):
    """A lost Spark gateway makes every later probe fail the same way,
    so ``compare`` lets it propagate instead of reporting a crash of
    the one query that happened to see it."""
    import types

    from tools import degenerate_probe

    def refused(spark, sf_dir):
        raise ConnectionRefusedError(111, "Connection refused")

    stub = types.SimpleNamespace(name="gateway_stub", fn=refused, oracle="SELECT 1")
    monkeypatch.setitem(degenerate_probe.REGISTRY, "gateway_stub", stub)
    with pytest.raises(ConnectionRefusedError):
        degenerate_probe.compare(None, None, "gateway_stub", SF_DIR)
