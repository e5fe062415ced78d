"""SparkSession factory for the tests, the benchmarks and the tools.

The session is sized from the host it runs on: ``local[n]`` over the
cores this process may run on (``SPARK_GRAFT_CPUS`` overrides the
count) and a driver heap of a quarter of physical memory, the JVM's
own default ``MaxRAMPercentage``. Everything under ``spark.sql.*`` is
cluster-appropriate as-is (AQE on, adaptive skew join, Arrow for the
Pandas-UDF slow path). ``spark.sql.session.timeZone`` is pinned to UTC
so timestamp values hash identically to the DuckDB oracle (DuckDB
timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """A quarter of ``MemTotal``, in MiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{kib // 4 // 1024}m"


def get_spark(app_name: str = "crm_etl_pipeline_spark") -> SparkSession:
    """Build (or reuse) the local SparkSession.

    On a real cluster the master/memory settings come from spark-submit;
    everything under ``spark.sql.*`` below is cluster-appropriate as-is.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions ~ cores for local; AQE coalesces at runtime anyway
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS); read nanos as long once,
        # globally, instead of mutating session conf inside readers
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed tables (bucketing.py) land here, never in the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/crm_etl_warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
