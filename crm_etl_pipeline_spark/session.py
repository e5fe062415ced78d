"""SparkSession factory tuned for the test/bench environment.

Local mode is a correctness/bench harness only; every config here is
chosen to also be sane on a large cluster (AQE on, adaptive skew join,
Arrow for the Pandas-UDF slow path). ``spark.sql.session.timeZone`` is
pinned to UTC so timestamp values hash identically to the DuckDB
oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "crm_etl_pipeline_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned local SparkSession.

    On a real cluster the master/memory settings come from spark-submit;
    everything under ``spark.sql.*`` below is cluster-appropriate as-is.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # env-overridable split size: the cluster default (128 MB) is
        # right for columnar scan work, but a per-ROW-expensive stage
        # (the multimodal Arrow codecs: ~0.3 ms/file of Python per WAV/
        # MP4) saturates a 100 TB cluster only because the real corpus
        # is millions of files — a single-file local fixture needs
        # smaller splits to reproduce that parallelism (the sf10
        # documents fixture is ONE 145 MB row group = one task at the
        # default; SCALE.md audio decade documents the artifact)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES", str(128 * 1024 * 1024)
            ),
        )
        # events.parquet stores TIMESTAMP(NANOS); read nanos as long once,
        # globally, instead of mutating session conf inside readers
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed tables (bucketing.py) land here, never in the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/crm_etl_warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def enable_runtime_bloom_filters(
    spark: SparkSession,
    application_side_min: str = "10GB",
    creation_side_max: str = "10MB",
) -> dict[str, str | None]:
    """Turn on Spark's runtime bloom-filter join pruning (semi-join
    reduction): a selective filter on one join side builds a bloom
    filter that pre-filters the big side's shuffle — at 100 TB the
    difference between shuffling the whole fact table and shuffling
    only rows that can match. The defaults mirror Spark's cluster
    guardrails (only bother when the big side scans ≥ 10 GB and the
    filtered build side stays ≤ 10 MB of aggregated scan); tests lower
    them to observe injection (`might_contain` + `bloom_filter_agg` in
    the plan) at fixture scale. Returns the previous conf values so a
    caller can restore them."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": application_side_min,
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": creation_side_max,
    }
    previous: dict[str, str | None] = {}
    for k, v in confs.items():
        previous[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    return previous
