"""Storage layout primitives for scan efficiency at 100 TB.

The reference loads everything into MongoDB collections and scans them
whole (`PodioApiGateway.py:111-137`); at warehouse scale the layout IS
the index. Two primitives:

- **Directory partitioning** (`write_date_partitioned`): one
  directory per day. A literal date predicate never touches the other
  days' files — Catalyst resolves it against the partition index at
  plan time (`PartitionFilters` in the scan node), so a one-day query
  on a 10-year corpus lists ~0.03 % of the files. A join against a
  filtered dimension on the partition column upgrades to dynamic
  partition pruning at runtime.
- **Range-sorted files** (`write_range_sorted`): global range
  partitioning + in-file sort gives every parquet file a disjoint
  min/max envelope on the sort key, so row-group statistics skip
  whole files for selective range predicates — the poor man's
  clustered index, and the layout a time-series fact table should
  ship with.

Both are one shuffle at write time, amortized over every later read.
tests/test_layout.py asserts the pruning is real (plan inspection) and
the envelopes are disjoint (parquet footer statistics), not assumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_date_partitioned(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Write one directory per event date. The repartition on the
    derived date keys co-locates each day before the write so a day's
    rows land in O(1) files instead of one file per upstream task —
    at 1000 executors the difference between 365 and 365 000 files a
    year."""
    (
        df.withColumn("event_date", F.to_date(F.col(ts_col)))
        .repartition(F.col("event_date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def read_day(spark: SparkSession, path: str, day: str) -> DataFrame:
    """Literal one-day read — prunes statically to a single partition
    directory (PartitionFilters, verified in tests/test_layout.py)."""
    return spark.read.parquet(path).filter(F.col("event_date") == F.lit(day))


def write_range_sorted(df: DataFrame, path: str, col: str, n_files: int) -> None:
    """Range-partition globally on `col`, sort within each partition,
    write — every output file covers a disjoint key range (footer
    min/max verified in tests), enabling file- and row-group-level
    skipping for range predicates on `col`."""
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zvalue(a, b):
    """Morton (Z-order) interleave of two 16-bit bucket ranks into one
    32-bit curve position — pure integer column algebra (shift/AND/OR
    magic-number bit spreading), identical arithmetic in any engine,
    so a DuckDB oracle can recompute it bit-exactly.

    Sorting files by z-value bounds EVERY file's min/max envelope on
    BOTH dimensions at once (a linear sort bounds only its own key):
    a 2-D range predicate then skips files via ordinary parquet footer
    statistics on the two raw columns — multi-dimensional clustering
    with zero new machinery at read time. The curve is the layout the
    big table formats call Z-ORDER; here it is ~10 Catalyst expressions.
    """
    def spread(x):
        # 16 bits → even bit positions of a 32-bit lane
        x = x.bitwiseAND(F.lit(0xFFFF))
        x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
        x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
        x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
        return x

    return spread(a.cast("bigint")).bitwiseOR(
        F.shiftleft(spread(b.cast("bigint")), 1)
    )


def write_zordered(df: DataFrame, path: str, zcol: str, n_files: int) -> None:
    """Range-partition globally on the precomputed z-value column and
    sort within each file — every output file covers a disjoint curve
    segment, hence a bounded box in BOTH original dimensions (footer
    envelopes asserted in tests/test_layout.py). One shuffle at write
    time, same cost shape as write_range_sorted."""
    (
        df.repartitionByRange(n_files, F.col(zcol))
        .sortWithinPartitions(zcol)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zordered_segments(df: DataFrame, path: str, zcol: str, seg_col: str) -> None:
    """Write a Z-ordered store as one directory per CURVE SEGMENT
    (``seg_col`` must be a prefix of ``zcol`` — e.g. ``zval >> k`` — so
    every segment directory covers a contiguous curve range, hence a
    bounded box in both original dimensions). The repartition on the
    segment key lands each segment's rows in O(1) files, sorted along
    the curve. Unlike write_zordered's range partitioning, segment
    boundaries are STATIC (a bit prefix), which is what makes
    incremental maintenance possible: a later delta row maps to its
    segment by arithmetic alone — no boundary metadata to read or
    version."""
    (
        df.repartition(F.col(seg_col))
        .sortWithinPartitions(seg_col, zcol)
        .write.mode("overwrite")
        .partitionBy(seg_col)
        .parquet(path)
    )


def compact_zordered_increment(
    spark: SparkSession, store_path: str, delta: DataFrame, zcol: str, seg_col: str
) -> None:
    """Incremental Z-order compaction — merge unsorted delta rows into
    the curve order rewriting ONLY the segments they touch: the
    Z-order twin of streaming.compact_store. The merged frame is
    (touched base segments ∪ delta) re-sorted along the curve; the
    write uses Spark's dynamic partition overwrite, so a segment
    directory absent from the merged frame is left byte-identical on
    disk (asserted in tests/test_layout.py). At 100 TB this is the
    whole point: a day's appends touch the few curve segments their
    (time, key) boxes map to, and the maintenance job's cost is
    proportional to the TOUCHED data, never the store size."""
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    affected = delta.select(seg_col).distinct()
    base = spark.read.parquet(store_path)
    # checkpoint BEFORE the overwrite: the merged frame reads the very
    # files the write replaces, and a lazy plan would scan them mid-
    # overwrite (Spark rejects the self-overwrite outright when it can
    # see it). The checkpoint materializes exactly the touched data —
    # the same bytes the job must move anyway, not an extra pass over
    # the store.
    merged = reliable_checkpoint(
        # touched segment ids: bounded by the curve's segment count
        base.join(F.broadcast(affected), seg_col, "left_semi").unionByName(delta)
    )
    (
        merged.repartition(F.col(seg_col))
        .sortWithinPartitions(seg_col, zcol)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(seg_col)
        .parquet(store_path)
    )


def regrain_month(spark: SparkSession, day_path: str, month_path: str) -> None:
    """Partition evolution: re-grain a day-partitioned store to month
    directories. A store laid out for day-grain queries accumulates
    365 directories a year; once a year ages into cold history, month
    grain serves the same scans from 12× fewer directories (and 12×
    fewer, 12× larger files after the regrain repartition — the same
    small-file argument as compaction, at directory level).

    One shuffle on the new grain, zero row changes — the re-grain must
    be invisible to every reader except through the partition column
    (proven by the unchanged-results-hash oracle of
    ``partition_evolution_regrain``). At 100 TB this runs on COLD
    partitions only: new writes land at the new grain while historical
    days re-grain month by month, each month an independent job — the
    store never locks, and a WAP-style staging flip publishes each
    re-grained month atomically."""
    df = spark.read.parquet(day_path)
    (
        df.withColumn("event_month", F.trunc(F.col("event_date"), "month"))
        .drop("event_date")
        .repartition(F.col("event_month"))
        .write.mode("overwrite")
        .partitionBy("event_month")
        .parquet(month_path)
    )
