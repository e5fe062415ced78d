"""Source layer: parquet table readers for the fixture star schema.

Reference parity: the reference's scans are paginated REST extractions
with server-side filter/limit pushdown (`PodioApiWrapper.py:104-167`).
Here a scan is a declarative ``spark.read.parquet`` — Catalyst pushes
filters to the parquet row-group level and prunes columns, and file
splits replace the manual offset loop with partition parallelism, so
at 100 TB the same one-liner becomes a 1000-way parallel scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a µs TimestampType across fixture
    vintages: TIMESTAMP(NANOS) files arrive as a nanos long (via the
    nanosAsLong legacy conf) and are converted with integer arithmetic
    (no double round-trip — ns since epoch exceeds double's 53-bit
    mantissa); TIMESTAMP(MICROS) files arrive as TIMESTAMP_NTZ and are
    cast (identity under the UTC session timezone). DuckDB reads both
    as naive µs timestamps, so oracle comparisons agree either way.

    The NTZ→timestamp cast reinterprets wall-time in the SESSION
    timezone, so the micros branch (unlike the tz-free nanos branch)
    requires UTC; session.py pins it, and the guard below covers
    sessions built elsewhere — same pattern as ``ensure_nanos_as_long``.
    (UTC is an engine-wide contract anyway: every timestamp-producing
    oracle comparison depends on it.)"""
    from pyspark.sql.types import LongType

    spark = df.sparkSession
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Let the parquet reader load TIMESTAMP(NANOS) columns as a nanos
    long. session.py sets this at session build; sessions built
    elsewhere get a one-time guarded set here — it is a session-wide
    legacy conf with no per-read equivalent."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (S1 family: filter/limit/projection pushdown
    happen automatically once callers chain .filter/.select).

    ``events.parquet`` may store TIMESTAMP(NANOS), which Spark's parquet
    reader rejects; ``normalize_event_ts`` handles both that vintage and
    the plain-µs one.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    if name == "events":
        ensure_nanos_as_long(spark)
        return normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

