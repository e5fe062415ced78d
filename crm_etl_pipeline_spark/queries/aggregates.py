"""Aggregation extensions (SURVEY §2.6 + engine completeness): multi-
level rollup/cube, pivot, distinct aggs, approximate aggs, and the
per-key version-count shape implied by the versioned item store
(`PodioApiGateway.py:132-137`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import query


@query(
    "version_counts_per_key",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_versions,
           MAX(ts) AS latest_ts,
           MIN(ts) AS first_ts,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
    survey="A3 (per-key version count; PodioApiGateway.py:132-137)",
)
def version_counts_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History depth per key — the versioned-store bookkeeping query."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.max("ts").alias("latest_ts"),
            F.min("ts").alias("first_ts"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


@query(
    "rollup_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    survey="A-family (rollup w/ grouping ids)",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals; GROUPING() distinguishes real NULLs from
    subtotal rows (cross-engine safe)."""
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
    )


@query(
    "cube_lineitem_flags",
    # HAVING n > 0 pins the empty-relation contract: the SQL standard
    # (and DuckDB) emit the grand-total grouping-set row with COUNT 0
    # over an empty input, while Spark's cube emits nothing — the
    # symmetric filter makes "cube of empty is empty" the contract in
    # both engines and is a no-op on any non-empty input (every
    # materialized cell has n >= 1). Found by the empty_lineitem sweep
    # probe.
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
    survey="A-family (cube)",
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^2 grouping combinations in one pass (Expand operator).
    Empty-relation contract: cube of empty is empty (see oracle
    comment; Spark already behaves this way, the filter keeps the
    declared semantics engine-symmetric)."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
        )
        .filter(F.col("n") > 0)
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
    survey="A-family (pivot / conditional agg)",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (required at scale — implicit
    pivot triggers an extra distinct pass over 100 TB)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            *[
                F.coalesce(F.col(v), F.lit(0)).alias(f"status_{v}")
                for v in ("O", "F", "P")
            ],
        )
    )


@query(
    "having_filter",
    oracle="""
    SELECT l_suppkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY l_suppkey
    HAVING COUNT(*) >= 20
    """,
    survey="A-family + post-agg filter (HAVING)",
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING) — filter after groupBy."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
        )
        .filter(F.col("n_items") >= 20)
    )


@query(
    "kmv_distinct_sketch",
    oracle="""
    WITH dist AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), hashed AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) AS hv
      FROM dist
    ), kth AS (
      SELECT event_type, hv AS kth_hv
      FROM (SELECT event_type, hv,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
            FROM hashed)
      WHERE rn = 64
    ), exact AS (
      SELECT event_type, COUNT(*) AS n_exact FROM dist GROUP BY event_type
    )
    SELECT exact.event_type, n_exact,
           63 * POW(16, 13) / kth_hv AS kmv_estimate
    FROM exact JOIN kth ON exact.event_type = kth.event_type
    """,
    survey="§2.9/custom sketch (KMV distinct-count estimator — deterministic, oracle-able)",
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch: estimate |distinct users| per
    event type from the 64th-smallest md5 fraction — (k-1)/F(k).

    Unlike HLL (approx_count_distinct), KMV over a fixed hash is fully
    deterministic, so the estimate itself is oracle-checked, and the
    exact count sits beside it for error inspection. Scale shape: the
    k smallest hashes per group are a tiny mergeable summary — the
    same partial-aggregate pattern HLL uses, here in pure column
    algebra (distinct → hash → per-group rank ≤ k).
    """
    from pyspark.sql import Window

    dist = table(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    hashed = dist.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    w = Window.partitionBy("event_type").orderBy("hv")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 64)
        .select("event_type", F.col("hv").alias("kth_hv"))
    )
    exact = dist.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    return exact.join(kth, "event_type").select(
        "event_type",
        "n_exact",
        (F.lit(63) * F.pow(F.lit(16), F.lit(13)) / F.col("kth_hv")).alias("kmv_estimate"),
    )


@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
    survey="A-family (exact linear-interpolated percentiles per group)",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per event type — both
    engines interpolate (1-f)·a + f·b over the sorted doubles, so the
    results are bit-identical (verified). The approximate sibling at
    scale is approx_percentile / t-digest; exact needs a per-group sort
    and is fine when groups fit an executor."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.9).alias("p90"),
            F.percentile("value", 0.99).alias("p99"),
        )
    )


_GK_ACCURACY = 10000


def gk_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw Greenwald-Khanna percentile sketch values per event type.

    Not driver-registered on its own: GK values cannot equal DuckDB's
    t-digest values (different algorithms by design), so the registered
    query below checks the GK RANK-ERROR GUARANTEE instead — a property
    both engines can agree on exactly."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, _GK_ACCURACY).alias("p50"),
            F.percentile_approx("value", 0.9, _GK_ACCURACY).alias("p90"),
            F.percentile_approx("value", 0.99, _GK_ACCURACY).alias("p99"),
        )
    )


@query(
    "approx_value_percentiles",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE) / {_GK_ACCURACY} AS max_rank_err,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
    GROUP BY event_type
    """,
    survey="A-family at scale (approx_percentile / GK sketch — the 100 TB percentile path)",
)
def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB sibling of value_percentiles, SELF-CHECKING: compute
    the Greenwald-Khanna sketch (percentile_approx — bounded mergeable
    summary, map-side partials, one shuffle of sketches), then verify
    the GK contract in-engine: each returned value's rank interval
    [#{v < p} + 1, #{v ≤ p}] must intersect q·n ± (n/accuracy + 1) —
    the +1 absorbs the floor/ceil target-rank convention. The oracle is
    the all-TRUE twin, so the driver records a REAL hash match for the
    sketch path instead of a rows-only row. Exact percentiles need the
    full group sorted on one executor; the GK summary is the standard
    100 TB answer (accuracy=10000 → ±0.01% rank error, KBs per group).

    Scale shape: one broadcast of the per-group sketch values back onto
    the events scan, one count-aggregate pass — both trivially
    partition-parallel.

    NULL symmetry: percentile_approx ranks only non-null values, so the
    rank counts (and n) filter NULL values — and NULL event_type groups
    would survive a GROUP BY but not the inner equi-join — so both are
    filtered identically here and in the oracle's WHERE clause."""
    ev = (
        table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
    )
    sk = gk_percentile_sketch(spark, sf_dir)
    # one sketch row per event type
    j = ev.join(F.broadcast(sk), "event_type")
    aggs = [F.count(F.lit(1)).alias("n")]
    for p in ("p50", "p90", "p99"):
        aggs.append(
            F.sum(F.when(F.col("value") < F.col(p), 1).otherwise(0)).alias(f"lt_{p}")
        )
        aggs.append(
            F.sum(F.when(F.col("value") <= F.col(p), 1).otherwise(0)).alias(f"le_{p}")
        )
    agg = j.groupBy("event_type").agg(*aggs)

    def ok(q: float, p: str) -> F.Column:
        target = F.lit(q) * F.col("n").cast("double")
        slack = F.col("n").cast("double") / F.lit(float(_GK_ACCURACY)) + F.lit(1.0)
        return ((F.col(f"lt_{p}") + 1).cast("double") <= target + slack) & (
            F.col(f"le_{p}").cast("double") >= target - slack
        )

    return agg.select(
        "event_type",
        "n",
        (F.col("n").cast("double") / _GK_ACCURACY).alias("max_rank_err"),
        ok(0.5, "p50").alias("p50_ok"),
        ok(0.9, "p90").alias("p90_ok"),
        ok(0.99, "p99").alias("p99_ok"),
    )


@query(
    "grouping_sets_region_segment",
    oracle="""
    SELECT r_name, c_mktsegment,
           CAST(GROUPING(r_name) * 2 + GROUPING(c_mktsegment) AS BIGINT) AS gid,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))
    """,
    survey="A-family (explicit GROUPING SETS — the general form of rollup/cube)",
)
def grouping_sets_region_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (not expressible as rollup or cube):
    (region, segment) + each margin, with grouping_id disambiguating
    NULL-as-aggregate from NULL-as-value. Plans as one Expand + one
    shuffle — same cost model as rollup; the dims are broadcast."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupingSets(
        [["r_name", "c_mktsegment"], ["r_name"], ["c_mktsegment"]],
        "r_name",
        "c_mktsegment",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
    )


@query(
    "kmv_sketch_merge",
    oracle="""
    WITH dist AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
             CAST(ts AS DATE) AS day, user_id
      FROM events GROUP BY 1, 2, 3
    ), hashed AS (
      SELECT week, day,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) AS hv
      FROM dist
    ), daily_sketch AS (
      SELECT week, day, hv
      FROM hashed QUALIFY ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv) <= 64
    ), merged_kth AS (
      SELECT week, hv AS kth_m FROM (
        SELECT week, hv, ROW_NUMBER() OVER (PARTITION BY week ORDER BY hv) AS rn
        FROM (SELECT DISTINCT week, hv FROM daily_sketch)
      ) WHERE rn = 64
    ), direct_kth AS (
      SELECT week, hv AS kth_d FROM (
        SELECT week, hv, ROW_NUMBER() OVER (PARTITION BY week ORDER BY hv) AS rn
        FROM (SELECT DISTINCT week, hv FROM hashed)
      ) WHERE rn = 64
    ), exact AS (
      SELECT week, COUNT(DISTINCT user_id) AS n_exact FROM dist GROUP BY week
    )
    SELECT e.week, n_exact,
           63 * POW(16, 13) / kth_m AS est_merged,
           63 * POW(16, 13) / kth_d AS est_direct,
           kth_m = kth_d AS merge_lossless
    FROM exact e JOIN merged_kth m ON e.week = m.week
    JOIN direct_kth d ON e.week = d.week
    """,
    survey="§2.9/custom sketch (KMV MERGE: per-day sketches union to the exact weekly sketch)",
)
def kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeability proof for the KMV sketch, oracle-checked: build
    a 64-minimum sketch per DAY, union the daily sketches per week and
    re-take the 64 minima, and the merged weekly sketch's k-th value
    must EQUAL the sketch built directly from the week's raw data
    (`merge_lossless` = true for every week) — because any hash among
    the week's global 64 minima is necessarily among its day's 64
    minima. This is the property that lets 1000 executors sketch
    partitions independently and combine results at O(k) each, the
    same partial/merge contract HLL has, here fully deterministic.
    Exact weekly distincts sit beside both estimates for error
    inspection."""
    from pyspark.sql import Window

    dist = (
        table(spark, sf_dir, "events")
        .select(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"),
            F.to_date("ts").alias("day"),
            "user_id",
        )
        .distinct()
    )
    hashed = dist.select(
        "week",
        "day",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    day_w = Window.partitionBy("day").orderBy("hv")
    daily_sketch = (
        hashed.withColumn("rn", F.row_number().over(day_w))
        .filter(F.col("rn") <= 64)
        .select("week", "hv")
        .distinct()
    )

    def kth(df: DataFrame, alias: str) -> DataFrame:
        w = Window.partitionBy("week").orderBy("hv")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 64)
            .select("week", F.col("hv").alias(alias))
        )

    merged = kth(daily_sketch, "kth_m")
    direct = kth(hashed.select("week", "hv").distinct(), "kth_d")
    exact = dist.groupBy("week").agg(F.countDistinct("user_id").alias("n_exact"))
    est = lambda c: F.lit(63) * F.pow(F.lit(16), F.lit(13)) / F.col(c)  # noqa: E731
    return (
        exact.join(merged, "week")
        .join(direct, "week")
        .select(
            "week",
            "n_exact",
            est("kth_m").alias("est_merged"),
            est("kth_d").alias("est_direct"),
            (F.col("kth_m") == F.col("kth_d")).alias("merge_lossless"),
        )
    )


_IVM_CUTOFF = "1996-01-01"


def _priority_state(df: DataFrame) -> DataFrame:
    """Mergeable partial-aggregate state for the per-priority rollup:
    (count, decimal sum) — everything the final metrics derive from."""
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s_price"),
    )


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
    survey="A1-A3 (incremental view maintenance: base+delta partial-state merge == full recompute, proven by the oracle hash)",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the per-priority revenue
    rollup is maintained as mergeable partial state (count, exact
    DECIMAL sum) — the base state from orders before 1996 merges with
    the delta state from orders after via a key-grain full-outer
    coalesce-add, and the ORACLE computes the naive full recompute:
    the hash match IS the proof that the merge operator is exact. The
    derived metrics (total, average) come off the merged state, never
    off per-partition averages — the classic IVM rule that avg is
    maintainable only through (sum, count).

    Scale shape: at 100 TB the base state is a stored table of
    |priorities| rows; each refresh aggregates ONLY the delta
    partition (map-side partial agg into 5 keys) and merges in a
    broadcast-size join — refresh cost is O(delta), not O(table),
    which is the entire point of maintaining the view incrementally.
    The same (count, decimal-sum) state merges associatively across
    any number of deltas, so compaction cadence is free to vary."""
    orders = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice", "o_orderdate")
    cutoff = F.lit(_IVM_CUTOFF).cast("date")
    base = _priority_state(orders.filter(F.col("o_orderdate") < cutoff))
    delta = _priority_state(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.alias("b")
        .join(delta.alias("d"), F.col("b.o_orderpriority") == F.col("d.o_orderpriority"), "full_outer")
        .select(
            F.coalesce(F.col("b.o_orderpriority"), F.col("d.o_orderpriority")).alias("o_orderpriority"),
            (
                F.coalesce(F.col("b.n_orders"), F.lit(0))
                + F.coalesce(F.col("d.n_orders"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("b.s_price"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("d.s_price"), F.lit(0).cast("decimal(18,2)"))
            ).alias("s_price"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("s_price").cast("double").alias("total_price"),
        (F.col("s_price").cast("double") / F.col("n_orders")).alias("avg_price"),
    )


@query(
    "approx_distinct_selfcheck",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
    survey="A+ (HLL++ approx distinct, self-checking against the exact count at a 10% bound — the GK-sketch oracle pattern)",
)
def approx_distinct_selfcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type, checked
    in-query against the exact count: ``within_bound`` asserts the
    estimate lands within 10% of truth (5x the configured 2% rsd).
    Sketch internals differ across engines, so — like the GK
    percentile sketch's rank self-check — the estimate itself never
    crosses the output edge; the ORACLE recomputes the exact count and
    pins ``within_bound`` TRUE, so the hash match proves Spark's HLL
    actually met its error contract on this data. HLL++ is
    deterministic given the data (hash-based, no RNG), so the check
    cannot flake.

    Scale shape: the sketch is the point — a fixed few-KB register
    array per group, mergeable across partitions (map-side partial
    merge), where COUNT(DISTINCT) must shuffle every distinct key.
    The exact count rides along here only to judge the sketch; at
    100 TB you would drop it and keep the HLL column alone."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_est"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("n_est") - F.col("n_exact"))
                <= 0.1 * F.col("n_exact")
            ).alias("within_bound"),
        )
    )


@query(
    "kmv_set_intersection",
    oracle="""
    WITH tu AS (
      SELECT DISTINCT event_type AS t, user_id AS u FROM events
    ), types AS (
      SELECT DISTINCT t FROM tu
    ), pairs AS (
      SELECT a.t AS t1, b.t AS t2 FROM types a JOIN types b ON a.t < b.t
    ), hashed AS (
      SELECT t, u,
             CAST('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 13) AS BIGINT) AS hv
      FROM tu
    ), kth AS (
      SELECT t, hv AS kth_hv
      FROM (SELECT t, hv, ROW_NUMBER() OVER (PARTITION BY t ORDER BY hv) AS rn
            FROM hashed)
      WHERE rn = 64
    ), memb AS (
      SELECT DISTINCT p.t1, p.t2, h.u, h.hv
      FROM pairs p JOIN hashed h ON h.t = p.t1 OR h.t = p.t2
    ), ukth AS (
      SELECT t1, t2, hv AS union_kth
      FROM (SELECT t1, t2, hv,
                   ROW_NUMBER() OVER (PARTITION BY t1, t2 ORDER BY hv) AS rn
            FROM memb)
      WHERE rn = 64
    ), exact AS (
      SELECT a.t AS t1, b.t AS t2, COUNT(*) AS n_exact_intersection
      FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
      GROUP BY a.t, b.t
    )
    SELECT p.t1, p.t2,
           63 * POW(16, 13) / k1.kth_hv AS est_t1,
           63 * POW(16, 13) / k2.kth_hv AS est_t2,
           63 * POW(16, 13) / uk.union_kth AS est_union,
           63 * POW(16, 13) / k1.kth_hv + 63 * POW(16, 13) / k2.kth_hv
             - 63 * POW(16, 13) / uk.union_kth AS est_intersection,
           e.n_exact_intersection
    FROM pairs p
    JOIN kth k1 ON k1.t = p.t1
    JOIN kth k2 ON k2.t = p.t2
    JOIN ukth uk ON uk.t1 = p.t1 AND uk.t2 = p.t2
    JOIN exact e ON e.t1 = p.t1 AND e.t2 = p.t2
    """,
    survey="§2.9 sketch set-algebra (KMV union/intersection by inclusion-exclusion, audience overlap)",
)
def kmv_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from KMV sketches: for every pair of
    event types, the distinct-user cardinality of each side and of the
    UNION comes from the 64th-smallest md5 fraction, and the
    intersection follows by inclusion-exclusion (|A∩B| = |A|+|B|−|A∪B|)
    — the exact intersection count sits beside the estimate. The union
    sketch demonstrates the KMV property that makes sketches useful at
    warehouse scale: merging two audiences never rescans them, it
    merges two 64-value summaries (kmv_sketch_merge proves the merge
    law; this query applies it to set algebra).

    Determinism: same fixed-hash KMV as kmv_distinct_sketch
    (aggregates.py:173) — the estimates themselves are oracle-checked,
    not just error-bounded. Scale shape: everything after the one
    distinct (type,user) aggregate operates on per-type 64-row
    summaries and a ≤ C(types,2)-row pair list (broadcast); the
    pairwise union membership re-ranks tiny sets, and the exact
    intersection is a user-key equi-join of the SAME distinct frame —
    one shuffle reused, never an all-users cross."""
    from pyspark.sql import Window

    tu = (
        table(spark, sf_dir, "events")
        .select(F.col("event_type").alias("t"), F.col("user_id").alias("u"))
        .distinct()
    )
    hashed = tu.select(
        "t",
        "u",
        F.conv(F.substring(F.md5(F.col("u").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    wk = Window.partitionBy("t").orderBy("hv")
    kth = (
        hashed.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == 64)
        .select("t", F.col("hv").alias("kth_hv"))
    )
    # exact co-membership: the user-key equi-join drives a hash join and
    # the t1 < t2 ordering is a post-filter — never a type×type nested
    # loop. The pair list itself derives from this frame (pairs with an
    # empty intersection would be dropped by the final inner join anyway,
    # exactly as in the oracle).
    exact = (
        tu.alias("x")
        .join(tu.alias("y"), "u")
        .filter(F.col("x.t") < F.col("y.t"))
        .groupBy(F.col("x.t").alias("t1"), F.col("y.t").alias("t2"))
        .agg(F.count(F.lit(1)).alias("n_exact_intersection"))
    )
    pairs = exact.select("t1", "t2")
    # union membership per pair: two broadcast EQUI-joins on the type key
    # unioned, then distinct — equivalent to the oracle's OR join but
    # hash-joinable (no BroadcastNestedLoopJoin anywhere in this plan)
    # pairs: at most C(types, 2) rows; the hints make them the build side
    memb = (
        hashed.join(F.broadcast(pairs), hashed["t"] == pairs["t1"])
        .select("t1", "t2", "u", "hv")
        .unionAll(
            hashed.join(F.broadcast(pairs), hashed["t"] == pairs["t2"]).select(
                "t1", "t2", "u", "hv"
            )
        )
        .distinct()
    )
    wu = Window.partitionBy("t1", "t2").orderBy("hv")
    ukth = (
        memb.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") == 64)
        .select("t1", "t2", F.col("hv").alias("union_kth"))
    )
    scale = F.lit(63) * F.pow(F.lit(16), F.lit(13))
    est1 = scale / F.col("kth_hv1")
    est2 = scale / F.col("kth_hv2")
    estu = scale / F.col("union_kth")
    # kth: one row per type; ukth and exact: one row per type pair
    return (
        pairs.join(
            F.broadcast(kth.select(F.col("t").alias("t1"), F.col("kth_hv").alias("kth_hv1"))),
            "t1",
        )
        .join(
            F.broadcast(kth.select(F.col("t").alias("t2"), F.col("kth_hv").alias("kth_hv2"))),
            "t2",
        )
        .join(F.broadcast(ukth), ["t1", "t2"])
        .join(F.broadcast(exact), ["t1", "t2"])
        .select(
            "t1",
            "t2",
            est1.alias("est_t1"),
            est2.alias("est_t2"),
            estu.alias("est_union"),
            (est1 + est2 - estu).alias("est_intersection"),
            "n_exact_intersection",
        )
    )
