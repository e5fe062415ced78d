"""Window / ordering / top-k operators (SURVEY §2.4 L1–L2 and the
"latest version" access pattern behind SCD2, §2.4 L3).

The reference's FIFO pop is `find_one(sort=[('timestamp', ASC)])`
(`PodioApiGateway.py:190`) and its latest-version lookup is
`find_one(sort=[('timestamp', -1)])` (`PodioApiGateway.py:165`);
both generalize to window functions partitioned by key. Every
orderBy here has a unique tiebreaker so results are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import query


@query(
    "latest_order_per_customer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey AS latest_orderkey, o_orderdate AS latest_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) t JOIN customer ON o_custkey = c_custkey
    WHERE rn = 1
    """,
    survey="L2 (latest-version lookup; PodioApiGateway.py:165)",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest row per key — the 'current version' access pattern."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    latest = (
        table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    cust = table(spark, sf_dir, "customer")
    return latest.join(cust, latest.o_custkey == cust.c_custkey).select(
        "c_custkey",
        "c_name",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_orderdate").alias("latest_orderdate"),
    )


@query(
    "running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM orders
    """,
    survey="window running agg (versioned-history roll-forward)",
)
def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running total in order-date order; DECIMAL
    accumulation keeps the prefix sums cross-engine exact."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_total"),
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_name, p_retailprice, rnk FROM (
      SELECT p_brand, p_partkey, p_name, p_retailprice,
             DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk
      FROM part
    ) t WHERE rnk <= 3
    """,
    survey="top-k per group (window rank)",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 priciest parts per brand via dense_rank (ties all kept, so
    the result is deterministic without a tiebreaker)."""
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        table(spark, sf_dir, "part")
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
        .withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "lag_order_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           DATE_DIFF('day',
                     -- placement spelled (round-13 composed-hazard find:
                     -- a NULL orderkey among tied dates placed first in
                     -- Spark, last in DuckDB, shifting the lag chain);
                     -- complete NULL-key ties produce interchangeable
                     -- same-date rows, so no further tiebreak needed
                     LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate NULLS FIRST,
                                                     o_orderkey NULLS FIRST),
                     o_orderdate) AS days_since_prev
    FROM orders
    """,
    survey="lag/lead (sessionization building block)",
)
def lag_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer (lag + datediff)."""
    w = Window.partitionBy("o_custkey").orderBy(
        # placement spelled on both sides (round-13 find)
        F.col("o_orderdate").asc_nulls_first(),
        F.col("o_orderkey").asc_nulls_first(),
    )
    prev = F.lag("o_orderdate").over(w)
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.datediff(F.col("o_orderdate"), prev).cast("long").alias("days_since_prev"),
    )


@query(
    "asof_join_latest_order",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS matched_orderkey,
           o.o_orderdate AS matched_orderdate
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
    survey="custom op: as-of join (latest order at-or-before each event; union+window merge)",
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, Spark-first: interleave both sides on (key, time) and
    propagate the last order with `last(ignorenulls)` over an unbounded
    window — the merge-join formulation: ONE shuffle on the key, no
    per-row subquery, no range explosion. DuckDB verifies with its
    native ASOF JOIN; equal-date orders are pre-collapsed to max
    orderkey so the match is unambiguous in both engines.
    """
    orders_d = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    o_rows = orders_d.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("kind"),  # orders sort before events at equal t (<=)
        "o_orderkey",
        F.lit(None).cast("bigint").alias("event_id"),
    )
    e_rows = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("o_orderkey"),
        "event_id",
    )
    w = (
        Window.partitionBy("key")
        .orderBy("t", "kind", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = o_rows.unionByName(e_rows).select(
        "key",
        "t",
        "kind",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("matched_orderkey"),
        F.last(F.when(F.col("kind") == 0, F.col("t")), ignorenulls=True)
        .over(w)
        .alias("matched_orderdate"),
    )
    return merged.filter(F.col("kind") == 1).select(
        "event_id",
        F.col("key").alias("user_id"),
        F.col("t").alias("ts"),
        "matched_orderkey",
        "matched_orderdate",
    )


@query(
    "range_join_clicks_before_purchase",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id,
           COUNT(c.ts) AS n_clicks,
           CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts < p.ts
    GROUP BY p.event_id
    """,
    survey="custom op: range join (clicks in the hour before each purchase)",
)
def range_join_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with an equi anchor: the user-key equality drives a
    hash join and the time band is a cheap post-filter, so there is no
    interval explosion. A pure range join (no equi key) would instead
    bucket time into coarse bins and join on the bin — the same banding
    idea as the LSH operators."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("value").alias("c_value")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.timestamp_add("HOUR", F.lit(-1), F.col("p_ts")))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    return (
        p.join(c, cond, "left")
        .groupBy("purchase_id")
        .agg(
            F.count("c_ts").alias("n_clicks"),
            F.sum(F.col("c_value").cast("decimal(18,2)")).cast("double").alias("click_value"),
        )
    )


@query(
    "sliding_1h_user_value",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY EPOCH_US(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS value_1h
    FROM events
    """,
    survey="ST-windows (sliding time-range frame: per-user 1h trailing sum)",
)
def sliding_1h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window: trailing 1-hour sum per user via a
    RANGE frame over epoch-µs — the time-based twin of the ROWS-frame
    running_revenue. Decimal accumulation keeps the double bit-exact;
    the frame bound is numeric µs so both engines cut the window at the
    same instant."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("value_1h"),
    )


@query(
    "salted_user_event_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           -- decimal -> double via VARCHAR: DuckDB's direct cast double-
           -- rounds past 2^53 scaled units (extreme_values probe); the
           -- string parse is correctly rounded like Spark's BigDecimal
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM events GROUP BY user_id
    """,
    survey="skew pattern (salted two-phase aggregation == plain groupBy)",
)
def salted_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: partial-aggregate on
    (user_id, salt) with a deterministic 16-way salt, then merge the
    partials per user. The oracle is the PLAIN groupBy — proving the
    salted plan is a pure re-partitioning of the same computation.

    This is the manual escape hatch for a mega-hot key whose single
    reduce task would straggle (AQE skew-join handles joins; skewed
    groupBy keys need salting like this). Decimal partials merge
    exactly, so the final doubles are unchanged.
    """
    salted = table(spark, sf_dir, "events").withColumn(
        "salt", (F.col("event_id") % 16).cast("int")
    )
    partial = salted.groupBy("user_id", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("double").alias("total_value"),
    )


@query(
    "ntile_order_value_quartiles",
    oracle="""
    WITH t AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    )
    SELECT o_orderpriority, quartile,
           COUNT(*) AS n_orders,
           CAST(MIN(price) AS DOUBLE) AS lo,
           CAST(MAX(price) AS DOUBLE) AS hi
    FROM t GROUP BY o_orderpriority, quartile
    """,
    survey="window family completeness (NTILE equi-depth bucketing per group)",
)
def ntile_order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quartiles of order value per priority class via NTILE
    — the binning primitive behind histogram/decile reports. NTILE's
    remainder rule (first buckets get the extra rows) is identical in
    Spark and DuckDB; the (price, key) order makes bucket edges
    deterministic. Partitioned by a low-cardinality key, so each
    partition sorts locally after one shuffle — no global sort."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    t = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return t.groupBy("o_orderpriority", "quartile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("price").cast("double").alias("lo"),
        F.max("price").cast("double").alias("hi"),
    )


@query(
    "percent_rank_acctbal",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    survey="window family completeness (percent_rank / cume_dist relative standing)",
)
def percent_rank_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing of each customer's balance within its segment:
    percent_rank = (rank-1)/(n-1) and cume_dist = rank_with_ties/n are
    defined identically in Spark and DuckDB, and the unique c_custkey
    tiebreak makes both bit-deterministic. Same one-shuffle-per-
    partition-key cost model as every other window here."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )


@query(
    "mom_revenue_growth",
    oracle="""
    WITH monthly AS (
      SELECT c.c_mktsegment,
             CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, date_trunc('month', o.o_orderdate)
    )
    SELECT c_mktsegment, month, revenue,
           LAG(revenue) OVER (PARTITION BY c_mktsegment ORDER BY month)
             AS prev_revenue,
           (revenue - LAG(revenue) OVER (PARTITION BY c_mktsegment
                                         ORDER BY month))
             / NULLIF(LAG(revenue) OVER (PARTITION BY c_mktsegment
                                         ORDER BY month), 0)
             AS mom_growth
    FROM monthly
    """,
    survey="§2.9 time-series (month-over-month growth per segment, lag window on pre-agg)",
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per market segment: aggregate
    order revenue to (segment, month) grain in exact DECIMAL, then a
    lag window computes the growth rate ((rev − prev)/prev, two IEEE
    ops on doubles derived once from exact sums; first month NULL).

    Scale shape: the window runs on the PRE-AGGREGATED frame — ~5
    segments × ~80 months, not on raw orders — so the sort inside each
    window partition is trivially bounded no matter the fact size; the
    only input-sized work is one partially-aggregated groupBy after the
    customer join. Customer grows with the data, so that join carries
    no hint: the planner broadcasts customer while its estimate fits the
    broadcast threshold and plans a sort-merge join past it. The
    anti-pattern this query is the counter-example to: lag over raw
    fact rows, which would sort the world."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "c_mktsegment",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "c_mktsegment",
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        # a zero-revenue prior month leaves growth undefined — NULL,
        # like the first month (try_divide / NULLIF symmetrically)
        F.try_divide(F.col("revenue") - prev, prev).alias("mom_growth"),
    )


@query(
    "ewma_user_value",
    oracle="""
    WITH RECURSIVE ordered AS (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL
    ), r AS (
      SELECT user_id, event_id, ts, value, rn, value AS ewma
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
             0.5 * o.value + 0.5 * r.ewma
      FROM ordered o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts, value, ewma FROM r
    """,
    survey="§2.8 Arrow grouped map (per-user EWMA — sequential recursion, applyInPandas)",
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    (α = 0.5, adjust=False: s₁ = x₁, sₜ = ½xₜ + ½sₜ₋₁) — the grouped
    sequential recursion that justifies the Arrow grouped-map path.
    Unlike every other operator in the package, this one has NO
    column-algebra form at the same rounding: the closed-form
    Σ 2⁻ᵏxᵢ re-associates the additions and drifts the hash, so the
    per-group recursion is executed literally — pandas ``ewm`` inside
    ``applyInPandas`` on the Spark side, a recursive CTE running the
    IDENTICAL IEEE sequence (products then one add per step, addition
    commutes) on the oracle side. α = ½ keeps both multiplications
    exact-scaling so the only rounding per step is the single add.

    Scale shape: one shuffle on user_id, then each group streams
    through an Arrow batch with O(n) state — the canonical "UDFs are
    the slow path, but THIS is what they're for" operator; group size
    is bounded by per-user activity, and the sort inside each group is
    the same bounded in-group sort every window query pays.

    NULL observations are excluded from the series in BOTH engines
    (symmetric IS NOT NULL): pandas ewm carries state past a NaN while
    the recursive CTE's NULL would poison every later step of that
    user's series — neither is the contract; an unobserved value simply
    isn't part of the average."""
    # ts crosses the Python boundary as epoch-MICROS (int64): the Arrow
    # bridge casts timestamp[us] to pandas datetime64[ns], which
    # overflows on any clock-skew event past 2262-04-11 and would kill
    # the whole stage for one bad row (far_future_ts probe, round 8);
    # integer micros order identically and convert back JVM-side
    events = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "value")
    )

    def ewma(pdf):
        pdf = pdf.sort_values(["ts_us", "event_id"])
        pdf["ewma"] = pdf["value"].ewm(alpha=0.5, adjust=False).mean()
        return pdf

    out = events.groupBy("user_id").applyInPandas(
        ewma,
        schema="user_id long, event_id long, ts_us long, value double, ewma double",
    )
    return out.select(
        "user_id",
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "value",
        "ewma",
    )
