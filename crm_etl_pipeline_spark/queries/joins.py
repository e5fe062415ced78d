"""Join family (SURVEY §2.5 J1–J3): the reference's data model implies
FK joins (`app`-type fields, `PodioApiWrapper.py:68-69`), catalog
enrichment joins, and queue-vs-completed semi/anti joins
(`PodioApiGateway.py:143-145`). The engine exposes the full family;
Catalyst picks broadcast vs sort-merge (dims below the 64 MB threshold
broadcast automatically; AQE can demote at runtime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import query


@query(
    "join_fk_enrichment",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, n_name AS nation_name, r_name AS region_name
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    """,
    survey="J1,J2 (item→referenced item + item→catalog; PodioApiWrapper.py:68-69)",
)
def join_fk_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop FK dereference: fact → dim → dim → dim. nation/region are
    constant-size, and so is Catalyst's estimate of them, so the
    planner broadcasts them without a hint; customer is fact-scaled
    (tens of GB at the 100 TB design point) → no hint, AQE decides."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            "o_orderkey",
            "o_totalprice",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


@query(
    "join_left_missing",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey
    FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
      ON c_custkey = o_custkey
    WHERE o_orderkey IS NULL
    """,
    survey="J-family left + null-probe (F3 key-presence dispatch analog)",
)
def join_left_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no very-large orders via left join + IS NULL probe."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .filter(F.col("o_orderkey").isNull())
        .select("c_custkey", "c_name", "o_orderkey")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
    survey="J3 (queue⋈items enrichment as left_semi; PodioApiGateway.py:124)",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left_semi — no row duplication from the many side."""
    cust = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
    survey="J3,L4 (queue-vs-completed dedup as left_anti; PodioApiGateway.py:143-145)",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left_anti — the reference's completed-queue dedup
    shape (delete pending events whose key already completed)."""
    cust = table(spark, sf_dir, "customer")
    pending = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(pending, cust.c_custkey == pending.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nk, s.nk) AS nationkey, n_customers, n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
    survey="J-family full outer (drift-diff building block)",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer alignment of two aggregates — the snapshot-diff shape."""
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .alias("c")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
        .alias("s")
    )
    return c.join(s, F.col("c.nk") == F.col("s.nk"), "full_outer").select(
        F.coalesce(F.col("c.nk"), F.col("s.nk")).alias("nationkey"),
        "n_customers",
        "n_suppliers",
    )


@query(
    "setops_segments",
    oracle="""
    SELECT c_custkey, 'both' AS src FROM
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    UNION ALL
    SELECT c_custkey, 'building_only' AS src FROM
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       EXCEPT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
    survey="set ops (union/intersect/except; engine completeness)",
)
def setops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over key sets."""
    building = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    open_orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    both = building.intersect(open_orders).withColumn("src", F.lit("both"))
    only = building.subtract(open_orders).withColumn("src", F.lit("building_only"))
    return both.unionAll(only)


@query(
    "skew_salted_join",
    oracle="""
    SELECT c_mktsegment, event_type,
           COUNT(*) AS n_events,
           -- decimal -> double via VARCHAR: DuckDB's direct cast double-
           -- rounds past 2^53 scaled units (extreme_values probe); the
           -- string parse is correctly rounded like Spark's BigDecimal
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM events e
    JOIN (SELECT c_custkey, MIN(c_mktsegment) AS c_mktsegment
          FROM customer GROUP BY c_custkey) c
      ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment, event_type
    """,
    survey="J-skew (salted hot-key fact⋈dim join == plain join; PodioApiWrapper.py:68-69 app-FK at celebrity-item scale)",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join: the manual skew escape hatch for a
    mega-hot join KEY, proven result-identical to the plain join (the
    oracle is the unsalted SQL — the salted plan is a pure
    re-partitioning of the same computation, the salted-aggregation
    twin of ``salted_user_event_totals``).

    The 100 TB reality this models: the reference's ``app``-field FK
    join (`PodioApiWrapper.py:68-69`) where one celebrity item owns a
    double-digit percentage of all references. A plain shuffle join
    hashes every copy of that key to ONE reducer; AQE's skew-join split
    (on and tested, `tests/test_skew.py`) fixes most of it at runtime
    by splitting the oversized PARTITION, but it only activates for
    sort-merge/shuffle-hash plans under its size thresholds and cannot
    help a streaming or hinted plan. Salting is the explicit,
    always-available form of the same idea: the fact side extends the
    join key with a deterministic salt in [0, S) — pmod+coalesce so
    NULL/negative ids salt symmetrically instead of dropping (the
    round-10 advisor's `%` hazard) — and the dim side replicates each
    row S times via explode(sequence), so the hot key's probe work
    lands on S reducers instead of one. S=16 matches the salted-agg
    twin; at 100 TB you size S ~ (hot-key rows / healthy-partition
    rows).

    The dim side goes through the identity-grain winner first (MIN
    segment per custkey, the flagship's round-10 collision contract) —
    a collided c_custkey would otherwise fan out every matching fact
    row. The sort-merge hint keeps the demonstrated plan honest at
    fixture scale: without it Catalyst broadcasts the small replicated
    dim and the salt never reaches an exchange (at 100 TB the dim is
    fact-scaled customer — tens of GB replicated 16x — and broadcast
    is off the table anyway; the hint is what the optimizer would
    conclude on real stats). The salt columns are join plumbing only:
    they never reach the aggregate, whose (segment, event_type) output
    grain is collision- and duplicate-symmetric (count-as-given, the
    gateway contract: byte-identical re-sends count on both sides)."""
    n_salt = 16
    dim = (
        table(spark, sf_dir, "customer")
        .groupBy("c_custkey")
        .agg(F.min("c_mktsegment").alias("c_mktsegment"))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    )
    fact = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(n_salt))
        .cast("int")
        .alias("salt"),
    )
    joined = fact.join(
        dim.hint("merge"),
        (fact.user_id == dim.c_custkey) & (fact.salt == dim.salt),
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
