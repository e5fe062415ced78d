"""CRM analytics operators: funnel, cohort retention, RFM, fuzzy record
linkage, and calendar gap-fill.

The reference is a CRM ETL (`PodioApiWrapper.py`, `PodioApiGateway.py`)
whose downstream consumers run exactly this family of questions over the
extracted store: how do leads convert stage-to-stage, how do cohorts
retain, which customers are most valuable, which records are duplicates
of each other, and what does activity look like on a dense calendar.
None of these exist in the reference code itself — they are the §2.9
extension surface a CRM warehouse serves — but every one reuses the
reference's extracted entities (events ≙ activity stream, orders ≙
deals, customer ≙ contacts).

Cross-engine determinism: integer counts and DECIMAL money accumulation
everywhere, doubles only at the output edge or as a single IEEE division
of exact integers; every ordering that feeds ntile/row_number carries a
unique tiebreaker.

Scale notes (100 TB):
- funnel: per-stage conditional aggregates chained by equi-joins on
  user_id — every stage is one hash aggregate + one shuffle on the same
  key, so AQE coalesces and there is no per-user iteration.
- cohort: two user-grain aggregates + one equi-join; the distinct count
  is Spark's two-phase partial-distinct aggregate (mergeable).
- RFM: the scoring windows partition by market segment (standard
  segment-relative RFM), which bounds window partitions; a corpus-global
  ntile would need a single-partition sort — for a truly global ranking
  the escalation is a range-partitioned sort plus per-partition rank
  offsets from prefix counts, implemented and hash-proven by
  ``global_rank_two_phase`` (queries/stats_q.py).
- linkage: classic ER blocking — candidate pairs come from an equi-join
  on a (nation, name-suffix) blocking key, never an all-pairs compare;
  block granularity is the knob that bounds bucket size, exactly like
  ``lsh.BUCKET_CAP`` bounds LSH buckets.
- gapfill: the calendar is densified per user from that user's own
  [first, last] purchase span (sequence + explode stays partition-local
  after one shuffle), and LOCF is a partitioned ignore-nulls window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crm_etl_pipeline_spark.attach import attach
from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import query

_FUNNEL = ("signup", "view", "click", "purchase")


@query(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE event_type = 'view' AND ts >= t1 GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE event_type = 'click' AND ts >= t2 GROUP BY e.user_id
    ), s4 AS (
      SELECT e.user_id, MIN(ts) AS t4 FROM events e JOIN s3 USING (user_id)
      WHERE event_type = 'purchase' AND ts >= t3 GROUP BY e.user_id
    ), counts AS (
      SELECT 1 AS stage_idx, 'signup' AS stage_name, COUNT(*) AS users_reached FROM s1
      UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
      UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
      UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4
    )
    SELECT stage_idx, stage_name, users_reached,
           -- an empty funnel (zero stage-1 users) converts nobody:
           -- every stage reads 0.0, not 0/0
           CASE WHEN (SELECT COUNT(*) FROM s1) = 0 THEN 0.0
                ELSE CAST(users_reached AS DOUBLE) / (SELECT COUNT(*) FROM s1)
           END AS conv_from_first
    FROM counts
    """,
    survey="§2.9 CRM analytics (strict ordered conversion funnel over the activity stream)",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict 4-stage funnel signup → view → click → purchase: a user
    reaches stage k only with an event of that type at-or-after their
    first qualifying stage-(k-1) event (first-touch chaining, the
    standard strict-order funnel).

    Each stage is one conditional scan + hash aggregate chained by an
    equi-join on user_id — no per-user sort, no array fold, so the
    per-stage state is one timestamp per user regardless of how many
    events a hot user has. The final conversion ratio is one IEEE
    division of two exact counts."""
    events = table(spark, sf_dir, "events")
    stage_first: list[DataFrame] = []
    prev: DataFrame | None = None
    for etype in _FUNNEL:
        cur = events.filter(F.col("event_type") == etype).select("user_id", "ts")
        if prev is not None:
            cur = cur.join(prev, "user_id").filter(F.col("ts") >= F.col("t_prev"))
        cur = cur.groupBy("user_id").agg(F.min("ts").alias("t_prev"))
        stage_first.append(cur)
        prev = cur
    counts = None
    for idx, (etype, stage) in enumerate(zip(_FUNNEL, stage_first), start=1):
        row = stage.agg(F.count(F.lit(1)).alias("users_reached")).select(
            F.lit(idx).alias("stage_idx"),
            F.lit(etype).alias("stage_name"),
            "users_reached",
        )
        counts = row if counts is None else counts.unionByName(row)
    first = stage_first[0].agg(F.count(F.lit(1)).alias("_u1"))
    out = attach(counts, first)
    # empty-funnel guard: zero stage-1 users means 0.0 conversion
    # everywhere, not 0/0 (ANSI crash / NaN divergence)
    conv = F.when(F.col("_u1") == 0, F.lit(0.0)).otherwise(
        F.col("users_reached").cast("double") / F.col("_u1")
    )
    return out.select(
        "stage_idx",
        "stage_name",
        "users_reached",
        conv.alias("conv_from_first"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_dt FROM orders GROUP BY o_custkey
    )
    SELECT CAST(date_trunc('month', first_dt) AS DATE) AS cohort_month,
           (year(o_orderdate) * 12 + month(o_orderdate))
             - (year(first_dt) * 12 + month(first_dt)) AS month_offset,
           COUNT(DISTINCT o.o_custkey) AS active_customers
    FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
    survey="§2.9 CRM analytics (acquisition-cohort retention matrix)",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix: customers cohorted by first-order month, then
    for every (cohort, month-offset) cell the count of distinct cohort
    members who ordered in that month. Month arithmetic is pure integer
    (year*12+month), so offsets are cross-engine exact; the distinct
    count is Spark's mergeable two-phase distinct aggregate."""
    orders = table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    months = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    months0 = F.year("first_dt") * 12 + F.month("first_dt")
    return (
        orders.join(first, "o_custkey")
        .groupBy(
            F.trunc(F.to_date("first_dt"), "month").alias("cohort_month"),
            (months - months0).alias("month_offset"),
        )
        .agg(F.countDistinct("o_custkey").alias("active_customers"))
    )


@query(
    "rfm_segmentation",
    oracle="""
    WITH ref AS (SELECT MAX(o_orderdate) AS ref_dt FROM orders),
    percust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT c_custkey, c_mktsegment,
             date_diff('day', last_order, (SELECT ref_dt FROM ref)) AS recency_days,
             frequency,
             monetary_dec,
             NTILE(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY date_diff('day', last_order, (SELECT ref_dt FROM ref)),
                                     c_custkey) AS r_score,
             NTILE(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY frequency DESC, c_custkey) AS f_score,
             NTILE(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY monetary_dec DESC, c_custkey) AS m_score
      FROM percust JOIN customer ON o_custkey = c_custkey
    )
    SELECT c_custkey, c_mktsegment, recency_days, frequency,
           CAST(monetary_dec AS DOUBLE) AS monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
             || '-' || CAST(m_score AS VARCHAR) AS rfm_cell
    FROM scored
    """,
    survey="§2.9 CRM analytics (RFM quartile scoring, segment-relative)",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM scoring: per customer recency (days before the newest order
    anywhere — a broadcast scalar), frequency (order count), monetary
    (DECIMAL-exact revenue), each cut into quartiles WITHIN the
    customer's market segment (segment-relative scoring, the standard
    practice — and the partitioning that keeps every ntile window
    bounded; see module docstring for the global-ranking escalation).
    ntile order carries c_custkey so ties are deterministic. Lower
    r_score = more recent, lower f/m_score = more orders / revenue."""
    orders = table(spark, sf_dir, "orders")
    percust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary_dec"),
    )
    ref = orders.agg(F.max("o_orderdate").alias("ref_dt"))
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = attach(
        percust.join(cust, percust.o_custkey == cust.c_custkey), ref
    ).withColumn("recency_days", F.datediff("ref_dt", "last_order"))
    seg = Window.partitionBy("c_mktsegment")
    r_w = seg.orderBy("recency_days", "c_custkey")
    f_w = seg.orderBy(F.col("frequency").desc(), "c_custkey")
    m_w = seg.orderBy(F.col("monetary_dec").desc(), "c_custkey")
    scored = (
        base.withColumn("r_score", F.ntile(4).over(r_w))
        .withColumn("f_score", F.ntile(4).over(f_w))
        .withColumn("m_score", F.ntile(4).over(m_w))
    )
    cell = F.concat_ws(
        "-",
        F.col("r_score").cast("string"),
        F.col("f_score").cast("string"),
        F.col("m_score").cast("string"),
    )
    return scored.select(
        "c_custkey",
        "c_mktsegment",
        "recency_days",
        "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        cell.alias("rfm_cell"),
    )


#: name-suffix length of record_linkage_fuzzy's blocking key; the
#: granularity knob whose sizing rule its docstring gives
LINKAGE_SUFFIX_LEN = 2


@query(
    "record_linkage_fuzzy",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS source_custkey,
             c_custkey + 10000000 AS dirty_id,
             substr(c_name, 1, 8) || 'X' || substr(c_name, 10) AS name_dirty,
             c_nationkey,
             c_nationkey || '|' || right(c_name, 2) AS block_key
      FROM customer
      WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '4'
    ), clean AS (
      SELECT c_custkey, c_name,
             c_nationkey || '|' || right(c_name, 2) AS block_key
      FROM customer
    )
    SELECT dirty_id, source_custkey, name_dirty,
           c_custkey AS matched_custkey, c_name AS name_clean,
           levenshtein(name_dirty, c_name) AS lev_dist,
           source_custkey = c_custkey AS is_true_match
    FROM dirty JOIN clean USING (block_key)
    WHERE levenshtein(name_dirty, c_name) <= 2
    """,
    survey="§2.9 CRM analytics (entity resolution: blocked fuzzy record linkage)",
)
def record_linkage_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over contacts: a deterministic 25% of customers
    (md5 first hex < '4') is fabricated into 'dirty' re-entries with one
    character corrupted (the reference's manual-entry duplicate problem),
    then linked back by BLOCKING on (nationkey, the last
    ``LINKAGE_SUFFIX_LEN`` chars of the name) and comparing names with
    edit distance ≤ 2 inside each block.

    Candidate pairs come only from the block-key equi-join — never an
    all-pairs compare — so pair work is sum of block-size². The suffix
    length is the GRANULARITY KNOB and it must grow with corpus size:
    a fixed suffix means expected block size n/(25·10^s) grows linearly
    and pair work n²/(25·10^s) grows quadratically — measured at
    alpha ≈ 1.23 over the sf0.1→sf1 decade with s=2, restored to ~linear
    with s=4 (SCALE.md). Choose s ≈ log10(n / target_block_size); the
    corruption model never touches the suffix, so lengthening it costs
    zero recall on the planted duplicates. ``is_true_match`` labels
    recovery of the planted source so precision/recall are auditable
    in-result. The query uses s=2 (coincidental near-matches make the
    richer correctness fixture at sf0.01)."""
    cust = table(spark, sf_dir, "customer")
    block = lambda name_col: F.concat_ws(  # noqa: E731
        "|",
        F.col("c_nationkey").cast("string"),
        F.substring(name_col, -LINKAGE_SUFFIX_LEN, LINKAGE_SUFFIX_LEN),
    )
    dirty = (
        cust.filter(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1) < "4")
        .select(
            F.col("c_custkey").alias("source_custkey"),
            (F.col("c_custkey") + 10000000).alias("dirty_id"),
            F.concat(
                F.substring("c_name", 1, 8), F.lit("X"), F.expr("substr(c_name, 10)")
            ).alias("name_dirty"),
            block(F.col("c_name")).alias("block_key"),
        )
    )
    clean = cust.select(
        F.col("c_custkey").alias("matched_custkey"),
        F.col("c_name").alias("name_clean"),
        block(F.col("c_name")).alias("block_key"),
    )
    dist = F.levenshtein("name_dirty", "name_clean")
    return (
        dirty.join(clean, "block_key")
        .filter(dist <= 2)
        .select(
            "dirty_id",
            "source_custkey",
            "name_dirty",
            "matched_custkey",
            "name_clean",
            dist.alias("lev_dist"),
            (F.col("source_custkey") == F.col("matched_custkey")).alias("is_true_match"),
        )
    )


@query(
    "gapfill_daily_user_revenue",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS rev
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY user_id
    ), cal AS (
      SELECT user_id,
             CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ), joined AS (
      SELECT c.user_id, c.day, d.rev
      FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
    )
    SELECT user_id, day,
           CAST(COALESCE(rev, 0) AS DOUBLE) AS revenue,
           rev IS NOT NULL AS had_purchase,
           CAST(last_value(rev IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS revenue_locf
    FROM joined
    """,
    survey="§2.9 CRM analytics (calendar densification + zero-fill and LOCF interpolation)",
)
def gapfill_daily_user_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill (the hypertable `time_bucket_gapfill`
    semantic): per-user daily purchase revenue densified onto that
    user's own [first, last] purchase-day calendar via sequence+explode,
    with both fill policies side by side — zero-fill (`revenue`) and
    last-observation-carried-forward (`revenue_locf`, an ignore-nulls
    running last over the partitioned calendar; never NULL because each
    span starts on a purchase day).

    Scale shape: one (user, day) aggregate, one user-grain span
    aggregate, calendar explode is partition-local, the fill join is an
    equi-join on (user, day), and LOCF is a user-partitioned window —
    nothing global. DECIMAL day sums keep both engines bit-exact; the
    decimal never crosses the output edge."""
    events = table(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("rev"))
    )
    span = daily.groupBy("user_id").agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = span.select(
        "user_id", F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    joined = cal.join(daily, ["user_id", "day"], "left")
    locf = F.last("rev", ignorenulls=True).over(
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.coalesce(F.col("rev"), F.lit(0)).cast("double").alias("revenue"),
        F.col("rev").isNotNull().alias("had_purchase"),
        locf.cast("double").alias("revenue_locf"),
    )


@query(
    "copurchase_lift_topk",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket
    ), single AS (
      SELECT l_partkey, COUNT(*) AS c FROM basket GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, support,
           CAST(support AS DOUBLE) * n_orders / ca.c / cb.c AS lift
    FROM pairs
    JOIN single ca ON part_a = ca.l_partkey
    JOIN single cb ON part_b = cb.l_partkey
    CROSS JOIN n
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
    survey="§2.9 CRM analytics (market-basket co-purchase pairs with lift)",
)
def copurchase_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: top-20 part pairs by co-purchase support,
    each scored with lift = support·N / (count_a·count_b) (exact
    integers, one IEEE chain). Pair generation is a self-equi-join on
    the order key — pair work is Σ basket-size² with baskets bounded at
    the order's line count (≤ tens), the same bounded-fanout argument
    as LSH in-bucket pairs; never an all-pairs part join. The corpus
    size attaches as a broadcast scalar; top-20
    compiles to TakeOrderedAndProject (no global window)."""
    basket = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    n = basket.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    single = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = basket.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = basket.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    ca = single.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    cb = single.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        attach(pairs.join(ca, "part_a").join(cb, "part_b"), n)
        .select(
            "part_a",
            "part_b",
            "support",
            (F.col("support").cast("double") * F.col("n_orders") / F.col("ca") / F.col("cb"))
            .alias("lift"),
        )
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             -- placement + event_type tiebreak spelled (round-13
             -- const_ts_null_ids find: tied-ts NULL-id rows ordered
             -- engine-dependently; breaking on the type makes the
             -- remaining ties same-type, which transitions cannot see)
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST,
                                            event_id NULLS FIRST,
                                            event_type NULLS FIRST) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), outdeg AS (
      SELECT from_type, SUM(n_transitions) AS total FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, n_transitions,
           CAST(n_transitions AS DOUBLE) / total AS p
    FROM trans t JOIN outdeg o ON t.from_type = o.from_type
    """,
    survey="§2.9 CRM analytics (first-order Markov transition matrix over the activity stream)",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and probabilities between
    event types, from per-user lag pairs (user-partitioned window,
    event_id tiebreak). The 5×5 output and the 5-row out-degree
    normalizer both live at event-type grain — counts shuffle on ≤ 25
    keys, the normalizer joins broadcast, probabilities are one IEEE
    division of exact counts."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        # placement + type tiebreak spelled: tied-ts NULL-id rows would
        # otherwise order engine-dependently (see the oracle)
        F.col("ts").asc_nulls_first(),
        F.col("event_id").asc_nulls_first(),
        F.col("event_type").asc_nulls_first(),
    )
    seq = events.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    )
    trans = (
        seq.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    outdeg = trans.groupBy("from_type").agg(F.sum("n_transitions").alias("total"))
    # one out-degree row per event type
    return trans.join(F.broadcast(outdeg), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / F.col("total")).alias("p"),
    )


_PR_ITERS = 3


def _pr_iteration_sql(prev: str, idx: int) -> str:
    """One unrolled PageRank step: fixed-point-quantized contributions
    integer-sum order-free, exactly like the Spark loop."""
    return f"""
    it{idx} AS (
      SELECT e.dst AS node,
             0.15 / nn + 0.85 * (SUM(CAST(FLOOR(p.r / d.d * 1e12) AS BIGINT)) / 1e12)
               AS r
      FROM edges e
      JOIN {prev} p ON e.src = p.node
      JOIN deg d ON e.src = d.src, n
      GROUP BY e.dst, nn
    )"""


@query(
    "copurchase_pagerank",
    oracle=f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), deg AS (
      SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    ), n AS (
      SELECT COUNT(*) AS nn FROM deg
    ), it0 AS (
      SELECT src AS node, 1.0 / nn AS r FROM deg, n
    ),{_pr_iteration_sql("it0", 1)},{_pr_iteration_sql("it1", 2)},{_pr_iteration_sql("it2", 3)}
    SELECT node AS part, r AS pagerank FROM it3
    """,
    survey="§2.9 CRM analytics (graph centrality: PageRank over the co-purchase graph, full oracle)",
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the co-purchase part graph (symmetric
    edges from the basket self-join): which products sit at the center
    of the catalog's purchase structure. Three unrolled power
    iterations with damping 0.85, fully deterministic cross-engine:
    each neighbor contribution r/deg is quantized to fixed-point
    BIGINT before the per-node sum, so accumulation order cannot move
    a ulp (the `_fixed_dot` trick applied to graph aggregation — the
    same reason `dedup_components` and `embedding_kmeans` oracle
    cleanly where float-summing graph engines cannot).

    Scale shape:
    - the pair distinct runs at canonical (src < dst) grain and the
      symmetric edge list is its mirror union, so half the rows go
      through the distinct exchange and the mirror is a shuffle-free
      projection;
    - the edge list is reliable-checkpointed once, PARTITIONED BY dst,
      so the unrolled iterations start from materialized blocks instead
      of leaning on exchange reuse across a ~90-Exchange plan (with
      the node-grain quantization below, ~20% off the query). The
      checkpointed LogicalRDD keeps its outputPartitioning, which lets
      the planner see that partitioning across the lineage cut;
    - the per-edge contribution floor(r/d*1e12) is constant per source
      node, so it is quantized at NODE grain and each iteration ships
      one ready BIGINT to edge grain in one join on src;
    - that join broadcasts the node table, so it preserves the edges'
      dst partitioning and each iteration's groupBy(dst) runs without
      its own exchange: the one repartition inside the checkpoint job
      serves all three iterations. The broadcast hint is load-bearing:
      without it a sort-merge join on src re-shuffles the edges and
      loses the dst partitioning (measured: 28% less time at sf0.1,
      35% at sf1). The hint pays only together with the dst-partitioned
      edges; alone it has no partitioning to preserve. The node table
      is bounded by the part catalog, not the corpus, but Catalyst's
      estimate of it (a join of two aggregates) overshoots, so the hint
      is applied by hand, and only while the counted node table (24 B
      per node, Catalyst's row size for two BIGINTs) fits the session's
      ``spark.sql.autoBroadcastJoinThreshold``. A larger catalog
      (~480 MB at 20M parts) plans the shuffle join instead.

    The symmetric co-purchase graph has no dangling nodes, so there is
    no global redistribution term. The fixed iteration budget stands in
    for an external convergence check, like the k-means note."""
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    basket = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = basket.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = basket.select("l_orderkey", F.col("l_partkey").alias("dst"))
    und = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    edges = reliable_checkpoint(
        und.unionAll(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("dst")  # one exchange, reused by all iterations (docstring)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n = deg.agg(F.count(F.lit(1)).alias("nn"))
    ranks = attach(deg.select(F.col("src").alias("node")), n).select(
        "node", (F.lit(1.0) / F.col("nn")).alias("r")
    )
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    broadcast_nodes = deg.count() * 24 <= threshold
    for _ in range(_PR_ITERS):
        node_cq = (
            ranks.withColumnRenamed("node", "src")
            .join(deg, "src")
            .select(
                "src",
                F.floor(F.col("r") / F.col("d") * F.lit(1e12)).cast("bigint").alias("cq"),
            )
        )
        # broadcast keeps edges' dst partitioning through the join;
        # bounded by the node count checked above (docstring)
        if broadcast_nodes:
            node_cq = F.broadcast(node_cq)
        sums = (
            edges.join(node_cq, "src")
            .groupBy("dst")
            .agg(F.sum("cq").alias("sq"))
        )
        ranks = attach(sums, n).select(
            F.col("dst").alias("node"),
            (
                F.lit(0.15) / F.col("nn")
                + F.lit(0.85) * (F.col("sq") / F.lit(1e12))
            ).alias("r"),
        )
    return ranks.select(F.col("node").alias("part"), F.col("r").alias("pagerank"))


@query(
    "triangle_count",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
      ) GROUP BY node
    ), oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM und e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ), wedge AS (
      SELECT w1.s AS a, w1.t AS b, w2.t AS c
      FROM oriented w1 JOIN oriented w2
        ON w1.s = w2.s AND w1.t < w2.t
    ), tri AS (
      -- wedge (b, c) has b < c and und has u < v: one ordered lookup
      SELECT a, b, c FROM wedge
      WHERE EXISTS (SELECT 1 FROM und WHERE u = b AND v = c)
    )
    SELECT node AS part, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node
    """,
    survey="§2.9 CRM analytics (graph: degree-oriented triangle counting over the co-purchase graph)",
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph — the
    clustering signal behind 'products bought together in threes'
    (basket cohesion), and the classic scale-hard graph kernel done
    the scale-right way: edges are ORIENTED by (degree, id) order
    before the wedge join, so every wedge pivots at its
    lowest-degree vertex and per-node wedge fan-out is bounded by the
    graph's degeneracy, not its max degree — the standard hub-killing
    trick (a celebrity node of degree d contributes d^2 wedges
    unoriented, but near-zero as a wedge pivot). Each triangle is then
    found exactly once (pivot = order-minimum vertex; w1.t < w2.t
    de-duplicates the wedge pair), closed by one semi-join of wedge
    (b, c) pairs against the undirected edge set, and exploded to its
    three corners for the per-part count.

    Scale shape: three equi-joins and two bounded aggregates — no
    all-pairs anywhere; the wedge join shuffles on the pivot key where
    AQE's skew split covers residual imbalance. Exact integer output,
    trivially oracle-able."""
    basket = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = basket.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = basket.select("l_orderkey", F.col("l_partkey").alias("v"))
    und = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    w1 = oriented.select(F.col("s"), F.col("t").alias("b"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("c"))
    # shuffle_hash on the wedge self-join too: the default sort-merge
    # SORTS the oriented edge table twice just to stream wedges out of
    # it, and the wedge stream is consumed
    # UNSORTED by the closing semi-join anyway. Hashing one copy of
    # the (pivot-partitioned) edge set and streaming the other skips
    # both sorts — same per-partition memory argument as the closing
    # join below (build side is |E|/partitions). Interleaved A/B at
    # sf0.1: 5.88 -> 4.06 s best-of-3, consistent in every block.
    wedge = (
        w1.join(w2.hint("shuffle_hash"), "s")
        .filter(F.col("b") < F.col("c"))
        .select(F.col("s").alias("a"), "b", "c")
    )
    # close the wedge against the undirected edge set: wedge (b, c) has
    # b < c by construction and und (u, v) has u < v, so one ordered
    # equi-semi-join covers both orientations. shuffle_hash hint
    # (exact — semantics unchanged): the wedge stream is the
    # graph's Σ C(d_out, 2), which at constant co-purchase degree grows
    # linearly with the corpus (~3.8e9 rows at the sf10 decade point);
    # the default sort-merge semi-join SORTS that stream after the
    # exchange, spilling ~2x its volume to scratch disk (measured: the
    # sf10 run exhausted a 78 GB /tmp via UnsafeExternalSorter spill),
    # while the hash build side is only the edge set (|E| rows, the
    # SMALL side by a factor of avg-degree/2) partitioned 32+ ways.
    # Streaming the huge side unsorted through a per-partition hash of
    # the small side is the only shape that survives 100x here.
    closing = und.select(F.col("u").alias("cb"), F.col("v").alias("cc"))
    tri = wedge.join(
        closing.hint("shuffle_hash"),
        (wedge["b"] == closing["cb"]) & (wedge["c"] == closing["cc"]),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id AS t_id, user_id, ts AS t_ts, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view', 'signup')
    ), pairs AS (
      SELECT p.p_id, t.t_id, t.t_ts, t.touch_type,
             ROW_NUMBER() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_ts DESC, t.t_id DESC) AS rn
      FROM p JOIN t
        ON p.user_id = t.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
    ), last AS (
      SELECT p_id, t_id, t_ts, touch_type FROM pairs WHERE rn = 1
    )
    SELECT COALESCE(l.touch_type, 'direct') AS touch_type,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE)
             AS attributed_revenue,
           CAST(SUM(date_diff('second', l.t_ts, p.p_ts)) AS DOUBLE)
             / SUM(CASE WHEN l.t_id IS NOT NULL THEN 1 ELSE 0 END)
             / 3600.0 AS avg_hours_to_convert
    FROM p LEFT JOIN last l ON p.p_id = l.p_id
    GROUP BY COALESCE(l.touch_type, 'direct')
    """,
    survey="§2.9 CRM analytics (last-touch marketing attribution, as-of-style credit)",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase credits 100% of
    its value to the LAST non-purchase touch (click/view/signup) by the
    same user within a 7-day lookback; purchases with no touch in the
    window credit 'direct'. Output per touch channel: attributed
    purchase count, exact-DECIMAL revenue, and mean hours-to-convert
    (exact integer second-sum, two IEEE divisions at the edge).

    The reference's consumers ask exactly this of the extracted
    activity stream (events ≙ CRM activities, `PodioApiWrapper.py:118`
    item events); it is the as-of-join family (windows.py asof) with
    credit assignment on top.

    Scale shape: the candidate join is anchored on the user equi-key —
    the 7-day band is a post-filter on a hash join, never an interval
    explosion (same argument as range_join_clicks_before_purchase);
    the last-touch pick is a row_number window partitioned by purchase
    (bounded partitions: one user-week of touches); the final agg has
    ≤ 4 keys. One user-key shuffle + one purchase-key window, both
    AQE-coalesced."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    t = t.withColumnRenamed("user_id", "t_user")
    pairs = p.join(
        t,
        (p["user_id"] == t["t_user"])
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("p_id").orderBy(F.col("t_ts").desc(), F.col("t_id").desc())
    last = (
        pairs.select("p_id", "t_id", "t_ts", "touch_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    att = p.join(last, "p_id", "left")
    n_touched = F.sum(F.when(F.col("t_id").isNotNull(), 1).otherwise(0))
    return att.groupBy(
        F.coalesce(F.col("touch_type"), F.lit("direct")).alias("touch_type")
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("attributed_revenue"),
        (
            F.sum(F.col("p_ts").cast("long") - F.col("t_ts").cast("long")).cast("double")
            / n_touched
            / F.lit(3600.0)
        ).alias("avg_hours_to_convert"),
    )


@query(
    "decile_gains_table",
    oracle="""
    WITH cutoff AS (
      SELECT CAST('2000-01-01' AS TIMESTAMP) AS c
    ), hist AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS score
      FROM orders, cutoff WHERE o_orderdate < c
      GROUP BY o_custkey
    ), resp AS (
      SELECT DISTINCT o_custkey FROM orders, cutoff WHERE o_orderdate >= c
    ), bounds AS (
      SELECT quantile_cont(score,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
      FROM hist
    ), scored AS (
      SELECT h.o_custkey, h.score,
             1 + len(list_filter(b.q, x -> x < h.score)) AS decile,
             CASE WHEN r.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS responded
      FROM hist h CROSS JOIN bounds b
      LEFT JOIN resp r ON r.o_custkey = h.o_custkey
    ), per_decile AS (
      SELECT decile, COUNT(*) AS n_customers,
             CAST(SUM(responded) AS BIGINT) AS n_responders
      FROM scored GROUP BY decile
    ), tot AS (
      SELECT CAST(SUM(n_customers) AS BIGINT) AS tot_n,
             CAST(SUM(n_responders) AS BIGINT) AS tot_resp
      FROM per_decile
    )
    SELECT decile, n_customers, n_responders,
           CAST(n_responders AS DOUBLE) / n_customers AS response_rate,
           -- zero responders across the whole backtest leave lift and
           -- capture undefined: convention 0.0 (no lift, no capture)
           CASE WHEN tot_resp = 0 THEN 0.0
                ELSE (CAST(n_responders AS DOUBLE) / n_customers)
                  / (CAST(tot_resp AS DOUBLE) / tot_n) END AS lift,
           CASE WHEN tot_resp = 0 THEN 0.0
                ELSE CAST(n_responders AS DOUBLE) / tot_resp END AS capture_share
    FROM per_decile, tot
    """,
    survey="§2.9 CRM analytics (decile gains/lift table from a backtested propensity score)",
)
def decile_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table — the standard evaluation of a targeting score:
    customers are deciled by PRE-cutoff monetary value (decile 10 =
    highest spenders) and scored against POST-cutoff response (any
    order on/after 2000-01-01); per decile the table reports response
    rate, lift over the base rate, and share of all responders
    captured. The backtest split makes it an honest evaluation, not a
    leak: the score never sees the response window.

    Scale shape: NO window anywhere — the decile boundaries are ONE
    exact-percentile aggregate (9 interpolated quantiles, the same
    bit-identical machinery as value_percentiles) broadcast back to the
    customer-grain frame, and assignment is a pure comparison count
    against the 9-element array. This is the global-ntile escalation
    the RFM docstring promises: at any corpus size the sort lives
    inside one percentile aggregate, never a single-partition ntile.
    Response marking is a user-key left join; the rest is a 10-key agg."""
    cutoff = F.lit("2000-01-01").cast("timestamp")
    orders = table(spark, sf_dir, "orders")
    hist = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("score")
        )
    )
    resp = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .select("o_custkey")
        .distinct()
        .withColumn("_r", F.lit(1))
    )
    bounds = hist.agg(
        F.expr(
            "percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("q")
    )
    scored = (
        attach(hist, bounds)
        .join(resp, "o_custkey", "left")
        .select(
            (
                F.lit(1)
                + F.size(F.filter(F.col("q"), lambda x: x < F.col("score")))
            ).alias("decile"),
            F.coalesce(F.col("_r"), F.lit(0)).alias("responded"),
        )
    )
    per_decile = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("responded").alias("n_responders"),
    )
    tot = per_decile.agg(
        F.sum("n_customers").alias("tot_n"),
        F.sum("n_responders").alias("tot_resp"),
    )
    rate = F.col("n_responders").cast("double") / F.col("n_customers")
    base = F.col("tot_resp").cast("double") / F.col("tot_n")
    # zero-responder guard: a backtest where nobody in the scored
    # population responds (e.g. each customer has exactly one order, so
    # history and response windows never share a customer) leaves lift
    # and capture undefined — convention 0.0 in both engines instead of
    # ANSI DIVIDE_BY_ZERO / DuckDB NaN
    lift = F.when(F.col("tot_resp") == 0, F.lit(0.0)).otherwise(rate / base)
    capture = F.when(F.col("tot_resp") == 0, F.lit(0.0)).otherwise(
        F.col("n_responders").cast("double") / F.col("tot_resp")
    )
    return (
        attach(per_decile, tot)
        .select(
            "decile",
            "n_customers",
            "n_responders",
            rate.alias("response_rate"),
            lift.alias("lift"),
            capture.alias("capture_share"),
        )
    )


@query(
    "ab_test_conversion",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), agg AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS n_a,
        CAST(COALESCE(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS n_b,
        CAST(COALESCE(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END), 0)
          AS BIGINT) AS conv_a,
        CAST(COALESCE(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END), 0)
          AS BIGINT) AS conv_b
      FROM users
    )
    SELECT n_a, n_b, conv_a, conv_b,
           -- empty arm: 0/0 reads out as NULL (symmetric with Spark's
           -- try_divide), and z / significant are NULL below
           CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0) AS rate_a,
           CAST(conv_b AS DOUBLE) / NULLIF(n_b, 0) AS rate_b,
           -- pooled variance is 0 when nobody or everybody converts;
           -- both rates are then equal, so z = 0 is the exact limit
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                WHEN conv_a + conv_b IN (0, n_a + n_b) THEN 0.0
                ELSE (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)) END AS zscore,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                WHEN conv_a + conv_b IN (0, n_a + n_b) THEN FALSE
                ELSE abs((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b))) > 1.96 END AS significant
    FROM agg
    """,
    survey="§2.9 experimentation (hash-assigned A/B split, two-proportion z-test)",
)
def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are assigned to variants by the
    deterministic md5 hash split every experimentation platform uses
    (first hex < '8' → A, half the space), conversion is
    made-a-purchase, and the two-proportion z-test statistic is
    computed from exact integer counts (conversion = a purchase of
    value >= 150, which splits the fixture's users ~45/55 — 'any
    purchase' converts everyone here and degenerates the variance) — sqrt IS correctly rounded per
    IEEE-754 (the stats_q module note), so even the z-score
    hash-matches. Under a hash split of homogeneous traffic the test
    should NOT reject: the readout showing |z| < 1.96 is the A/A
    sanity check experimentation teams run before trusting a platform.

    Degenerate contracts (symmetric Spark/oracle): an EMPTY ARM
    (n_a or n_b = 0 — tiny or single-user corpora where the hash
    split leaves one side unpopulated) yields NULL for that arm's
    rate, the z-score, and the significance flag (try_divide /
    NULLIF); counts are COALESCEd to 0 so a fully empty events table
    still returns one all-zero row with NULL readouts.

    Scale shape: one user-grain conditional aggregate (partial
    map-side), then a single global agg over user rows and pure
    arithmetic — no window, no join, two tiny shuffles end to end."""
    users = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") >= 150), 1
                ).otherwise(0)
            ).alias("converted")
        )
        .withColumn(
            "variant",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8", "A"
            ).otherwise("B"),
        )
    )
    agg = users.agg(
        F.coalesce(
            F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)), F.lit(0)
        ).alias("n_a"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)), F.lit(0)
        ).alias("n_b"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == "A", F.col("converted")).otherwise(0)),
            F.lit(0),
        ).alias("conv_a"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == "B", F.col("converted")).otherwise(0)),
            F.lit(0),
        ).alias("conv_b"),
    )
    # empty-arm guard: with n_a = 0 or n_b = 0 there is no comparison to
    # read out — that arm's rate is 0/0 and the z term's 1/n diverges.
    # Contract (symmetric with the oracle's NULLIF): the empty arm's rate,
    # the z-score, and the significance flag are all NULL.
    rate_a = F.try_divide(F.col("conv_a").cast("double"), F.col("n_a"))
    rate_b = F.try_divide(F.col("conv_b").cast("double"), F.col("n_b"))
    empty_arm = (F.col("n_a") == 0) | (F.col("n_b") == 0)
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    # degenerate-conversion guard: pooled ∈ {0, 1} (nobody/everybody
    # converts) zeroes the pooled variance — and also equalizes the two
    # rates, so z = 0 is the exact limit, not a convention. Unguarded,
    # ANSI Spark raises DIVIDE_BY_ZERO and DuckDB emits NaN.
    degenerate = (F.col("conv_a") + F.col("conv_b") == 0) | (
        F.col("conv_a") + F.col("conv_b") == F.col("n_a") + F.col("n_b")
    )
    z = (
        F.when(empty_arm, F.lit(None).cast("double"))
        .when(degenerate, F.lit(0.0))
        .otherwise(
            (rate_a - rate_b)
            / F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
            )
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        z.alias("zscore"),
        (F.abs(z) > 1.96).alias("significant"),
    )


@query(
    "interpolate_daily_user_value",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS obs
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY user_id
    ), cal AS (
      SELECT user_id,
             CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ), joined AS (
      SELECT c.user_id, c.day, d.obs
      FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
    ), anchored AS (
      SELECT user_id, day, obs,
             last_value(obs IGNORE NULLS) OVER wback AS prev_v,
             last_value(CASE WHEN obs IS NOT NULL THEN day END IGNORE NULLS)
               OVER wback AS prev_day,
             first_value(obs IGNORE NULLS) OVER wfwd AS next_v,
             first_value(CASE WHEN obs IS NOT NULL THEN day END IGNORE NULLS)
               OVER wfwd AS next_day
      FROM joined
      WINDOW wback AS (PARTITION BY user_id ORDER BY day
                       ROWS UNBOUNDED PRECEDING),
             wfwd AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day, obs,
           CASE WHEN obs IS NOT NULL THEN obs
                ELSE prev_v + (next_v - prev_v)
                     * (CAST(day - prev_day AS DOUBLE)
                        / CAST(next_day - prev_day AS DOUBLE)) END
             AS interpolated,
           obs IS NOT NULL AS was_observed
    FROM anchored
    """,
    survey="§2.9 CRM analytics (linear interpolation backfill between observations)",
)
def interpolate_daily_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation backfill — the metric-series repair step
    LOCF (gapfill_daily_user_revenue) is too blunt for: every missing
    day inside a user's [first, last] purchase span gets the straight-
    line value between its surrounding observations. Calendar ends are
    observed by construction (the span IS min..max of observed days),
    so the interpolant is total: observed days pass through exactly,
    interior gaps divide a strictly positive day span (0/0 cannot
    occur). The arithmetic is one fixed IEEE sequence — anchors cast to
    double BEFORE the windows so both engines interpolate identical
    bits.

    Scale shape: same as gapfill — per-user calendar explode stays
    partition-local after one user-key shuffle, the four anchor columns
    are two ignore-nulls windows (forward and backward) over bounded
    per-user partitions, and no second shuffle exists because all four
    windows share the (user_id, day) ordering."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("obs"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    cal = span.select(
        "user_id",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"),
    )
    joined = cal.join(daily, ["user_id", "day"], "left")
    wback = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wfwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("obs").isNotNull(), F.col("day"))
    anchored = joined.select(
        "user_id",
        "day",
        "obs",
        F.last("obs", ignorenulls=True).over(wback).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(wback).alias("prev_day"),
        F.first("obs", ignorenulls=True).over(wfwd).alias("next_v"),
        F.first(obs_day, ignorenulls=True).over(wfwd).alias("next_day"),
    )
    frac = F.datediff(F.col("day"), F.col("prev_day")).cast("double") / F.datediff(
        F.col("next_day"), F.col("prev_day")
    ).cast("double")
    interp = F.when(F.col("obs").isNotNull(), F.col("obs")).otherwise(
        F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
    )
    return anchored.select(
        "user_id",
        "day",
        "obs",
        interp.alias("interpolated"),
        F.col("obs").isNotNull().alias("was_observed"),
    )
