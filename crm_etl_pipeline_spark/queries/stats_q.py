"""Statistical profiling operators: moment-based outlier detection,
equi-width histograms, and revenue-weighted sample allocation.

The dataset-profiling surface a warehouse runs before and after every
ETL load (the reference's consumers eyeball Mongo extracts by hand;
these are the first-class equivalents): where is the mass, what is
anomalous, and how to draw a budgeted sample proportional to business
weight.

Cross-engine determinism: every moment (count, sum, sum-of-squares)
accumulates EXACTLY — DECIMAL for the 2-dp money/value columns, with
the squared term exact in DECIMAL(38,4) — and converts to double once,
after which mean/variance/z-score/bucket arithmetic is an identical
fixed sequence of IEEE ops in both engines. sqrt IS correctly rounded
per IEEE-754 (unlike ln/exp, which these queries deliberately avoid —
see tfidf_top_terms' linear-idf note), so even the standard deviation
is bit-identical. No decimal crosses the output edge.

Scale notes (100 TB): moments are mergeable single-pass aggregates on
bounded key sets (event types, market segments) broadcast back to the
fact scan — one wide shuffle nowhere; the histogram's min/max scalar
attaches as a broadcast (``attach``); allocation
sampling ranks within segment partitions (bounded windows) after two
tiny aggregates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crm_etl_pipeline_spark.attach import attach, one
from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import query

_N_BUCKETS = 20
_SAMPLE_BUDGET = 100


@query(
    "event_value_anomalies",
    oracle="""
    WITH moments AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS s1,
             -- one factor widened to DECIMAL(19,2): DuckDB's
             -- DECIMAL(18)x(18) fast path multiplies int64 storage and
             -- overflows at extreme magnitudes (extreme_values probe);
             -- the widened factor forces the int128 path. Spark's
             -- (18,2)x(18,2) -> (37,4) is already exact
             SUM(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(19,2))
                 * CAST(value AS DECIMAL(18,2))) AS s2
      FROM events GROUP BY event_type
    ), stats AS (
      SELECT event_type, n,
             -- decimal -> double via VARCHAR: DuckDB's direct cast is
             -- scaled-int -> double THEN /10^s — double rounding, one
             -- ulp off past 2^53 scaled units; the string parse is
             -- correctly rounded, matching Spark's BigDecimal cast
             -- (extreme_values probe)
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n AS mean_val,
             -- greatest(0, ·): an all-equal population's variance is a tiny
             -- double residual of either sign; DuckDB sqrt RAISES on the
             -- negative side (Spark yields NaN) — clamp symmetrically so a
             -- negative residual reads exactly 0 in both engines (a positive
             -- one flows through the identical IEEE chain; const_values probe)
             sqrt(greatest(0, CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n
                  - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n))) AS sd_val
      FROM moments
    )
    SELECT event_id, e.event_type, value,
           CASE WHEN sd_val = 0 THEN 0.0
                ELSE (value - mean_val) / sd_val END AS zscore,
           CASE WHEN sd_val = 0 THEN FALSE
                ELSE abs((value - mean_val) / sd_val) > 3.0 END AS is_anomaly
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
    survey="§2.9 profiling (per-group z-score outlier detection from exact moments)",
)
def event_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score every event's value against its event-type population
    (3-sigma outlier flag). One pass computes exact DECIMAL moments per
    type (mergeable: count + sum + sum-of-squares), broadcast back onto
    the fact scan; variance uses the E[x²]−mean² identity on doubles
    derived once from the exact sums, so no second data pass and no
    engine-specific streaming-variance accumulation order."""
    events = table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,2)")
    moments = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).alias("s1"),
        F.sum(vdec * vdec).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    stats = moments.select(
        "event_type",
        mean.alias("mean_val"),
        # greatest(0, ·): clamp the variance residual symmetrically with
        # the oracle (DuckDB sqrt raises on a -1e-18 residual; Spark NaNs)
        F.sqrt(
            F.greatest(F.lit(0.0), F.col("s2").cast("double") / F.col("n") - mean * mean)
        ).alias("sd_val"),
    )
    # zero-dispersion guard: a population with sd == 0 (all values
    # equal) has nothing measurably deviating — z is defined 0 and no
    # row is anomalous, in BOTH engines (unguarded, ANSI Spark raises
    # DIVIDE_BY_ZERO while DuckDB emits NaN z-scores — crash on one
    # engine, divergent answer on the other)
    z = F.when(F.col("sd_val") == 0, F.lit(0.0)).otherwise(
        (F.col("value") - F.col("mean_val")) / F.col("sd_val")
    )
    return (
        # one stats row per event type
        events.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            z.alias("zscore"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


@query(
    "histogram_order_values",
    oracle=f"""
    WITH ext AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ), bucketed AS (
      -- divisor guarded for the degenerate all-equal extent (-> bucket 0);
      -- edge arithmetic below keeps the TRUE width (multiplication only)
      SELECT CAST(least(floor((o_totalprice - lo) /
                        (CASE WHEN hi = lo THEN 1.0
                              ELSE (hi - lo) / {_N_BUCKETS}.0 END)),
                        {_N_BUCKETS - 1}) AS BIGINT) AS bucket,
             lo, hi, o_totalprice
      FROM orders, ext
    )
    SELECT bucket,
           lo + bucket * ((hi - lo) / {_N_BUCKETS}.0) AS bucket_lo,
           lo + (bucket + 1) * ((hi - lo) / {_N_BUCKETS}.0) AS bucket_hi,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM bucketed GROUP BY bucket, lo, hi
    """,
    survey="§2.9 profiling (equi-width histogram with scalar-attached extent)",
)
def histogram_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket equi-width histogram of order values. The [min, max]
    extent is one global aggregate attached to the scan as a broadcast
    (``attach``); bucket index, edges
    and the final clamp (max lands in the last bucket) are identical
    IEEE double expressions in both engines. Counts shuffle on at most
    20 keys — partial aggregation does nearly all the work map-side."""
    orders = table(spark, sf_dir, "orders")
    ext = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    # divisor guarded for the degenerate all-equal extent: hi == lo
    # would otherwise raise DIVIDE_BY_ZERO under ANSI (and DuckDB's
    # NaN-is-greatest least() would silently pick bucket 19) — with the
    # guard every row lands in bucket 0 in BOTH engines, and the edge
    # arithmetic below keeps the true zero width (multiplication only,
    # no division), so bucket_lo == bucket_hi == lo
    width = F.when(F.col("hi") == F.col("lo"), F.lit(1.0)).otherwise(
        (F.col("hi") - F.col("lo")) / F.lit(float(_N_BUCKETS))
    )
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width),
        F.lit(_N_BUCKETS - 1),
    ).cast("bigint")
    base = (
        attach(orders, ext)
        .select(
            bucket.alias("bucket"),
            "lo",
            "hi",
            "o_totalprice",
        )
    )
    w = (F.col("hi") - F.col("lo")) / F.lit(float(_N_BUCKETS))
    return base.groupBy("bucket", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    ).select(
        "bucket",
        (F.col("lo") + F.col("bucket") * w).alias("bucket_lo"),
        (F.col("lo") + (F.col("bucket") + 1) * w).alias("bucket_hi"),
        "n_orders",
        "revenue",
    )


@query(
    "weighted_sample_allocation",
    oracle=f"""
    WITH seg AS (
      SELECT c_mktsegment,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    ), tot AS (
      SELECT SUM(rev) AS total FROM seg
    ), alloc AS (
      SELECT c_mktsegment,
             CAST(rev AS DOUBLE) / CAST(total AS DOUBLE) AS rev_share,
             CAST(ceil({_SAMPLE_BUDGET}.0 * (CAST(rev AS DOUBLE) / CAST(total AS DOUBLE)))
                  AS BIGINT) AS n_target
      FROM seg, tot
    ), ranked AS (
      SELECT c.c_mktsegment, c_custkey, rev_share, n_target,
             -- NULLS FIRST spelled (round-13 NULLS-placement audit)
             ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY md5(CAST(c_custkey AS VARCHAR)) NULLS FIRST,
                                         c_custkey NULLS FIRST)
               AS samp_rank
      FROM customer c JOIN alloc a ON c.c_mktsegment = a.c_mktsegment
    )
    SELECT c_mktsegment, c_custkey, samp_rank, n_target, rev_share
    FROM ranked WHERE samp_rank <= n_target
    """,
    survey="§2.9 training prep (budgeted sampling, allocation proportional to group weight)",
)
def weighted_sample_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional-allocation sampling: a fixed budget of
    ~100 customers is split across market segments proportional to each
    segment's DECIMAL-exact revenue share (ceil keeps every segment
    non-empty), then each segment draws its quota by deterministic
    md5 hash-rank — the same reproducible-uniform idiom as
    ``sample_stratified_hashrank``, here with data-driven per-stratum
    quotas instead of a fixed fraction. Ranking windows partition by
    segment (bounded); the share division is one IEEE op on exact
    sums."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    seg = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    tot = seg.agg(F.sum("rev").alias("total"))
    # zero-mass guard: with all order values 0 the revenue total is 0
    # and every share is 0 (allocating nothing), instead of ANSI
    # DIVIDE_BY_ZERO — DuckDB's NaN share path reaches the same empty
    # sample via ceil(NaN) never admitting a rank
    share = F.when(
        F.col("total") > 0, F.col("rev").cast("double") / F.col("total").cast("double")
    ).otherwise(F.lit(0.0))
    alloc = (
        attach(seg, tot)
        .select(
            "c_mktsegment",
            share.alias("rev_share"),
            F.ceil(F.lit(float(_SAMPLE_BUDGET)) * share).alias("n_target"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        # NULLS FIRST spelled on both sides, so NULL keys rank alike in both engines
        F.md5(F.col("c_custkey").cast("string")).asc_nulls_first(),
        F.col("c_custkey").asc_nulls_first(),
    )
    return (
        # one allocation row per market segment
        cust.join(F.broadcast(alloc), "c_mktsegment")
        .withColumn("samp_rank", F.row_number().over(w))
        .filter(F.col("samp_rank") <= F.col("n_target"))
        .select("c_mktsegment", "c_custkey", "samp_rank", "n_target", "rev_share")
    )


@query(
    "dq_audit_orders",
    oracle="""
    WITH scan AS (
      -- COALESCE(SUM, 0): over an EMPTY load SUM is NULL in both
      -- engines; the contract is 0 violations / 0 checked / passed
      -- (found by the empty_orders sweep probe)
      SELECT COUNT(*) AS n,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_keys,
             COALESCE(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
                      THEN 1 ELSE 0 END), 0) AS bad_price,
             COALESCE(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                       OR o_orderdate >= TIMESTAMP '2010-01-01'
                       OR o_orderdate IS NULL THEN 1 ELSE 0 END), 0) AS bad_date,
             COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                       OR o_orderstatus IS NULL THEN 1 ELSE 0 END), 0) AS bad_status
      FROM orders
    ), fk AS (
      SELECT COUNT(*) AS orphans FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    )
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations, n_checked,
           n_violations = 0 AS passed FROM (
      SELECT 'orderkey_unique' AS rule, dup_keys AS n_violations, n AS n_checked FROM scan
      UNION ALL SELECT 'custkey_fk_resolves', orphans, n FROM scan, fk
      UNION ALL SELECT 'totalprice_positive', bad_price, n FROM scan
      UNION ALL SELECT 'orderdate_in_range', bad_date, n FROM scan
      UNION ALL SELECT 'status_in_domain', bad_status, n FROM scan
    )
    """,
    survey="§2.9 profiling (declarative data-quality audit: uniqueness, FK, range, domain rules)",
)
def dq_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit over the orders load — the first-class answer
    to the reference's founding complaint (README.md:4-19: the legacy
    pipeline ran at '85% data integrity'). Five declarative rules
    produce one row each: key uniqueness, FK resolution against
    customer, positive money, date sanity range, and status domain.

    Scale shape: four of the five rules fold into ONE full scan
    (conditional sums + a two-phase distinct count); FK resolution is
    one left-anti join (broadcast when the dimension fits, shuffle
    otherwise — Catalyst's call). The output is five rows regardless of
    corpus size, so the audit is a fixed-cost gate a 100 TB load runs
    per batch."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    # coalesce(sum, 0): empty-load contract — see oracle comment
    scan = orders.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_keys"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("o_totalprice") <= 0) | F.col("o_totalprice").isNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("bad_price"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                    | (F.col("o_orderdate") >= F.lit("2010-01-01").cast("timestamp"))
                    | F.col("o_orderdate").isNull(),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("bad_date"),
        F.coalesce(
            F.sum(
                F.when(
                    ~F.col("o_orderstatus").isin("O", "F", "P")
                    | F.col("o_orderstatus").isNull(),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("bad_status"),
    )
    orphans = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )

    def rule(name: str, col: str, src: DataFrame) -> DataFrame:
        return src.select(
            F.lit(name).alias("rule"),
            F.col(col).alias("n_violations"),
            F.col("n").alias("n_checked"),
        )

    # the fk row needs both frames: attach orphans to the scan row
    fk_row = attach(scan, orphans)
    out = (
        rule("orderkey_unique", "dup_keys", scan)
        .unionByName(rule("custkey_fk_resolves", "orphans", fk_row))
        .unionByName(rule("totalprice_positive", "bad_price", scan))
        .unionByName(rule("orderdate_in_range", "bad_date", scan))
        .unionByName(rule("status_in_domain", "bad_status", scan))
    )
    return out.withColumn("passed", F.col("n_violations") == 0)


@query(
    "ols_frequency_monetary",
    oracle="""
    WITH percust AS (
      SELECT c_mktsegment,
             COUNT(*) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_custkey
    ), moments AS (
      SELECT c_mktsegment,
             COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS DOUBLE) AS sxx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(10,0)) * y) AS DOUBLE) AS sxy
      FROM percust GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n,
           -- zero x-variance (every customer the same order count)
           -- leaves the slope undefined: convention slope = 0,
           -- intercept = mean(y), r2 = 0 (also when y is constant)
           CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
           CASE WHEN n * sxx - sx * sx = 0 THEN sy / n
                ELSE (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
           END AS intercept,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
                ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r2
    FROM moments
    """,
    survey="§2.9 profiling (closed-form one-feature OLS from exact sufficient statistics)",
)
def ols_frequency_monetary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of customer revenue against order count,
    per market segment — the closed-form normal-equation solution from
    five sufficient statistics (Σx, Σx², Σy, Σy², Σxy), each an EXACT
    integer/DECIMAL aggregate, with slope/intercept/r² one fixed IEEE
    chain on the converted sums. This is how regression actually runs
    at 100 TB: the data pass produces mergeable sufficient statistics
    (two shuffles: customer grain, then 5 segment keys) and the solve
    is O(1) — no gradient loop touches the data. Degenerate segments
    (zero frequency variance — e.g. every customer placing exactly one
    order) have no defined slope: convention slope = 0, intercept =
    mean(y), r² = 0, guarded identically in both engines (unguarded,
    ANSI Spark raises DIVIDE_BY_ZERO while DuckDB emits NaN)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    percust = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"),
        )
    )
    xb = F.col("x").cast("bigint")
    moments = percust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(xb * xb).cast("double").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = F.when(var_x == 0, F.lit(0.0)).otherwise(
        (n * sxy - sx * sy) / var_x
    )
    intercept = F.when(var_x == 0, sy / n).otherwise((sy - slope * sx) / n)
    r2 = F.when((var_x == 0) | (var_y == 0), F.lit(0.0)).otherwise(
        ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (var_x * var_y)
    )
    return moments.select(
        "c_mktsegment",
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


_RANK_BUCKETS = 32


@query(
    "global_rank_two_phase",
    oracle="""
    SELECT c_custkey, c_acctbal,
           ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS global_rank
    FROM customer
    """,
    survey="window escalation (two-phase global ranking: value-bucket rank + prefix offsets == direct global sort)",
)
def global_rank_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global ranking WITHOUT a single-partition sort — the
    escalation the RFM/packing/allocation docstrings reference,
    implemented and proven: (1) each row gets a deterministic value
    bucket from the [min, max] extent (scalar-attached, 32 equi-width
    buckets — range partitioning with deterministic boundaries instead
    of Spark's sampled repartitionByRange, so the oracle can replay
    it); (2) rows rank within their bucket (bounded partitioned
    windows); (3) per-bucket counts (32 rows) prefix-sum into bucket
    offsets; (4) global_rank = offset + in-bucket rank. The ORACLE
    computes the naive single-sort ROW_NUMBER — the hash match IS the
    equivalence proof. At 100 TB phase 2 is the only data-scale work
    and it is fully partition-parallel; the 32-row offset table is the
    entire serial section. Skewed value ranges need finer buckets or a
    quantile-based boundary pass (the AQE-skew analog), noted here as
    the knob."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ext = cust.agg(F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(float(_RANK_BUCKETS))
    bucket = F.least(
        F.floor((F.col("c_acctbal") - F.col("lo")) / width),
        F.lit(_RANK_BUCKETS - 1),
    ).cast("int")
    bucketed = attach(cust, ext).select("c_custkey", "c_acctbal", bucket.alias("b"))
    in_bucket = Window.partitionBy("b").orderBy("c_acctbal", "c_custkey")
    ranked = bucketed.withColumn("rn", F.row_number().over(in_bucket))
    counts = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    # 32-row prefix sum in one window partition: the entire serial
    # section of the algorithm
    pw = (
        Window.partitionBy(one("b"))
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "b", F.coalesce(F.sum("n_b").over(pw), F.lit(0)).alias("offset")
    )
    return (
        # one offset row per bucket (_RANK_BUCKETS)
        ranked.join(F.broadcast(offsets), "b")
        .select(
            "c_custkey",
            "c_acctbal",
            (F.col("offset") + F.col("rn")).cast("bigint").alias("global_rank"),
        )
    )


_DEPTH_BUCKETS = 10


@query(
    "histogram_equi_depth",
    oracle=f"""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice,
                           [x / {_DEPTH_BUCKETS}.0 FOR x IN range(1, {_DEPTH_BUCKETS})])
               AS qs
      FROM orders
    ), bucketed AS (
      SELECT CAST(1 + len(list_filter(qs, c -> o_totalprice > c)) AS INT) AS bucket,
             o_totalprice
      FROM orders, cuts
    )
    SELECT bucket, COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo_value, MAX(o_totalprice) AS hi_value
    FROM bucketed GROUP BY bucket
    """,
    survey="§2.9 profiling (equi-depth histogram on exact quantile boundaries)",
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH complement of the equi-width histogram: 9 exact
    interpolated deciles cut the order values into 10 near-equal-count
    buckets (the boundary computation both engines interpolate
    identically — the `value_percentiles` result), and each row's
    bucket is 1 + the number of cuts strictly below it, a fold over
    the broadcast 9-element boundary array. Exact quantiles need a
    sort of the value column; the scale path swaps in the mergeable GK
    sketch (`approx_value_percentiles`) for boundaries while this
    assignment fold stays unchanged — boundary source and bucketing
    are decoupled by design."""
    orders = table(spark, sf_dir, "orders")
    fracs = F.array(
        *[F.lit(x / _DEPTH_BUCKETS) for x in range(1, _DEPTH_BUCKETS)]
    )
    cuts = orders.agg(F.percentile("o_totalprice", fracs).alias("qs"))
    bucket = (
        F.lit(1)
        + F.aggregate(
            F.col("qs"),
            F.lit(0),
            lambda acc, c: acc + F.when(F.col("o_totalprice") > c, 1).otherwise(0),
        )
    ).cast("int")
    return (
        attach(orders, cuts)
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo_value"),
            F.max("o_totalprice").alias("hi_value"),
        )
    )


@query(
    "robust_outliers_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med FROM events
      GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, med,
             quantile_cont(abs(value - med), 0.5) AS mad
      FROM events e JOIN med ON e.event_type = med.event_type
      GROUP BY e.event_type, med
    )
    SELECT event_id, e.event_type, value,
           CASE WHEN mad = 0 THEN 0.0
                ELSE (value - med) / (1.4826 * mad) END AS robust_z,
           CASE WHEN mad = 0 THEN FALSE
                ELSE abs((value - med) / (1.4826 * mad)) > 3.0 END AS is_outlier
    FROM events e JOIN mad ON e.event_type = mad.event_type
    """,
    survey="§2.9 profiling (MAD robust outliers — median-based twin of the z-score detector)",
)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via the median absolute deviation:
    robust_z = (x − median) / (1.4826·MAD), the estimator that does not
    let the outliers inflate their own yardstick the way a planted
    extreme inflates the z-score's sigma (see
    tests/test_stats.py::test_planted_outlier_is_flagged). Two exact
    interpolated medians per event type — bit-identical cross-engine
    like `value_percentiles` — then one IEEE chain per row. Two passes
    by nature (MAD needs the median first); each is a bounded-key
    aggregate broadcast back onto the scan; the scale path swaps GK
    sketch medians into the same shape."""
    events = table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    mad = (
        # one median per event type
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad"))
    )
    # zero-dispersion guard (same contract as event_value_anomalies):
    # MAD == 0 — a majority-identical population — defines robust_z = 0
    # and flags nothing, identically in both engines
    rz = F.when(F.col("mad") == 0, F.lit(0.0)).otherwise(
        (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    )
    return (
        # one MAD per event type; the hint makes it the build side
        events.join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            rz.alias("robust_z"),
            (F.abs(rz) > 3.0).alias("is_outlier"),
        )
    )


_PPS_K = 50


@query(
    "pps_systematic_sample",
    oracle=f"""
    WITH w AS (
      SELECT o_orderkey, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w_cents
      FROM orders
    ), c AS (
      SELECT *, COALESCE(SUM(w_cents) OVER (ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM w
    ), t AS (
      SELECT CAST(SUM(w_cents) AS BIGINT) AS total FROM w
    )
    SELECT o_orderkey, o_orderdate, w_cents,
           CAST((cum_before + w_cents) * {_PPS_K} // total
                - cum_before * {_PPS_K} // total AS BIGINT) AS n_hits
    FROM c, t
    WHERE (cum_before + w_cents) * {_PPS_K} // total
          > cum_before * {_PPS_K} // total
    """,
    survey="§2.9 sampling (systematic probability-proportional-to-size draw from exact integer prefix sums)",
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sampling: walk the orders in (date, key) order,
    accumulate exact integer cents, and select every unit whose weight
    interval crosses a multiple of total/K — the classical
    survey-sampling design where inclusion probability is exactly
    proportional to order value, deterministic end to end (no RNG, so
    the oracle can replay it; the repo's rand()-free sampling rule).
    ``n_hits`` is the unit's multiplicity (a unit heavier than the
    step can absorb several skip intervals), and SUM(n_hits) == K by
    construction. All threshold arithmetic is exact BIGINT (cents x K
    stays far under 2^63 at any plausible sf; integer division DIV /
    // in both engines — never a double).

    Scale shape: the corpus-global prefix sum is built the two-phase
    way (cumulate within calendar-day buckets in parallel, then add
    per-day offsets from a ~2.4k-row serial prefix over day totals) —
    the running-sum sibling of global_rank_two_phase's rank
    construction; no single-partition sort of the fact table exists in
    the plan. The ORACLE computes the naive single-window cumulation —
    the hash match is the equivalence proof for the decomposition."""
    w = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("w_cents"),
    )
    dw = (
        Window.partitionBy("o_orderdate")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    in_day = w.withColumn("cum_in_day", F.coalesce(F.sum("w_cents").over(dw), F.lit(0)))
    day_tot = w.groupBy("o_orderdate").agg(F.sum("w_cents").alias("d_tot"))
    pw = (
        Window.partitionBy(one("o_orderdate"))
        .orderBy("o_orderdate")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = day_tot.select(
        "o_orderdate", F.coalesce(F.sum("d_tot").over(pw), F.lit(0)).alias("offset")
    )
    tot = w.agg(F.sum("w_cents").alias("total"))
    cum = attach(
        # one offset row per order date (bounded by the calendar)
        in_day.join(F.broadcast(offsets), "o_orderdate").withColumn(
            "cum_before", F.col("offset") + F.col("cum_in_day")
        ),
        tot,
    )
    # an order with w_cents <= 0 has hi <= lo, so the hi > lo filter
    # drops it. Zero-mass guard: a population whose weights sum to 0
    # (or less) has no PPS sample — lo == hi == 0 drops every row
    # instead of an ANSI DIV-by-zero; DuckDB reaches the same empty
    # result via NULL integer division.
    lo = F.when(
        F.col("total") > 0, F.expr(f"cum_before * {_PPS_K} DIV total")
    ).otherwise(F.lit(0))
    hi = F.when(
        F.col("total") > 0, F.expr(f"(cum_before + w_cents) * {_PPS_K} DIV total")
    ).otherwise(F.lit(0))
    return (
        cum.filter(hi > lo)
        .select(
            "o_orderkey",
            "o_orderdate",
            "w_cents",
            (hi - lo).cast("bigint").alias("n_hits"),
        )
    )


@query(
    "chi_square_segment_nation",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS observed
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ), rows_t AS (
      SELECT c_nationkey, COUNT(*) AS n_row FROM customer GROUP BY c_nationkey
    ), cols_t AS (
      SELECT c_mktsegment, COUNT(*) AS n_col FROM customer GROUP BY c_mktsegment
    ), tot AS (
      SELECT COUNT(*) AS n_total FROM customer
    )
    SELECT c.c_nationkey, c.c_mktsegment, c.observed,
           CAST(r.n_row AS DOUBLE) * c2.n_col / t.n_total AS expected,
           (c.observed - CAST(r.n_row AS DOUBLE) * c2.n_col / t.n_total)
             * (c.observed - CAST(r.n_row AS DOUBLE) * c2.n_col / t.n_total)
             / (CAST(r.n_row AS DOUBLE) * c2.n_col / t.n_total) AS chisq_term
    FROM cells c
    JOIN rows_t r USING (c_nationkey)
    JOIN cols_t c2 USING (c_mktsegment)
    CROSS JOIN tot t
    """,
    survey="§2.9 profiling (chi-square independence contingency table, exact-count arithmetic)",
)
def chi_square_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the (nation × market-segment)
    contingency table: per-cell observed count, expected count under
    independence (row·col/N), and the cell's chi-square contribution.
    Feature-dependency profiling with NO transcendentals — unlike
    entropy/mutual-information (which need ln, not correctly rounded
    across engines), chi-square is pure rational arithmetic over exact
    integer counts, so every cell is hash-matched bit-for-bit. The
    summed statistic is one trivial reduction the consumer runs on the
    125-row output; the per-cell grain is kept so no double-sum order
    crosses the engine boundary.

    Scale shape: three partial-aggregating groupBys over the same scan
    (25-key, 5-key, scalar) — map-side combine collapses each to near
    nothing; the marginals attach back to the 125-row cell table via
    broadcast joins and ``attach``. At 100 TB this
    is three tiny shuffles and zero wide ones."""
    cust = table(spark, sf_dir, "customer")
    cells = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("observed")
    )
    rows_t = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_row"))
    cols_t = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_col"))
    tot = cust.agg(F.count(F.lit(1)).alias("n_total"))
    expected = F.col("n_row").cast("double") * F.col("n_col") / F.col("n_total")
    return (
        attach(
            # one row per nation and one per market segment
            cells.join(F.broadcast(rows_t), "c_nationkey").join(
                F.broadcast(cols_t), "c_mktsegment"
            ),
            tot,
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "observed",
            expected.alias("expected"),
            (
                (F.col("observed") - expected) * (F.col("observed") - expected) / expected
            ).alias("chisq_term"),
        )
    )


@query(
    "winsorize_event_values",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           b.lo, b.hi,
           least(greatest(e.value, b.lo), b.hi) AS value_winsorized,
           e.value < b.lo OR e.value > b.hi AS clamped
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    """,
    survey="§2.9 cleaning (percentile winsorization per group, exact interpolated bounds)",
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the standard tail-clamp before a numeric column
    feeds model training: per event type, clamp values into the exact
    interpolated [p01, p99] band. Both engines compute the SAME
    interpolated percentile ((1−f)·a + f·b over sorted doubles, proven
    bit-identical by value_percentiles) and the clamp is least/greatest
    — so the winsorized values hash-match, row for row, at event grain.

    Scale shape: one per-group exact percentile (in-group sort, groups
    bounded by event-type cardinality — the approx_percentile sketch is
    the documented escalation when they aren't), broadcast of the ≤5-row
    bounds table back onto the scan, and a map-side clamp inside
    codegen. No second data pass, no wide shuffle."""
    events = table(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        F.percentile("value", 0.01).alias("lo"),
        F.percentile("value", 0.99).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    # one bounds row per event type
    return events.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "lo",
        "hi",
        clamped.alias("value_winsorized"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "clamped"
        ),
    )


# log10(1 + 1/d) for d = 1..9; literals so no transcendental is ever
# evaluated in either engine (ln/log10 are not correctly-rounded and
# would drift the cross-engine hash — same reasoning as the linear-idf
# note on tfidf_top_terms)
_BENFORD = (
    0.3010299956639812,
    0.17609125905568124,
    0.12493873660829993,
    0.09691001300805642,
    0.07918124604762482,
    0.06694678963061322,
    0.05799194697768673,
    0.05115252244738129,
    0.04575749056067514,
)

# e-notation forces DuckDB to parse each literal as a DOUBLE directly
# (a plain decimal literal becomes DECIMAL(17,16) and its conversion to
# double can land one ULP off the correctly-rounded value Spark holds)
_BENFORD_SQL_CASE = "CASE first_digit " + " ".join(
    f"WHEN '{d}' THEN {_BENFORD[d - 1]:.17e}" for d in range(1, 10)
) + " END"


@query(
    "benford_price_audit",
    oracle=f"""
    WITH digits AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS first_digit
      FROM orders
    ), tot AS (
      SELECT COUNT(*) AS n_total FROM digits
    ), counted AS (
      SELECT first_digit, COUNT(*) AS n_orders FROM digits GROUP BY first_digit
    )
    SELECT first_digit, n_orders,
           CAST(n_orders AS DOUBLE) / n_total AS share,
           {_BENFORD_SQL_CASE} AS benford_expected,
           CAST(n_orders AS DOUBLE) / n_total - {_BENFORD_SQL_CASE}
             AS deviation
    FROM counted, tot
    """,
    survey="§2.9 data-quality (Benford first-digit audit, literal expectations)",
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order prices — the classic
    fabricated-data detector. The first digit comes from integer→string
    conversion (floor → BIGINT → VARCHAR), never from float formatting
    or log10, so both engines bucket identically; the Benford
    expectations are nine compile-time literals. The fixture's uniform
    price distribution FAILS Benford loudly (deviation on digit 1 is
    ~−0.19), which is exactly the point: the audit output is the
    evidence a DQ pipeline would alert on.

    Scale shape: a 9-key groupBy (all partial map-side) + the
    attached scalar total; one scan, one tiny shuffle."""
    digits = table(spark, sf_dir, "orders").select(
        F.substring(F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .alias("first_digit")
    )
    counted = digits.groupBy("first_digit").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = digits.agg(F.count(F.lit(1)).alias("n_total"))
    bexp = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        bexp = F.when(F.col("first_digit") == str(d), F.lit(_BENFORD[d - 1])).otherwise(bexp)
    share = F.col("n_orders").cast("double") / F.col("n_total")
    return (
        attach(counted, tot)
        .select(
            "first_digit",
            "n_orders",
            share.alias("share"),
            bexp.alias("benford_expected"),
            (share - bexp).alias("deviation"),
        )
    )


@query(
    "pearson_correlation_matrix",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
             SUM(CAST(l_discount AS DECIMAL(18,2))) AS sd,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS sqq,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp,
             SUM(CAST(l_discount AS DECIMAL(18,2))
                 * CAST(l_discount AS DECIMAL(18,2))) AS sdd,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_discount AS DECIMAL(18,2))) AS sqd,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_discount AS DECIMAL(18,2))) AS spd
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             / NULLIF(sqrt(greatest(0, n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)))
                * sqrt(greatest(0, n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 0)
             AS corr_qty_price,
           (n * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
             / NULLIF(sqrt(greatest(0, n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)))
                * sqrt(greatest(0, n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 0)
             AS corr_qty_disc,
           (n * CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
             / NULLIF(sqrt(greatest(0, n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))
                * sqrt(greatest(0, n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 0)
             AS corr_price_disc
    FROM m
    """,
    survey="§2.9 profiling (exact-moment Pearson correlation matrix per group)",
)
def pearson_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of (quantity, price, discount) per
    return flag, from ONE pass of exact DECIMAL sufficient statistics
    (the OLS/z-score moment machinery extended to the full 3×3 matrix).
    Everything is rational in exact decimals until the final doubles;
    sqrt is correctly rounded, so the correlations hash-match — unlike
    Spark's builtin corr(), whose streaming co-moment accumulation
    order is engine-specific and cannot be oracle-checked bit-for-bit.

    Scale shape: a single partial-aggregating groupBy on ≤ 3 flags
    carrying 10 mergeable sums — the sufficient-statistic pattern that
    turns any covariance-family computation into one map-side-collapsed
    scan at 100 TB.

    Degenerate contract: a zero-variance (constant) column makes every
    correlation involving it NULL — symmetric in both engines via
    try_divide / NULLIF with the sqrt argument clamped at 0."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    d = F.col("l_discount").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"),
        F.sum(p).alias("sp"),
        F.sum(d).alias("sd"),
        F.sum(q * q).alias("sqq"),
        F.sum(p * p).alias("spp"),
        F.sum(d * d).alias("sdd"),
        F.sum(q * p).alias("sqp"),
        F.sum(q * d).alias("sqd"),
        F.sum(p * d).alias("spd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        # a constant column collapses its variance term to 0 (and double
        # rounding of the exact decimal moments can leave it a hair
        # NEGATIVE): clamp the sqrt argument at 0 in both engines
        # (DuckDB's sqrt RAISES on negatives) and define the
        # zero-variance correlation as NULL — try_divide here, NULLIF in
        # the oracle — instead of ANSI DIVIDE_BY_ZERO
        n = F.col("n")
        num = n * F.col(sxy).cast("double") - F.col(sx).cast("double") * F.col(sy).cast("double")
        dx = F.sqrt(F.greatest(F.lit(0.0), n * F.col(sxx).cast("double") - F.col(sx).cast("double") * F.col(sx).cast("double")))
        dy = F.sqrt(F.greatest(F.lit(0.0), n * F.col(syy).cast("double") - F.col(sy).cast("double") * F.col(sy).cast("double")))
        return F.try_divide(num, dx * dy)

    return m.select(
        "l_returnflag",
        "n",
        corr("sqp", "sq", "sp", "sqq", "spp").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_disc"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("corr_price_disc"),
    )


_ABC_BUCKETS = 32


@query(
    "abc_pareto_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT SUM(r) AS total FROM rev
    ), c AS (
      SELECT l_partkey, CAST(r AS DOUBLE) AS revenue,
             CAST(SUM(r) OVER (ORDER BY r DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(total AS DOUBLE) AS cum_share
      FROM rev, tot
    )
    SELECT l_partkey, revenue, cum_share,
           CASE WHEN cum_share <= 0.80 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
    survey="§2.9 profiling (ABC/Pareto classification via two-phase global cumulative share)",
)
def abc_pareto_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification (the 80/15/5 Pareto split): every
    part gets its exact global cumulative revenue share in descending
    revenue order, WITHOUT a single-partition sort — the two-phase
    pattern of global_rank_two_phase extended from ranks to prefix
    SUMS: (1) parts bucket by revenue range (scalar-attached equi-width
    boundaries, deterministic so the oracle can replay the semantics);
    (2) exact DECIMAL prefix sums inside each bounded bucket partition;
    (3) the 32 per-bucket totals prefix-sum (descending) into offsets
    in one 32-row window partition — the entire serial section;
    (4) cum = offset + in-bucket prefix, still exact DECIMAL, one
    double division at the edge. The ORACLE runs the naive global
    window — the hash match proves the decomposition. Ties cannot
    straddle buckets (equal revenue ⇒ equal bucket), so the composed
    order equals the naive (revenue DESC, partkey) order exactly."""
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r")
    )
    rd = F.col("r").cast("double")
    ext = rev.agg(
        F.min(rd).alias("lo"), F.max(rd).alias("hi"), F.sum("r").alias("total")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(_ABC_BUCKETS))
    bucket = F.least(
        F.floor((rd - F.col("lo")) / width), F.lit(_ABC_BUCKETS - 1)
    ).cast("int")
    bucketed = attach(rev, ext).select(
        "l_partkey", "r", F.col("total").alias("total"), bucket.alias("b")
    )
    in_bucket = (
        Window.partitionBy("b")
        .orderBy(F.col("r").desc(), F.col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_prefix = bucketed.withColumn("local_cum", F.sum("r").over(in_bucket))
    totals = bucketed.groupBy("b").agg(F.sum("r").alias("r_b"))
    # 32-row descending prefix in one window partition: buckets ABOVE b
    # (higher revenue) contribute the offset
    pw = (
        Window.partitionBy(one("b"))
        .orderBy(F.col("b").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "b", F.coalesce(F.sum("r_b").over(pw), F.lit(0).cast("decimal(18,2)")).alias("offset")
    )
    cum_share = (
        (F.col("offset") + F.col("local_cum")).cast("double") / F.col("total").cast("double")
    )
    return (
        # one offset row per bucket (_RANK_BUCKETS)
        with_prefix.join(F.broadcast(offsets), "b")
        .select(
            "l_partkey",
            F.col("r").cast("double").alias("revenue"),
            cum_share.alias("cum_share"),
            F.when(cum_share <= 0.80, "A")
            .when(cum_share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
