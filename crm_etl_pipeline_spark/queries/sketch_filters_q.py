"""Sketch-backed runtime filters: Bloom-filter join pruning and a
Count-Min frequency sketch with a self-checking error contract.

The 100 TB join problem the reference never hits (its Mongo extracts
fit in RAM, ``PodioApiWrapper.py:45-118``) is pruning a petabyte fact
scan against a selective dimension predicate BEFORE the shuffle: ship
a few KB of bits to every executor instead of shuffling every fact
row to discover it has no partner. Spark's own runtime row-level
filtering does exactly this internally; here the same construction is
first-class, deterministic, and oracle-checked bit-for-bit.

Determinism contract: both sketches hash with the package-standard
md5 idiom (Spark ``conv(substr(md5(x),1,13),16,10)`` ≡ DuckDB
``CAST('0x' || substr(md5(x),1,13) AS BIGINT)``), so bucket indices,
bitmap words, and collision patterns are identical in both engines —
the false-positive SET itself is oracle-checked, not just bounds.

Scale notes (100 TB):
- The Bloom bitmap is ``_BLOOM_WORDS`` rows (≤ 1 KB) regardless of
  fact size — it rides a broadcast join, the probe is pure map-side
  column algebra inside whole-stage codegen, and the only shuffle in
  the query is the final ≤ 5-key aggregate. On a cluster the pruned
  scan feeds the real join with (1 − fill³) of the non-matching rows
  already gone.
- The Count-Min table is ``_CMS_DEPTH × _CMS_WIDTH`` cells built by
  one partial-aggregating groupBy on (row, col) — mergeable across
  partitions/days like KMV/GK/HLL (aggregates.py:150-300), and the
  probe side joins d tiny broadcast tables. Estimate ≥ exact always
  (one-sided error), checked per key in the output.

Bits are packed 63 per word (bit index 0..62) so the sign bit is
never touched and the variable mask ``CAST(POW(2, bit) AS BIGINT)``
is exact in IEEE double (powers of two are representable; shiftleft
takes only literal shifts in Spark, so pow is the portable form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import query

_BLOOM_WORDS = 128  # 128 words × 63 usable bits = 8064 bits
_BLOOM_BITS = _BLOOM_WORDS * 63
_BLOOM_K = 3  # hash functions

_CMS_DEPTH = 4
_CMS_WIDTH = 256


def _hash_long(col, seed: int):
    """Spark side of the cross-engine md5→long idiom (13 hex = 52 bits,
    exact in a long and in DuckDB's BIGINT cast)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}|"), col.cast("string"))), 1, 13),
            16,
            10,
        )
        .cast("long")
    )


def _hash_sql(expr: str, seed: int) -> str:
    return f"CAST('0x' || substr(md5('{seed}|' || CAST({expr} AS VARCHAR)), 1, 13) AS BIGINT)"


def _bloom_build_sql() -> str:
    """Bitmap CTE: one row per non-empty word, bits OR-ed per word."""
    pos = "\n      UNION ALL\n".join(
        f"      SELECT {_hash_sql('c_custkey', j)} % {_BLOOM_BITS} AS p\n"
        f"      FROM customer WHERE c_mktsegment = 'BUILDING'"
        for j in range(_BLOOM_K)
    )
    return (
        f"positions AS (\n{pos}\n    ), bitmap AS (\n"
        f"      SELECT p // 63 AS word, bit_or(CAST(POW(2, p % 63) AS BIGINT)) AS bits\n"
        f"      FROM positions GROUP BY p // 63\n    )"
    )


def _bloom_probe_sql() -> str:
    """Per-order probe: LEFT JOIN the bitmap once per hash function and
    require every probed bit set (missing word row ⇒ bit unset)."""
    joins, tests = [], []
    for j in range(_BLOOM_K):
        h = _hash_sql("o.o_custkey", j)
        joins.append(
            f"      LEFT JOIN bitmap b{j} ON b{j}.word = ({h} % {_BLOOM_BITS}) // 63"
        )
        tests.append(
            f"(COALESCE(b{j}.bits, 0) & CAST(POW(2, ({h} % {_BLOOM_BITS}) % 63) AS BIGINT)) <> 0"
        )
    return "\n".join(joins), " AND ".join(tests)


_BLOOM_JOINS, _BLOOM_TESTS = _bloom_probe_sql()


@query(
    "bloom_semi_join_prune",
    oracle=f"""
    WITH {_bloom_build_sql()},
    probed AS (
      SELECT o.o_orderpriority,
             ({_BLOOM_TESTS}) AS bloom_pass,
             o.o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_mktsegment = 'BUILDING') AS true_match
      FROM orders o
{_BLOOM_JOINS}
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(SUM(CASE WHEN true_match THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_match,
           CAST(SUM(CASE WHEN bloom_pass AND NOT true_match THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN true_match AND NOT bloom_pass THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_neg
    FROM probed GROUP BY o_orderpriority
    """,
    survey="§2.9 runtime filter (Bloom semi-join pruning, deterministic bitmap, J-family)",
)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning, made first-class: hash the
    BUILDING-segment customer keys into an 8064-bit bitmap (3 md5-seeded
    hash functions, 63 bits/word so the variable mask stays sign-safe),
    broadcast the ≤128-word bitmap, and probe every order map-side. The
    output audits the filter per order priority: rows passing the bloom,
    rows truly matching (exact semi-join), false positives the real join
    would later discard, and false negatives — which the oracle proves
    are ZERO, the Bloom guarantee, as data rather than prose.

    Scale shape: the bitmap build aggregates a filtered dim scan down to
    ≤128 rows (one tiny shuffle); the probe is _BLOOM_K broadcast left
    joins + pure column algebra inside codegen; the final agg has 5
    keys. Only the exact-membership audit join depends on the data size:
    it broadcasts the key set while that fits the broadcast threshold
    and shuffles past it. At 100 TB the bloom probe is the
    difference between shuffling every fact row into the join and
    dropping ~fill³-worth of non-matching rows at the scan."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")

    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    positions = None
    for j in range(_BLOOM_K):
        p = keys.select((_hash_long(F.col("c_custkey"), j) % _BLOOM_BITS).alias("p"))
        positions = p if positions is None else positions.unionAll(p)
    bitmap = (
        positions.select(
            F.floor(F.col("p") / 63).cast("long").alias("word"),
            F.pow(F.lit(2.0), (F.col("p") % 63).cast("double")).cast("long").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )

    probed = orders
    tests = []
    for j in range(_BLOOM_K):
        h = _hash_long(F.col("o_custkey"), j) % _BLOOM_BITS
        word = F.floor(h / 63).cast("long")
        bit = (h % 63).cast("double")
        bm = bitmap.select(
            F.col("word").alias(f"w{j}"), F.col("bits").alias(f"bits{j}")
        )
        # the bitmap: at most _BLOOM_WORDS rows
        probed = probed.join(F.broadcast(bm), word == F.col(f"w{j}"), "left")
        mask = F.pow(F.lit(2.0), bit).cast("long")
        tests.append(F.coalesce(F.col(f"bits{j}"), F.lit(0)).bitwiseAND(mask) != 0)

    bloom_pass = tests[0]
    for t in tests[1:]:
        bloom_pass = bloom_pass & t

    # exact membership for the audit columns: left-semi mark via a left
    # join on the key. The key set is a fifth of customer and grows with
    # it, so the join carries no hint and follows the broadcast threshold
    marked = probed.join(
        keys.withColumn("_m", F.lit(1)),
        probed["o_custkey"] == keys["c_custkey"],
        "left",
    )
    true_match = F.col("_m").isNotNull()
    return marked.select(
        "o_orderpriority",
        bloom_pass.alias("bloom_pass"),
        true_match.alias("true_match"),
    ).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("true_match"), 1).otherwise(0)).alias("n_true_match"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("true_match"), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when(F.col("true_match") & ~F.col("bloom_pass"), 1).otherwise(0)
        ).alias("n_false_neg"),
    )


def _cms_cells_sql() -> str:
    rows = "\n      UNION ALL\n".join(
        f"      SELECT {r} AS r, {_hash_sql('user_id', 100 + r)} % {_CMS_WIDTH} AS col,"
        f" COUNT(*) AS cnt\n      FROM events GROUP BY 2"
        for r in range(_CMS_DEPTH)
    )
    return f"cells AS (\n{rows}\n    )"


@query(
    "countmin_heavy_hitters",
    oracle=f"""
    WITH {_cms_cells_sql()},
    exact AS (
      SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY user_id
    ), top AS (
      SELECT user_id, n_exact FROM exact
      ORDER BY n_exact DESC, user_id LIMIT 20
    ), est AS (
      SELECT t.user_id, t.n_exact, MIN(c.cnt) AS cms_estimate
      FROM top t
      JOIN cells c
        ON c.col = CASE c.r
             {' '.join(f"WHEN {r} THEN {_hash_sql('t.user_id', 100 + r)} % {_CMS_WIDTH}" for r in range(_CMS_DEPTH))}
           END
      GROUP BY t.user_id, t.n_exact
    )
    SELECT user_id, n_exact, cms_estimate,
           cms_estimate - n_exact AS overestimate,
           cms_estimate >= n_exact AS one_sided_ok
    FROM est
    """,
    survey="§2.9 frequency sketch (Count-Min heavy hitters with one-sided error contract)",
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over event actors: a 4×256 counter table built
    by one mergeable groupBy per hash row, probed for the exact top-20
    users. The output carries the sketch estimate NEXT TO the exact
    count plus the one-sided error contract (estimate ≥ exact, the CMS
    guarantee) — both the estimates and the contract column are
    oracle-checked, the same self-checking pattern as the GK sketch
    (aggregates.py:257).

    Scale shape: the sketch is 1024 cells regardless of input size and
    merges across partitions/time windows by cell-wise addition — the
    structure a cluster keeps per-day and sums for any date range
    instead of re-scanning 100 TB. Probing joins each candidate to
    _CMS_DEPTH broadcast cell rows; the only input-sized work is one
    partially-aggregated groupBy per hash row (map-side combine does
    nearly all of it: ≤ _CMS_WIDTH keys reach the shuffle)."""
    events = table(spark, sf_dir, "events")

    cells = None
    for r in range(_CMS_DEPTH):
        c = events.groupBy(
            (_hash_long(F.col("user_id"), 100 + r) % _CMS_WIDTH).alias("col")
        ).agg(F.count(F.lit(1)).alias("cnt")).select(F.lit(r).alias("r"), "col", "cnt")
        cells = c if cells is None else cells.unionAll(c)

    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    top = exact.orderBy(F.col("n_exact").desc(), F.col("user_id")).limit(20)

    probes = None
    for r in range(_CMS_DEPTH):
        p = top.select(
            "user_id",
            "n_exact",
            F.lit(r).alias("r"),
            (_hash_long(F.col("user_id"), 100 + r) % _CMS_WIDTH).alias("col"),
        )
        probes = p if probes is None else probes.unionAll(p)

    est = (
        # the sketch: _CMS_DEPTH x _CMS_WIDTH cells
        probes.join(F.broadcast(cells), ["r", "col"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "user_id",
        "n_exact",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("n_exact")).alias("overestimate"),
        (F.col("cms_estimate") >= F.col("n_exact")).alias("one_sided_ok"),
    )
