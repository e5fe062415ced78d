"""Similarity-search operators over the ``embeddings`` table
(SURVEY §2.9 extensions): vector norms, brute-force cosine top-k as
the exact baseline, a sign-bucketed LSH variant as the scale path, and
per-label centroids (the IVF building block).

Spark-first design notes:

- vectors stay as `array<float>` columns; all arithmetic is `zip_with`
  / `aggregate` column algebra on the JVM — no Python UDFs, no explode
  of the vector in the hot path (the centroid query explodes by design:
  it is a (label, dim)-grain aggregation);
- the query batch (k probe vectors) is broadcast — genuinely tiny and
  constant-size, so the hint is scale-safe (unlike fact-scaled dims);
  candidates stream through a single scan: brute force over N vectors
  is O(N·d) work with zero shuffle beyond the final top-k;
- the LSH variant buckets both sides on an 8-bit sign signature
  (axis-aligned random-hyperplane LSH) and joins bucket-to-bucket —
  at 100 TB the bucket join replaces the broadcast product with an
  equi-join shuffle, touching ~N/256 candidates per probe; IVF replaces
  the sign buckets with learned centroids but keeps this exact shape.

Determinism contract: float→double casts are exact; float×float
products are exact in double (24+24 < 53 mantissa bits); reductions
quantize each product via floor(p·1e12) to BIGINT and sum exactly —
bit-identical across engines, unlike double→DECIMAL casts which differ
at the last ulp (verified empirically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crm_etl_pipeline_spark import lsh
from crm_etl_pipeline_spark.attach import attach
from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.registry import query


def _emb(spark: SparkSession, sf_dir: str):
    """The corrupt-vector gate every Spark load goes through: a row
    whose embedding is NULL, or carries a NaN/Inf component, cannot
    participate in any vector operator — it has no usable direction,
    norm, or cell, and one such row otherwise kills the WHOLE stage
    (the fixed-point dot's NaN -> long cast is an ANSI
    ARITHMETIC_OVERFLOW in Spark and a ConversionException in DuckDB —
    13/13 embedding queries crashed on the probe). Excluded
    symmetrically: every Spark load goes through this filter and every
    oracle scan of the embeddings view carries the matching IS NOT
    NULL + finite-components predicate (inner joins back to
    already-filtered vec_id sets need no repeat). On the driver
    fixture (no NULL or corrupt vectors) both are no-ops, so value
    hashes are unchanged; the null_embeddings, nan_inf_embeddings and
    null_component_embeddings sweep probes pin the degenerate
    agreement — the quarantine philosophy: one corrupt row is one
    excluded row, never the task.

    NULL *components* are explicitly corrupt too: without the isNull()
    disjunct, Spark's three-valued ~exists(...) drops a [1.0, NULL, 2.0]
    row (predicate over the NULL element yields NULL -> exists NULL ->
    filter drops) while DuckDB's NOT list_bool_or(...) ignores NULL
    lambda results and KEEPS it, feeding NULL into the fixed-point
    pipeline. Both sides name x IS NULL a corruption outright.

    A RAGGED dimension is corrupt too: a vector shorter or longer than
    _DIM has no defined position in the 64-dim feature space, and the two
    engines fail it ASYMMETRICALLY — Spark's zip_with pads the short
    side with NULL so the fixed-point fold null-propagates (whole dot
    becomes NULL), while _fixed_dot_sql's range(1, 65) correlated SUM
    skips the NULL terms and returns a partial sum; a LONG vector is
    silently truncated by the SQL twin but fully folded by zip_with.
    Both sides quarantine on exact length (size(embedding) = _DIM
    / len(embedding) = 64 in every oracle scan) — one mis-shaped row
    is one excluded row, never a cross-engine split. The
    ragged_dim_embs sweep batch pins the agreement."""
    return (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .filter(
            ~F.exists(
                "embedding",
                lambda x: x.isNull()
                | F.isnan(x)
                | (F.abs(x) == F.lit(float("inf"))),
            )
        )
        .filter(F.size("embedding") == _DIM)
    )

# --- identity-collision contract for TRAINING pipelines: vec_id is
# the vector identity, and a collision (same vec_id, different
# embedding — two ingest shards minting one id) ties the hash-rank seed
# orderings (ORDER BY md5(vec_id), vec_id) of k-means and the PQ
# per-subspace codebooks, so the engines would train on different seed
# vectors. Training loaders (kmeans / purity-via-kmeans / PQ) resolve
# ONE deterministic winner per vec_id — the lexicographically smallest
# vd, NULLS FIRST (array comparison agrees cross-engine, including
# -0.0 and prefix/length edges; non-finite components are already
# excluded upstream by _emb). Byte-identical duplicates collapse to
# that same winner.
# SERVING scans (brute top-k, standardize, quantize, near-dup, IVF)
# stay winner-free BY DESIGN: they are per-row symmetric (the
# id_collision_embs sweep batch certifies both groups), and a window
# would wreck their scan-only plans.
# Interpolated VERBATIM into every training-loader oracle so the named
# contract and the live SQL cannot drift apart.
_EMB_ONE_SQL = "SELECT vec_id, MIN(vd) AS vd FROM raw_emb GROUP BY vec_id"


def _one_per_vec(df: DataFrame) -> DataFrame:
    """Spark twin of _EMB_ONE_SQL over a (vec_id, vd) frame: winner =
    lexicographic MIN of the vector payload (array MIN agrees
    cross-engine, verified incl. -0.0 and prefix/length edges; vd is
    never NULL past _emb, so MIN's null-skipping never fires). The
    MIN-aggregate form beats a row_number window here: partial
    aggregation combines map-side, where the window's vec_id sort
    shuffled the full 64-dim payload frame (measured +25% on
    ann_pq_adc at sf0.1)."""
    return df.groupBy("vec_id").agg(F.min("vd").alias("vd"))


def _train_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training loader shared by k-means, SemDeDup and PQ: one
    (vec_id, vd) row per identity (_one_per_vec), vd the embedding cast
    to double. One row per vec_id means a duplicated ingest cannot
    double a vector's M-step weight and a collided id cannot tie the
    seed rank."""
    return _one_per_vec(
        _emb(spark, sf_dir).select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vd")
        )
    )


_SCALE = 1e12  # fixed-point quantum for float reductions
_DIM = 64

_N_QUERIES = 8  # probe set: vec_id < 8

# LSH signature width → 2^bits buckets. Sized to the fixture corpus
# (2 k vectors / 256 buckets ≈ 8 per bucket); at scale this MUST grow as
# log2(N / target_bucket_size) — e.g. 24-26 bits at 10^9 vectors —
# or the per-bucket pair/candidate work turns quadratic (the same
# pigeonhole failure a short SimHash signature has; see llmops.py).
_SIGN_BITS = 8


def _fixed_dot(a: Column, b: Column) -> Column:
    """Σ floor(a[i]·b[i]·1e12) as BIGINT — exact, order-independent."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + F.floor(p * F.lit(_SCALE)).cast("bigint"),
    )


def _fixed_norm2(a: Column) -> Column:
    return _fixed_dot(a, a)


def _dist_q(v: Column, cv: Column) -> Column:
    """Σ_d floor((x_d − c_d)²·1e12) as BIGINT, ``v`` cast to double
    first — both inputs are doubles produced by identical arithmetic in
    both engines, each term is one identical IEEE sequence, and the
    integer sum is order-free."""
    return F.aggregate(
        F.zip_with(
            v,
            cv,
            lambda x, y: F.floor(
                (x.cast("double") - y) * (x.cast("double") - y) * F.lit(_SCALE)
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )


# DuckDB twin: correlated sum over range(1, dim+1) with 1-based indexing
def _fixed_dot_sql(a: str, b: str) -> str:
    return (
        f"(SELECT SUM(CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12)"
        f" AS BIGINT)) FROM unnest(range(1, {_DIM + 1})) t(i))"
    )


@query(
    "embedding_norm_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label,
             {_fixed_dot_sql('embedding', 'embedding')} AS n2q
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    )
    SELECT vec_id, label, CAST(n2q AS BIGINT) AS n2q,
           SQRT(CAST(n2q AS DOUBLE) / 1e12) AS l2_norm
    FROM n
    ORDER BY n2q DESC, vec_id
    LIMIT 20
    """,
    survey="§2.9 similarity search (vector norms + top-k; array fold, no explode)",
)
def embedding_norm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vectors by L2 norm. The norm is a per-row array fold
    (no shuffle); top-k compiles to TakeOrderedAndProject."""
    emb = _emb(spark, sf_dir)
    return (
        emb.select("vec_id", "label", _fixed_norm2(F.col("embedding")).alias("n2q"))
        .withColumn("l2_norm", F.sqrt(F.col("n2q").cast("double") / F.lit(_SCALE)))
        .orderBy(F.col("n2q").desc(), F.col("vec_id"))
        .limit(20)
    )


# a zero-norm (all-zero) vector has no direction: its dot with anything
# is 0, so the unguarded ratio is 0/0 — ANSI DIVIDE_BY_ZERO in Spark,
# engine-specific NaN/NULL in DuckDB. Define cosine = 0.0 there
# (rank-neutral, below every similarity threshold) symmetrically:
# COALESCE/NULLIF in SQL, coalesce/try_divide in Spark.
_COS_SQL = (
    "COALESCE(CAST(dotq AS DOUBLE)"
    " / NULLIF(SQRT(CAST(qn2 AS DOUBLE)) * SQRT(CAST(cn2 AS DOUBLE)), 0), 0.0)"
)


def _cos_col(dot: str = "dotq", n2a: str = "qn2", n2b: str = "cn2") -> Column:
    """Spark twin of _COS_SQL: cosine from the fixed-point dot and the
    two squared norms, 0.0 when either norm is zero."""
    return F.coalesce(
        F.try_divide(
            F.col(dot).cast("double"),
            F.sqrt(F.col(n2a).cast("double")) * F.sqrt(F.col(n2b).cast("double")),
        ),
        F.lit(0.0),
    )


def _topk(q: DataFrame, c: DataFrame, k: int, key: str | None = None) -> DataFrame:
    """Exact per-probe top-``k``, the one ranking kernel of every ANN
    query here: the probe frame ``q`` (query_id, qe, ...) joins the
    candidate frame ``c`` (cand_id, ce, ...), a probe never meets
    itself, and with ``key`` the join is the equi-join
    ``q[key] = c["c_" + key]`` (sign bucket or IVF cell). Rows keep
    every column of both sides plus ``dotq`` (the exact fixed-point
    dot) and ``rank`` — row_number over (dotq DESC, cand_id), a total
    order, so the kept set is bit-deterministic. The per-probe window
    compiles to a WindowGroupLimit prune before the rank filter.

    The broadcast decision travels with ``q``: a caller whose probe
    set is a constant-size scan slice passes ``F.broadcast(q)`` (the
    corpus then streams through one scan — keyless probes as the
    intended BroadcastNestedLoopJoin, keyed ones as a
    BroadcastHashJoin). The in-memory IVF paths pass their probes
    unhinted: those come out of the assignment window, and the planner
    picks a sort-merge join there."""
    on = F.col("cand_id") != F.col("query_id")
    if key is not None:
        on = (F.col(key) == F.col("c_" + key)) & on
    w = Window.partitionBy("query_id").orderBy(F.col("dotq").desc(), F.col("cand_id"))
    return (
        q.join(c, on)
        .withColumn("dotq", _fixed_dot(F.col("qe"), F.col("ce")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _sides(e: DataFrame, key: str | None = None) -> tuple[DataFrame, DataFrame]:
    """Split a (vec_id, embedding, n2[, key]) frame into _topk's probe
    side (the vec_id < _N_QUERIES batch) and its candidate side."""
    qk = [key] if key else []
    ck = [F.col(key).alias("c_" + key)] if key else []
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        *qk,
        F.col("n2").alias("qn2"),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("ce"),
        *ck,
        F.col("n2").alias("cn2"),
    )
    return q, c


def _cos_topk(q: DataFrame, c: DataFrame, k: int, key: str | None = None) -> DataFrame:
    """(query_id, cand_id[, key], rank, cosine): _topk with the cosine
    of each kept pair; both sides carry their squared norms."""
    return _topk(q, c, k, key).select(
        "query_id", "cand_id", *([key] if key else []), "rank", _cos_col().alias("cosine")
    )


# a constant so ann_recall_selfcheck can embed the SAME exact-baseline
# text as a subquery
_BRUTE_TOPK_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe,
             {_fixed_dot_sql('embedding', 'embedding')} AS qn2
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64 AND vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cand_id, embedding AS ce,
             {_fixed_dot_sql('embedding', 'embedding')} AS cn2
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    ), scored AS (
      SELECT query_id, cand_id, qn2, cn2,
             {_fixed_dot_sql('qe', 'ce')} AS dotq
      FROM q, c WHERE cand_id <> query_id
    ), ranked AS (
      SELECT query_id, cand_id, {_COS_SQL} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dotq DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, rank, cosine FROM ranked WHERE rank <= 10
    """


@query(
    "ann_cosine_topk",
    oracle=_BRUTE_TOPK_ORACLE,
    survey="§2.9 similarity search (brute-force cosine top-k baseline; broadcast probes)",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: broadcast the probe batch, stream every
    candidate through one scan, zip_with dot products, per-probe top-10
    window. Ranking uses the exact integer dot (cand_id tiebreak), so
    the result set is bit-deterministic.

    Scale: O(N·d·k) flops, one scan, no all-pairs shuffle — the right
    brute-force shape. For large N use ann_lsh_bucketed below.
    """
    e = _emb(spark, sf_dir).select(
        "vec_id", "embedding", _fixed_norm2(F.col("embedding")).alias("n2")
    )
    q, c = _sides(e)
    # the probe set: vec_id < _N_QUERIES; the hint makes it the build side
    return _cos_topk(F.broadcast(q), c, 10)


# 8-bit sign signature over the first dims: bucket = Σ 2^b · [emb[b] ≥ 0]
def _sign_bucket(col: Column) -> Column:
    out = F.lit(0)
    for b in range(_SIGN_BITS):
        out = out + F.when(F.element_at(col, b + 1) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return out


_SIGN_BUCKET_SQL = " + ".join(
    f"CASE WHEN embedding[{b + 1}] >= 0 THEN {1 << b} ELSE 0 END" for b in range(_SIGN_BITS)
)


@query(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket,
             {_fixed_dot_sql('embedding', 'embedding')} AS n2
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe, bucket, n2 AS qn2
      FROM e WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cand_id, embedding AS ce, bucket, n2 AS cn2 FROM e
    ), scored AS (
      SELECT query_id, cand_id, q.bucket, qn2, cn2,
             {_fixed_dot_sql('qe', 'ce')} AS dotq
      FROM q JOIN c ON q.bucket = c.bucket AND cand_id <> query_id
    ), ranked AS (
      SELECT query_id, cand_id, bucket, {_COS_SQL} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dotq DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, bucket, rank, cosine FROM ranked WHERE rank <= 3
    """,
    survey="§2.9 similarity search (sign-LSH bucketed ANN; equi-join scale path)",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: both sides bucketed by an 8-bit hyperplane-sign
    signature, candidates joined bucket-to-bucket (equi-join — the
    shuffle key is the bucket), top-3 per probe within its bucket.

    Scale: probes only meet ~N/256 candidates; recall < 1 by design and
    is measured against ann_cosine_topk in tests/test_llmops.py. IVF is
    this same plan with learned centroid assignments as the bucket key.
    """
    e = _emb(spark, sf_dir).select(
        "vec_id",
        "embedding",
        _sign_bucket(F.col("embedding")).alias("bucket"),
        _fixed_norm2(F.col("embedding")).alias("n2"),
    )
    return _cos_topk(*_sides(e, "bucket"), 3, "bucket")


@query(
    "embedding_centroid_per_label",
    oracle="""
    SELECT label, i - 1 AS dim,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS sumq,
           CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE)
             / 1e12 / COUNT(*) AS mean_val
    FROM embeddings, unnest(range(1, 65)) t(i)
    WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    GROUP BY label, i
    """,
    survey="§2.9 similarity search (per-label centroids — the IVF training step)",
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise centroid per label: posexplode to (label, dim) grain
    and aggregate exact fixed-point sums. One shuffle on (label, dim) —
    64·|labels| keys, uniform; this is the IVF/k-means E-step shape."""
    emb = _emb(spark, sf_dir)
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(_SCALE)).cast("bigint").alias("xq"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("xq").alias("sumq"),
        (F.sum("xq").cast("double") / F.lit(_SCALE) / F.count(F.lit(1))).alias("mean_val"),
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dedup

# clones score ~0.83–0.95 (the +0.5 shift on a unit vector), random
# pairs ≤ 0.6 — 0.8 recovers every clone with a 0.2 margin
_NEAR_THRESHOLD = 0.8
_PERT_DIM = 10  # outside the 8 sign-bucket dims → clone lands in the same bucket


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH base AS (
      -- DISTINCT: vec_id identity (round-8 dup sweep contract) — a
      -- duplicated row would inflate bucket membership/rank caps and
      -- emit duplicate candidate pairs
      SELECT DISTINCT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    ), corpus AS (
      SELECT vec_id, vd FROM base
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             vd[1:{_PERT_DIM - 1}] || [vd[{_PERT_DIM}] + 0.5] || vd[{_PERT_DIM + 1}:{_DIM}] AS vd
      FROM base WHERE vec_id % 6 = 0
    ), e AS (
      SELECT vec_id, vd,
             {" + ".join(f"CASE WHEN vd[{b + 1}] >= 0 THEN {1 << b} ELSE 0 END" for b in range(_SIGN_BITS))} AS bucket,
             {_fixed_dot_sql('vd', 'vd')} AS n2
      FROM corpus
    ), sizes AS (
      SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS anchor FROM e GROUP BY bucket
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk FROM e
    ), scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
             COALESCE(CAST({_fixed_dot_sql('a.vd', 'b.vd')} AS DOUBLE)
               / NULLIF(SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE)), 0), 0.0)
               AS cosine
      FROM ranked a
      JOIN ranked b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      JOIN sizes s ON s.bucket = a.bucket
      WHERE (s.n <= {lsh.BUCKET_CAP} OR a.vec_id = s.anchor)
        AND a.rk <= {lsh.MEMBER_CAP} AND b.rk <= {lsh.MEMBER_CAP}
    )
    SELECT vec_a, vec_b, bucket, cosine FROM scored WHERE cosine >= {_NEAR_THRESHOLD}
    """,
    survey="§2.9 near-dedup (embedding-cosine near-dup via sign-bucket LSH join)",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: perturbed clones are
    fabricated deterministically (one element outside the bucket dims
    shifted +0.5 → same sign bucket, cosine ≈ 0.97 vs ≤ 0.6 for random
    pairs), then recovered by an in-bucket pairwise sweep.

    Scale shape: same no-self-join bucket pattern as the text LSH —
    vectors shuffle once to their bucket, pairs generate inside the
    bucket, never across the full corpus. The oracle models the bucket
    cap identically (over-cap buckets contribute only anchor-rooted star
    pairs); the cosine threshold applies to star pairs too, so over-cap
    members far from the bucket anchor trade some recall — documented,
    bounded, surfaced by the bucket profile.
    """
    base = (
        _emb(spark, sf_dir)
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vd")
        )
        # identity dedup: duplicated rows would inflate bucket
        # membership and emit duplicate candidate pairs
        .dropDuplicates()
    )
    pert = base.filter(F.col("vec_id") % 6 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.slice("vd", 1, _PERT_DIM - 1),
            F.array(F.element_at("vd", _PERT_DIM) + F.lit(0.5)),
            F.slice("vd", _PERT_DIM + 1, _DIM - _PERT_DIM),
        ).alias("vd"),
    )
    corpus = base.unionAll(pert)
    e = corpus.select(
        "vec_id",
        "vd",
        _sign_bucket(F.col("vd")).alias("bucket"),
        _fixed_dot(F.col("vd"), F.col("vd")).alias("n2"),
    )
    buckets = lsh.bounded_sorted_members(
        e,
        ["bucket"],
        member=F.struct("vec_id", "vd", "n2"),
        order=F.col("vec_id"),
        alias="m",
    )
    pair_array = lsh.capped_pair_array(
        F.col("m"),
        lambda x, y: F.struct(
            x["vec_id"].alias("vec_a"),
            y["vec_id"].alias("vec_b"),
            x["vd"].alias("va"),
            y["vd"].alias("vb"),
            x["n2"].alias("n2a"),
            y["n2"].alias("n2b"),
        ),
    )
    p = buckets.select("bucket", F.explode(pair_array).alias("p"))
    return (
        p.withColumn("dotq", _fixed_dot(F.col("p.va"), F.col("p.vb")))
        .select(
            F.col("p.vec_a").alias("vec_a"),
            F.col("p.vec_b").alias("vec_b"),
            "bucket",
            _cos_col("dotq", "p.n2a", "p.n2b").alias("cosine"),
        )
        .filter(F.col("cosine") >= _NEAR_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: learned centroids as the bucket key

_CENTROID_SQL = f"""
      SELECT label, i AS dim,
             CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE)
               / 1e12 / COUNT(*) AS c
      FROM embeddings, unnest(range(1, {_DIM + 1})) t(i)
      WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
      GROUP BY label, i
"""

# squared distance of vector v to centroid rows (joined on dim), exact µs-grade
# fixed point over the per-dim residuals.
# ROW grain spelled in the GROUP BY: the inner aggregate
# sums residuals per (vec_id, PAYLOAD, label), so a COLLIDED vec_id
# (two ingest shards minting one id with different vectors — the
# id_collision_embs class) ranks each payload's own distance and the
# identity's home cell is the cell of its globally closest payload —
# exactly Spark's per-row argmin window in _ivf_assign. A (vec_id,
# label) grain would sum BOTH payloads' residuals before the argmin and
# split from Spark on collided ids. On collision-free data the extra
# key is a no-op: (vec_id, embedding) is then functionally (vec_id), so
# d2q and ranks are value-identical and byte-identical duplicates
# collapse to the same single group.
_ASSIGN_SQL = f"""
    SELECT vec_id, label AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2q, label) AS rnk
    FROM (
      SELECT e.vec_id, cen.label,
             SUM(CAST(FLOOR((CAST(e.embedding[dim] AS DOUBLE) - cen.c)
                            * (CAST(e.embedding[dim] AS DOUBLE) - cen.c) * 1e12) AS BIGINT)) AS d2q
      FROM embeddings e, centroids cen
      WHERE e.embedding IS NOT NULL AND NOT list_bool_or(list_transform(e.embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(e.embedding) = 64
      GROUP BY e.vec_id, e.embedding, cen.label
    )
"""


def _ivf_cells(spark: SparkSession, sf_dir: str, max_rank: int):
    """Shared IVF assignment: (vec_id, cell, rnk) for the ``max_rank``
    nearest centroids per vector. rnk=1 is the home cell (candidate
    side); probes may take rnk<=nprobe for multi-cell search."""
    emb = _emb(spark, sf_dir)
    return _ivf_assign(emb, _ivf_codebook(emb), max_rank)


def _ivf_codebook(emb: DataFrame) -> DataFrame:
    """(cen_label, cvec): per-label exact-integer-mean centroids over a
    corrupt-filtered embedding frame. Separate from the assignment so
    the incremental-index harness can train the codebook on the
    bootstrap corpus only and assign later arrivals against it."""
    return (
        emb.select("label", F.posexplode("embedding").alias("pdim", "x"))
        .groupBy("label", (F.col("pdim") + 1).alias("dim"))
        .agg(
            (
                F.sum(F.floor(F.col("x").cast("double") * F.lit(_SCALE)).cast("bigint"))
                .cast("double")
                / F.lit(_SCALE)
                / F.count(F.lit(1))
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("cen"))
        .select(
            F.col("label").alias("cen_label"),
            F.transform("cen", lambda s: s["c"]).alias("cvec"),
        )
    )


def _ivf_cell_inline(frame: DataFrame, codebook: DataFrame) -> DataFrame:
    """``frame`` + a ``cell`` column — nearest-codebook assignment as a
    pure PROJECTION: the codebook collapses to a one-row array attached
    to every row (``attach``), and the argmin is ``array_min`` over
    (d2q, cen_label) structs — struct ordering IS the (d2q, cen_label)
    tiebreak ``_ivf_assign``'s window encodes, and d2q is the same
    ``_dist_q``, so the assigned cell is bit-identical. Unlike
    ``_ivf_assign`` + join-back this needs NO argmin-window shuffle and
    NO re-join of the payload — the shape a per-micro-batch ingest
    wants (O(batch·k) with zero exchanges; A/B ~0.4 s off the 4-batch
    incremental-IVF drain at sf0.1).

    PRECONDITION: ``frame`` must be row-grain with non-NULL ``vec_id``
    — the ``_emb`` corruption gate upstream guarantees both. The
    ``_ivf_assign`` + inner join-back form drops NULL-vec_id rows and
    collapses colliding vec_ids to one shared rnk=1 cell; this inline
    form keeps every input row and assigns each row its own argmin
    cell, so feeding it NULL/collided identities would diverge from the
    window form."""
    cb1 = codebook.agg(F.collect_list(F.struct("cen_label", "cvec")).alias("cb"))
    cand = lambda c: F.struct(  # noqa: E731 — local expression builder
        _dist_q(F.col("embedding"), c["cvec"]).alias("d2q"),
        c["cen_label"].alias("cen_label"),
    )
    return (
        attach(frame, cb1)
        .withColumn("cell", F.array_min(F.transform("cb", cand))["cen_label"])
        .drop("cb")
    )


def _ivf_assign(emb: DataFrame, centroids: DataFrame, max_rank: int) -> DataFrame:
    """(vec_id, cell, rnk): rank the ``max_rank`` nearest codebook
    centroids per vector — broadcast codebook, one argmin window, zero
    shuffles of the vectors themselves."""
    w_assign = Window.partitionBy("vec_id").orderBy("d2q", "cen_label")
    return (
        # the codebook: one row per centroid
        emb.join(F.broadcast(centroids))
        .select("vec_id", "cen_label", _dist_q(F.col("embedding"), F.col("cvec")).alias("d2q"))
        .withColumn("rnk", F.row_number().over(w_assign))
        .filter(F.col("rnk") <= max_rank)
        .select("vec_id", F.col("cen_label").alias("cell"), "rnk")
    )


# a constant so ann_recall_selfcheck can embed it as a subquery
_IVF_NPROBE2_ORACLE = f"""
    WITH centroids AS ({_CENTROID_SQL}),
    assign AS ({_ASSIGN_SQL}),
    home AS (
      SELECT vec_id, cell FROM assign WHERE rnk = 1
    ), e AS (
      SELECT em.vec_id, home.cell, em.embedding,
             {_fixed_dot_sql('em.embedding', 'em.embedding')} AS n2
      FROM embeddings em JOIN home ON em.vec_id = home.vec_id
    ), probes AS (
      SELECT a.vec_id AS query_id, em.embedding AS qe, a.cell,
             {_fixed_dot_sql('em.embedding', 'em.embedding')} AS qn2
      FROM assign a JOIN embeddings em ON a.vec_id = em.vec_id
      WHERE a.rnk <= 2 AND a.vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cand_id, embedding AS ce, cell, n2 AS cn2 FROM e
    ), scored AS (
      SELECT query_id, cand_id, c.cell AS cell, qn2, cn2,
             {_fixed_dot_sql('qe', 'ce')} AS dotq
      FROM probes JOIN c ON probes.cell = c.cell AND cand_id <> query_id
    ), ranked AS (
      SELECT query_id, cand_id, cell, {_COS_SQL} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dotq DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cell, rank, cosine FROM ranked WHERE rank <= 3
    """


@query(
    "ann_ivf_nprobe2",
    oracle=_IVF_NPROBE2_ORACLE,
    survey="§2.9 similarity search (IVF multi-cell probing: nprobe=2 recall knob)",
)
def ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2 — each probe searches its TWO nearest cells
    (candidates stay in their home cell, so the two probed sets are
    disjoint). This is the standard recall/cost knob: candidate volume
    scales linearly with nprobe while the join stays an equi-join on the
    cell id. Recall dominance over the 1-probe variant is asserted in
    tests/test_llmops.py."""
    cells = _ivf_cells(spark, sf_dir, max_rank=2)
    emb = _emb(spark, sf_dir)
    e = emb.join(cells.filter(F.col("rnk") == 1).select("vec_id", "cell"), "vec_id").select(
        "vec_id", "cell", "embedding", _fixed_norm2(F.col("embedding")).alias("n2")
    )
    probes = (
        cells.filter(F.col("vec_id") < _N_QUERIES)
        .join(emb, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            "cell",
            _fixed_norm2(F.col("embedding")).alias("qn2"),
        )
    )
    return _cos_topk(probes, _sides(e, "cell")[1], 3, "cell")


# 1-probe IVF search result (shared by the in-memory and the
# persisted-index variants — the index layout must not change results)
_IVF_PROBE_ORACLE = f"""
    WITH centroids AS ({_CENTROID_SQL}),
    assign AS ({_ASSIGN_SQL}),
    cells AS (
      SELECT vec_id, cell FROM assign WHERE rnk = 1
    ), e AS (
      SELECT em.vec_id, cells.cell, em.embedding,
             {_fixed_dot_sql('em.embedding', 'em.embedding')} AS n2
      FROM embeddings em JOIN cells ON em.vec_id = cells.vec_id
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe, cell, n2 AS qn2
      FROM e WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cand_id, embedding AS ce, cell, n2 AS cn2 FROM e
    ), scored AS (
      SELECT query_id, cand_id, q.cell AS cell, qn2, cn2,
             {_fixed_dot_sql('qe', 'ce')} AS dotq
      FROM q JOIN c ON q.cell = c.cell AND cand_id <> query_id
    ), ranked AS (
      SELECT query_id, cand_id, cell, {_COS_SQL} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dotq DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cell, rank, cosine FROM ranked WHERE rank <= 3
    """


@query(
    "ann_ivf_probe",
    oracle=_IVF_PROBE_ORACLE,
    survey="§2.9 similarity search (IVF ANN: k-means-style cells as the bucket key)",
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN: vectors are assigned to their nearest
    centroid (per-label means play the trained codebook — the E-step of
    embedding_centroid_per_label), probes search only their own cell.

    Scale shape: the codebook is genuinely tiny (cells × dim) →
    broadcast; assignment is one broadcast join + argmin (no shuffle of
    the vectors); the probe search is the same in-cell equi-join as the
    sign-LSH variant, with learned cells replacing hash buckets. The
    1-probe search trades recall for a ~1/cells candidate fraction —
    recall is measured against the exact baseline in tests.
    """
    emb = _emb(spark, sf_dir)
    # codebook build + broadcast assignment shared with the nprobe=2
    # variant (_ivf_cells); rnk=1 keeps only the home cell
    cells = _ivf_cells(spark, sf_dir, max_rank=1).select("vec_id", "cell")
    e = emb.join(cells, "vec_id").select(
        "vec_id", "cell", "embedding", _fixed_norm2(F.col("embedding")).alias("n2")
    )
    return _cos_topk(*_sides(e, "cell"), 3, "cell")


@query(
    "ann_ivf_persisted_index",
    oracle=_IVF_PROBE_ORACLE,
    survey="§2.9 similarity search (IVF index persisted cell-partitioned; probe = pruned scan)",
)
def ann_ivf_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / serve-many IVF: the assignment (vec_id, embedding,
    n2) is WRITTEN as a cell-partitioned parquet index, and the probe
    search runs against the persisted layout — returning exactly the
    in-memory ann_ivf_probe result (same oracle), which is the parity
    any index must keep. Serving gains the layout advantage: the
    candidate side is a partitioned store on `cell`, the 8-row probe
    side broadcasts, and Catalyst prunes the candidate scan to the
    probes' cell directories (dynamic partition pruning through the
    broadcast — observed in tests/test_layout.py, not assumed). At
    100 TB this is the difference between scanning the corpus per query
    batch and scanning nprobe/cells of it; the index build amortizes
    over every later probe batch.
    """
    import os

    from crm_etl_pipeline_spark import tmpdirs

    base = os.path.join(
        tmpdirs.sf_scoped("crm_etl_ivf", sf_dir),
        "index",
    )
    emb = _emb(spark, sf_dir)
    cells = _ivf_cells(spark, sf_dir, max_rank=1).select("vec_id", "cell")
    e = emb.join(cells, "vec_id").select(
        "vec_id", "embedding", _fixed_norm2(F.col("embedding")).alias("n2"), "cell"
    )
    e.write.partitionBy("cell").parquet(base)
    q, c = _sides(spark.read.parquet(base), "cell")
    # the probe set: vec_id < _N_QUERIES; the hint makes it the build side
    return _cos_topk(F.broadcast(q), c, 3, "cell")


# Incremental IVF maintenance: the probe result over the
# streaming-merged store must equal a one-shot batch assignment of the
# FULL corpus against the BOOTSTRAP-trained codebook — the same CTE
# chain as _IVF_PROBE_ORACLE with only the centroid CTE restricted to
# the bootstrap residue (assign/_ASSIGN_SQL and the probe chain are
# verbatim).
_IVF_INCREMENTAL_ORACLE = f"""
    WITH centroids AS (
      SELECT label, i AS dim,
             CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE)
               / 1e12 / COUNT(*) AS c
      FROM embeddings, unnest(range(1, {_DIM + 1})) t(i)
      WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
        AND (COALESCE(ABS(vec_id), 0) % 5) <> 2
      GROUP BY label, i
    ),
    assign AS ({_ASSIGN_SQL}),
    cells AS (
      SELECT vec_id, cell FROM assign WHERE rnk = 1
    ), e AS (
      SELECT em.vec_id, cells.cell, em.embedding,
             {_fixed_dot_sql('em.embedding', 'em.embedding')} AS n2
      FROM embeddings em JOIN cells ON em.vec_id = cells.vec_id
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe, cell, n2 AS qn2
      FROM e WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS cand_id, embedding AS ce, cell, n2 AS cn2 FROM e
    ), scored AS (
      SELECT query_id, cand_id, q.cell AS cell, qn2, cn2,
             {_fixed_dot_sql('qe', 'ce')} AS dotq
      FROM q JOIN c ON q.cell = c.cell AND cand_id <> query_id
    ), ranked AS (
      SELECT query_id, cand_id, cell, {_COS_SQL} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dotq DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cell, rank, cosine FROM ranked WHERE rank <= 3
    """


@query(
    "ann_ivf_incremental_index",
    oracle=_IVF_INCREMENTAL_ORACLE,
    survey="§2.9 similarity search × §2.7 S7 (incremental IVF index maintenance: "
    "streamed arrivals assigned to frozen cells, cell partitions appended)",
)
def ann_ivf_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the serving-index half of
    the ingest story (the streaming_zorder_ingest pattern applied to
    ann_ivf_persisted_index):
    a bootstrap corpus trains the codebook and lands cell-partitioned;
    the remaining vectors then ARRIVE through a real file-source
    readStream in 4 micro-batches, each assigned to its nearest FROZEN
    cell (broadcast codebook, O(batch·k) work) and appended so only the
    touched cell directories are written. The probe search over the
    merged store must return exactly the one-shot batch assignment
    against the same codebook — the invariance the oracle pins (and
    tests assert the base files are untouched by arrivals). Probes
    broadcast and the candidate scan is dynamic-partition-pruned to the
    probes' cells, the persisted-index serving shape.

    Codebook freezing is the production posture: incremental
    maintenance assigns into existing cells; retraining is a REBUILD,
    monitored by recall decay (ann_recall_selfcheck). At 100 TB the
    steady state is stage 2 of the harness — per micro-batch one k×d
    broadcast + an argmin + a partitioned append, never a read of the
    base index."""
    import os
    import shutil

    from crm_etl_pipeline_spark import streaming, tmpdirs

    wd = os.path.join(
        tmpdirs.sf_scoped("crm_etl_ivf_inc", sf_dir),
        "work",
    )
    shutil.rmtree(wd, ignore_errors=True)
    store = streaming.incremental_ivf_stream(spark, sf_dir, wd)
    if store is None:
        return spark.createDataFrame(
            [], "query_id bigint, cand_id bigint, cell int, rank int, cosine double"
        )
    q, c = _sides(spark.read.parquet(store), "cell")
    # the probe set: vec_id < _N_QUERIES; the hint makes it the build side
    return _cos_topk(F.broadcast(q), c, 3, "cell")


# ---------------------------------------------------------------------------
# vector feature pipeline: per-dim standardization + int8 quantization

_MOMENT_SCALE = 1_000_000  # 1e6 quantum: xq^2 sums stay in BIGINT range
_OUT_DIMS = 8  # output the first 8 dims (stats still span all 64)


@query(
    "embedding_standardize",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_MOMENT_SCALE}) AS BIGINT) AS xq
      FROM embeddings, unnest(range(1, {_DIM + 1})) t(i)
      WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    ), stats AS (
      SELECT i, COUNT(*) AS n, SUM(xq) AS s1, SUM(xq * xq) AS s2 FROM q GROUP BY i
    ), s AS (
      SELECT i,
             CAST(s1 AS DOUBLE) / {_MOMENT_SCALE} / n AS mean_val,
             -- greatest(0, ·): an all-identical corpus makes every dimension
             -- constant; the E[x²]−mean² residual can be -1e-18 (DuckDB sqrt
             -- RAISES; Spark NaNs past the ==0 guard) — clamp symmetrically
             -- (found by the const_vec tie-storm probe)
             sqrt(greatest(0, CAST(s2 AS DOUBLE) / {_MOMENT_SCALE} / {_MOMENT_SCALE} / n
                  - (CAST(s1 AS DOUBLE) / {_MOMENT_SCALE} / n)
                    * (CAST(s1 AS DOUBLE) / {_MOMENT_SCALE} / n))) AS sd_val
      FROM stats
    )
    SELECT vec_id, q.i - 1 AS dim,
           CASE WHEN sd_val = 0 THEN 0.0
                ELSE (CAST(xq AS DOUBLE) / {_MOMENT_SCALE} - mean_val) / sd_val
           END AS z
    FROM q JOIN s ON q.i = s.i WHERE q.i <= {_OUT_DIMS}
    """,
    survey="§2.9 similarity search (per-dimension z-score feature standardization)",
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization — the preprocessing step
    before distance-based indexing when dimensions carry different
    scales. Moments are exact integer sums of 1e6-quantized values
    (xq² sums stay within BIGINT up to ~10⁹ vectors; beyond that the
    escalation is a DECIMAL accumulator like event_value_anomalies');
    the mean/variance/z chain is then a fixed IEEE sequence identical
    in both engines, sqrt included (correctly rounded per IEEE-754).

    Scale shape: one posexplode to (dim) grain — 64 keys, uniform —
    then a 64-row broadcast back onto the exploded scan. Output is
    bounded to the first 8 dims; the statistics span all 64."""
    emb = _emb(spark, sf_dir)
    q = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(float(_MOMENT_SCALE)))
        .cast("bigint")
        .alias("xq"),
    )
    stats = q.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("s1"),
        F.sum(F.col("xq") * F.col("xq")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.lit(float(_MOMENT_SCALE)) / F.col("n")
    s = stats.select(
        "dim",
        mean.alias("mean_val"),
        # greatest(0, ·): clamp the variance residual symmetrically with
        # the oracle — const_vec probe; see event_value_anomalies
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.col("s2").cast("double")
                / F.lit(float(_MOMENT_SCALE))
                / F.lit(float(_MOMENT_SCALE))
                / F.col("n")
                - mean * mean,
            )
        ).alias("sd_val"),
    )
    # zero-dispersion guard (same contract as the z-score family): a
    # constant dimension has sd == 0 and standardizes to 0 in both
    # engines instead of ANSI DIVIDE_BY_ZERO / DuckDB NaN
    z = F.when(F.col("sd_val") == 0, F.lit(0.0)).otherwise(
        (F.col("xq").cast("double") / F.lit(float(_MOMENT_SCALE)) - F.col("mean_val"))
        / F.col("sd_val")
    )
    return (
        q.filter(F.col("dim") < _OUT_DIMS)
        # one stats row per dimension
        .join(F.broadcast(s), "dim")
        .select("vec_id", "dim", z.alias("z"))
    )


@query(
    "embedding_quantize_int8",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_MOMENT_SCALE}) AS BIGINT) AS xq
      FROM embeddings, unnest(range(1, {_DIM + 1})) t(i)
      WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    ), ext AS (
      SELECT i, MIN(xq) AS mn, MAX(xq) AS mx FROM q GROUP BY i
    )
    SELECT vec_id, q.i - 1 AS dim,
           -- a constant dimension has no dynamic range: quantize to
           -- midcode 0 instead of dividing by (mx - mn) = 0
           CASE WHEN mx = mn THEN 0
                ELSE CAST(least(CAST(FLOOR((xq - mn) * 255.0 / (mx - mn)) AS BIGINT),
                                255) - 128 AS INTEGER)
           END AS q8
    FROM q JOIN ext ON q.i = ext.i WHERE q.i <= {_OUT_DIMS}
    """,
    survey="§2.9 similarity search (per-dimension int8 vector quantization)",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization per dimension — the standard 4× vector
    compression before an ANN index (each dim affinely mapped onto
    [-128, 127] by its corpus min/max). Arithmetic is integers plus one
    double division of integers (< 2^53, so floor is exact in both
    engines) — bit-identical, no rounding-mode dependence. The max
    lands on 255 before the clamp only via the exact-division edge, so
    `least` keeps both engines in range. Same (dim)-grain explode +
    64-row broadcast shape as standardization."""
    emb = _emb(spark, sf_dir)
    q = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(float(_MOMENT_SCALE)))
        .cast("bigint")
        .alias("xq"),
    )
    ext = q.groupBy("dim").agg(F.min("xq").alias("mn"), F.max("xq").alias("mx"))
    # zero-range guard: a constant dimension (mx == mn) carries no
    # information — quantize it to midcode 0 in both engines instead of
    # ANSI DIVIDE_BY_ZERO / DuckDB NaN from the affine map's divisor
    q8 = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        (
            F.least(
                F.floor(
                    (F.col("xq") - F.col("mn"))
                    * F.lit(255.0)
                    / (F.col("mx") - F.col("mn"))
                ).cast("bigint"),
                F.lit(255).cast("bigint"),
            )
            - 128
        ).cast("int")
    ).cast("int")
    return (
        q.filter(F.col("dim") < _OUT_DIMS)
        # one extent row per dimension
        .join(F.broadcast(ext), "dim")
        .select("vec_id", "dim", q8.alias("q8"))
    )


# ---------------------------------------------------------------------------
# iterative clustering: k-means (Lloyd) with a full cross-engine oracle

_KMEANS_K = 8
_KMEANS_ITERS = 2  # fixed iteration budget; see docstring


def _kmeans_core_sql(src: str) -> str:
    """The 2-iteration Lloyd CTE chain (seeds → d1 → a1 → c1 → d2) over
    a deduped (vec_id, vd) source CTE named ``src``, shared by
    embedding_kmeans and semantic_dedup's clone-augmented corpus. The
    rendered embedding_kmeans oracle is md5-pinned in
    tests/test_llmops.py."""
    return f"""seeds AS (
      -- NULLS FIRST spelled (round-13 null_vec_ids find): a NULL
      -- vec_id's md5 is NULL — Spark's ASC default is NULLS FIRST,
      -- DuckDB's NULLS LAST, so the engines trained on different seeds
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) NULLS FIRST,
                                         vec_id NULLS FIRST) - 1
               AS cluster, vd AS cv
      FROM {src} QUALIFY cluster < {_KMEANS_K}
    ), d1 AS (
      SELECT e.vec_id, s.cluster,
             SUM(CAST(FLOOR((e.vd[i] - s.cv[i]) * (e.vd[i] - s.cv[i]) * 1e12)
                      AS BIGINT)) AS dq
      FROM {src} e, seeds s, unnest(range(1, {_DIM + 1})) t(i)
      GROUP BY 1, 2
    ), a1 AS (
      SELECT vec_id, cluster
      FROM d1 QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dq, cluster) = 1
    ), c1 AS (
      SELECT cluster, list(mean_d ORDER BY i) AS cv FROM (
        SELECT a1.cluster, i,
               CAST(SUM(CAST(FLOOR(e.vd[i] * {_MOMENT_SCALE}) AS BIGINT)) AS DOUBLE)
                 / {_MOMENT_SCALE} / COUNT(*) AS mean_d
        FROM {src} e JOIN a1 USING (vec_id), unnest(range(1, {_DIM + 1})) t(i)
        GROUP BY 1, 2
      ) GROUP BY cluster
    ), d2 AS (
      SELECT e.vec_id, c.cluster,
             SUM(CAST(FLOOR((e.vd[i] - c.cv[i]) * (e.vd[i] - c.cv[i]) * 1e12)
                      AS BIGINT)) AS dq
      FROM {src} e, c1 c, unnest(range(1, {_DIM + 1})) t(i)
      GROUP BY 1, 2
    )"""


@query(
    "embedding_kmeans",
    oracle=f"""
    WITH raw_emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    ), emb AS (
      -- ONE row per vec_id: byte-identical re-ingest collapses (round-8
      -- dup contract) and a COLLIDED id resolves to the deterministic
      -- winner (round-10 identity-collision contract — the seed rank
      -- ordering ties on a collided id; mirrors Spark's _one_per_vec)
      {_EMB_ONE_SQL}
    ), {_kmeans_core_sql("emb")}
    SELECT vec_id, cluster, CAST(dq AS BIGINT) AS dq
    FROM d2 QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dq, cluster) = 1
    """,
    survey="§2.9 similarity search (iterative k-means training, full oracle)",
)
def embedding_kmeans(
    spark: SparkSession, sf_dir: str, iters: int = _KMEANS_ITERS
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus: k=8 seeds drawn by the
    deterministic md5 hash-rank, then a FIXED budget of 2
    assign-and-recompute iterations, returning each vector's final
    cluster and quantized squared distance. Unlike MLlib's estimator
    (sampled init, tolerance-based stop, float accumulation order),
    every step here is reproducible and oracle-checkable: distances are
    integer sums of identically-IEEE-computed terms, means come from
    exact integer sums (the centroid-query idiom), and ties break on
    cluster id.

    Fixed iteration budget BY DESIGN: production training loops at this
    scale run per-pass budgets with an external convergence check (the
    dedup_components scalar-count pattern); unrolling keeps the whole
    plan one DAG. Scale shape per iteration: the k=8 centroid set is a
    broadcast attached to every vector (``attach``: 8 matches per
    probe row — the ann probe shape without a nested loop), assignment
    is one partitioned window, and the M-step is the (cluster,
    dim)-grain exact aggregate — k·64 keys. Empty clusters
    drop out identically in both engines."""
    return _kmeans_assign(_train_vecs(spark, sf_dir), iters)


def _lloyd_step(
    pts: DataFrame, cents: DataFrame, keys: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One Lloyd iteration, the Spark twin of the oracles' d → a → c
    CTE steps, run independently per value of the grouping ``keys``
    (none for k-means, ``("sub",)`` for PQ's per-subspace codebooks).
    ``pts`` is (vec_id, *keys, vd), ``cents`` is (*keys, cluster, cv).

    Returns (scored, assign, means):
    - scored: every pts row against every centroid of its group, + dq
      (the _dist_q fixed-point squared distance); the centroids are
      tiny and broadcast — joined on ``keys``, or without keys attached
      to every row (``attach``);
    - assign: (vec_id, *keys, cluster, dq), the argmin per (vec_id,
      *keys) with ties to the lower cluster — one partitioned window;
    - means: (*keys, cluster, cv), the M-step — exact integer means
      (1e6 quantum) at (*keys, cluster, dim) grain collected back into
      dim-ordered arrays. Empty clusters drop out, as in the oracles."""
    scored = (
        # the centroids: k per key
        pts.join(F.broadcast(cents), list(keys)) if keys else attach(pts, cents)
    ).withColumn("dq", _dist_q(F.col("vd"), F.col("cv")))
    w = Window.partitionBy("vec_id", *keys).orderBy("dq", "cluster")
    assign = (
        scored.withColumn("arn", F.row_number().over(w))
        .filter(F.col("arn") == 1)
        .select("vec_id", *keys, "cluster", "dq")
    )
    means = (
        pts.join(assign.select("vec_id", *keys, "cluster"), ["vec_id", *keys])
        .select(*keys, "cluster", F.posexplode(F.col("vd")).alias("dim0", "x"))
        .groupBy(*keys, "cluster", "dim0")
        .agg(
            (
                F.sum(F.floor(F.col("x") * F.lit(float(_MOMENT_SCALE))).cast("bigint"))
                .cast("double")
                / F.lit(float(_MOMENT_SCALE))
                / F.count(F.lit(1))
            ).alias("mean_d")
        )
        .groupBy(*keys, "cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "mean_d"))),
                lambda s: s["mean_d"],
            ).alias("cv")
        )
    )
    return scored, assign, means


def _seeds(pts: DataFrame, k: int, keys: tuple[str, ...] = ()) -> DataFrame:
    """(*keys, cluster, cv): the first ``k`` vectors per group under the
    deterministic md5 hash-rank. NULLS FIRST is spelled because a NULL
    vec_id's md5 is NULL and the engines' ASC defaults disagree on NULL
    placement. The window runs after a WindowGroupLimit prune to the
    top ``k`` per group."""
    w = Window.partitionBy(*keys).orderBy(
        F.md5(F.col("vec_id").cast("string")).asc_nulls_first(),
        F.col("vec_id").asc_nulls_first(),
    )
    return (
        pts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(*keys, (F.col("rn") - 1).alias("cluster"), F.col("vd").alias("cv"))
    )


def _kmeans_assign(
    emb: DataFrame, iters: int = _KMEANS_ITERS, ckpt: bool = False
) -> DataFrame:
    """Spark twin of _kmeans_core_sql over a deduped (vec_id, vd) frame:
    ``iters`` Lloyd steps from the hash-rank seeds. Returns (vec_id,
    cluster, dq).

    ``ckpt`` reliable-checkpoints each iteration's 8-row centroid table
    and the final assignment, cutting the unrolled chain's repeated
    subtrees. It pays for callers that consume the assignment more than
    once on a bigger corpus and costs the single-consumer path, which
    keeps the default (sf0.1, 4-core host, median of 4–5 warm runs:
    semantic_dedup 7.5 s with it vs 8.0–8.3 s without;
    kmeans_cluster_purity 2.19 s without vs 2.36 s with). Checkpointing is execution-transparent —
    assignments are unchanged."""
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    centroids = _seeds(emb, _KMEANS_K)
    for _ in range(iters):
        if ckpt:
            centroids = reliable_checkpoint(centroids)
        _, assign, centroids = _lloyd_step(emb, centroids)
    return reliable_checkpoint(assign) if ckpt else assign


# purity oracle: the full kmeans oracle embedded as a subquery, so the
# two queries can never drift apart
from crm_etl_pipeline_spark.registry import REGISTRY as _REG  # noqa: E402


@query(
    "kmeans_cluster_purity",
    oracle=f"""
    WITH assigned AS ({_REG["embedding_kmeans"].oracle}),
    labeled AS (
      SELECT a.cluster, e.label FROM assigned a
      JOIN embeddings e ON a.vec_id = e.vec_id
    ), counts AS (
      SELECT cluster, label, COUNT(*) AS n FROM labeled GROUP BY cluster, label
    ), majority AS (
      SELECT cluster, label AS majority_label, n AS n_majority
      FROM counts QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
                                             ORDER BY n DESC, label) = 1
    ), totals AS (
      SELECT cluster, CAST(SUM(n) AS BIGINT) AS n_members FROM counts GROUP BY cluster
    )
    SELECT t.cluster, n_members, majority_label, n_majority,
           CAST(n_majority AS DOUBLE) / n_members AS purity
    FROM totals t JOIN majority m ON t.cluster = m.cluster
    """,
    survey="§2.9 similarity search (clustering evaluation: per-cluster label purity, composed on embedding_kmeans)",
)
def kmeans_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External evaluation of the k-means clustering: per cluster, the
    majority ground-truth label (ties break on the label) and the
    purity fraction — the standard clustering quality metric, composed
    directly on ``embedding_kmeans``'s assignment (and on its ORACLE,
    embedded verbatim as a subquery, so the two registrations cannot
    drift). One label join plus (cluster, label)-grain aggregates —
    bounded keys end to end after the clustering itself."""
    assigned = embedding_kmeans(spark, sf_dir).select("vec_id", "cluster")
    labels = _emb(spark, sf_dir).select("vec_id", "label")
    counts = (
        assigned.join(labels, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("n").desc(), "label")
    majority = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("majority_label"), F.col("n").alias("n_majority"))
    )
    totals = counts.groupBy("cluster").agg(F.sum("n").alias("n_members"))
    return totals.join(majority, "cluster").select(
        "cluster",
        "n_members",
        "majority_label",
        "n_majority",
        (F.col("n_majority").cast("double") / F.col("n_members")).alias("purity"),
    )


# --- SemDeDup: semantic near-dedup over k-means cells ---------------
# Keep/drop threshold: the fabricated perturbed clone reads cosine
# ≈ 0.999 vs ≤ 0.6 for random fixture pairs, so 0.9 separates cleanly.
# The perturbation is 10× smaller than embedding_near_dup's (+0.05 vs
# +0.5): near_dup only needs the clone inside the same SIGN bucket,
# but here the clone must stay in its original's LEARNED cell — on the
# near-uniform fixture a +0.5 shift flips the argmin centroid for most
# clones (measured at sf0.01: 3/84 drops at +0.5 vs 81/84 at +0.05),
# which would leave the drop path practically unexercised.
_SEM_THRESHOLD = 0.9
# Full pairwise up to this cell size, anchor-star above — sized so the
# fixture decades stay full-pairwise (≤ ~300 members/cell at sf0.1)
# while a pathological mega-cell degrades to O(n) like the LSH buckets.
# At production scale the REAL bound is k itself: SemDeDup trains
# k ∝ N/target_cell_size (50k cells for LAION-scale corpora), so the
# per-cell quadratic term is a constant-sized block; this cap is the
# guardrail for the skewed tail, not the design point.
_SEM_CELL_CAP = 512


@query(
    "semantic_dedup",
    oracle=f"""
    WITH raw_emb AS (
      -- non-NULL identity spelled (keyset contract precedent): a
      -- keep/drop verdict is PER IDENTITY — a NULL vec_id cannot be
      -- kept or dropped, so it is excluded symmetrically up front
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
        AND vec_id IS NOT NULL
    ), base AS (
      -- one row per vec_id (round-8 dup + round-10 collision contracts)
      {_EMB_ONE_SQL}
    ), emb AS (
      -- fabricated near-duplicates: the embedding_near_dup perturbation
      -- shape with a 10× smaller shift (one element shifted +0.05 →
      -- cosine ≈ 0.999, small enough to keep the clone in its
      -- original's learned cell), so the drop path is genuinely
      -- exercised on the clean fixture
      SELECT vec_id, vd FROM base
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             vd[1:{_PERT_DIM - 1}] || [vd[{_PERT_DIM}] + 0.05] || vd[{_PERT_DIM + 1}:{_DIM}] AS vd
      FROM base WHERE vec_id % 6 = 0
    ), {_kmeans_core_sql("emb")},
    assigned AS (
      SELECT vec_id, cluster AS cell
      FROM d2 QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dq, cluster) = 1
    ), m AS (
      SELECT a.cell, e.vec_id, e.vd, {_fixed_dot_sql('e.vd', 'e.vd')} AS n2
      FROM emb e JOIN assigned a USING (vec_id)
    ), sizes AS (
      SELECT cell, COUNT(*) AS n, MIN(vec_id) AS anchor FROM m GROUP BY cell
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rk FROM m
    ), pairs AS (
      SELECT b.vec_id AS vec_id,
             COALESCE(CAST({_fixed_dot_sql('a.vd', 'b.vd')} AS DOUBLE)
               / NULLIF(SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE)), 0), 0.0)
               AS cosine
      FROM ranked a
      JOIN ranked b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN sizes s ON s.cell = a.cell
      WHERE (s.n <= {_SEM_CELL_CAP} OR a.vec_id = s.anchor)
        AND a.rk <= {lsh.MEMBER_CAP} AND b.rk <= {lsh.MEMBER_CAP}
    ), best AS (
      SELECT vec_id, MAX(cosine) AS best_earlier_sim FROM pairs GROUP BY vec_id
    )
    SELECT a.vec_id, a.cell, b.best_earlier_sim,
           COALESCE(b.best_earlier_sim < {_SEM_THRESHOLD}, TRUE) AS kept
    FROM assigned a LEFT JOIN best b ON a.vec_id = b.vec_id
    """,
    survey="§2.9 near-dedup (SemDeDup: semantic dedup via in-cell cosine over "
    "k-means cells — Abbas et al. 2023, composed on embedding_kmeans)",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — semantic near-deduplication (Abbas, Tirumala, Simig,
    Ganguli & Morcos, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", 2023): cluster the embedding
    corpus with k-means, then inside each cell drop every vector whose
    cosine similarity to an EARLIER cell member reaches the threshold —
    the published implementation's rule exactly (per item, max
    similarity to the items before it in a fixed within-cluster
    ordering; threshold → drop). The kept set of a duplicate clique is
    its minimum vec_id; chains over-drop relative to a greedy
    kept-only sweep, matching the paper's pairwise-matrix form.

    Composed on the SAME oracle-able k-means as embedding_kmeans
    (_kmeans_assign / _kmeans_core_sql, clone-augmented corpus): exact
    fixed-point cosine, cell-bucketed pairs, never all-pairs. Perturbed
    clones are fabricated in the embedding_near_dup shape (+0.05 in one
    dim — small enough that the clone shares its original's learned
    cell) so the drop path genuinely fires on the clean fixture (clone
    id = original + 100000 → the original is the earlier member
    whenever k-means lands the pair in one cell — asserted in tests,
    not assumed).

    Identity contracts: one row per vec_id (_one_per_vec winner), NULL
    identities excluded symmetrically up front (a keep/drop verdict is
    per identity — the keyset_pagination non-NULL-key precedent).

    Scale shape: k-means is the embedding_kmeans plan (broadcast
    centroids, one window, bounded M-step); the pairwise stage shuffles
    each vector ONCE to its cell and generates pairs inside the sorted,
    MEMBER_CAP-bounded membership array (the lsh.py discipline —
    over-cap cells degrade to anchor-star pairs, counted not silent).
    At 100 TB the controlling knob is k ∝ N (the paper's posture): cells
    stay constant-sized, so total pair work is O(N · cell_size), one
    shuffle, no skew (cell ids are learned, near-balanced by
    construction of the objective)."""
    base = _train_vecs(spark, sf_dir).filter(F.col("vec_id").isNotNull())
    pert = base.filter(F.col("vec_id") % 6 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.slice("vd", 1, _PERT_DIM - 1),
            F.array(F.element_at("vd", _PERT_DIM) + F.lit(0.05)),
            F.slice("vd", _PERT_DIM + 1, _DIM - _PERT_DIM),
        ).alias("vd"),
    )
    corpus = base.unionAll(pert)
    # ckpt=True: assign is consumed TWICE below (membership build +
    # final keep-join) over the clone-augmented corpus (see
    # _kmeans_assign's docstring); assignments are unchanged
    assigned = _kmeans_assign(corpus, ckpt=True).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    m = corpus.join(assigned, "vec_id").select(
        "cell", "vec_id", "vd", _fixed_norm2(F.col("vd")).alias("n2")
    )
    # NO pair prefilter can land here: (1) cosine is scale-invariant —
    # a=(1,0), b=(1000,0) has cosine 1.0 at norm ratio 1000 — so no
    # norm-ratio bound on cosine exists at any threshold; (2) even a
    # sound threshold prune would corrupt best_earlier_sim, which is a
    # DECLARED output column holding the exact max cosine for every
    # row including sub-threshold maxima. The pairwise stage must stay
    # exhaustive within the capped cell membership.
    cells = lsh.bounded_sorted_members(
        m,
        ["cell"],
        member=F.struct("vec_id", "vd", "n2"),
        order=F.col("vec_id"),
        alias="m",
    )
    pair_array = lsh.capped_pair_array(
        F.col("m"),
        lambda x, y: F.struct(
            y["vec_id"].alias("vec_id"),
            x["vd"].alias("va"),
            y["vd"].alias("vb"),
            x["n2"].alias("n2a"),
            y["n2"].alias("n2b"),
        ),
        cap=_SEM_CELL_CAP,
    )
    p = cells.select(F.explode(pair_array).alias("p"))
    best = (
        p.withColumn("dotq", _fixed_dot(F.col("p.va"), F.col("p.vb")))
        .select(
            F.col("p.vec_id").alias("vec_id"),
            _cos_col("dotq", "p.n2a", "p.n2b").alias("cosine"),
        )
        .groupBy("vec_id")
        .agg(F.max("cosine").alias("best_earlier_sim"))
    )
    return assigned.join(best, "vec_id", "left").select(
        "vec_id",
        "cell",
        "best_earlier_sim",
        F.coalesce(
            F.col("best_earlier_sim") < F.lit(_SEM_THRESHOLD), F.lit(True)
        ).alias("kept"),
    )


_NOISE_PROBES = 64
_NOISE_K = 5


@query(
    "knn_label_disagreement",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64 AND vec_id < {_NOISE_PROBES}
    ), c AS (
      SELECT vec_id AS cand_id, embedding AS ce, label AS clabel
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    ), scored AS (
      SELECT query_id, qlabel, cand_id, clabel,
             {_fixed_dot_sql('qe', 'ce')} AS dotq
      FROM q, c WHERE cand_id <> query_id
    ), ranked AS (
      SELECT query_id, qlabel, clabel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dotq DESC, cand_id) AS rank
      FROM scored
    )
    SELECT query_id, qlabel AS label,
           CAST(SUM(CASE WHEN clabel <> qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_disagree,
           CAST(SUM(CASE WHEN clabel <> qlabel THEN 1 ELSE 0 END) AS DOUBLE)
             / {_NOISE_K} AS disagree_frac,
           SUM(CASE WHEN clabel <> qlabel THEN 1 ELSE 0 END) >= 3 AS is_suspect
    FROM ranked WHERE rank <= {_NOISE_K}
    GROUP BY query_id, qlabel
    """,
    survey="§2.9 label quality (kNN label-noise mining: neighbor-vote disagreement over the exact fixed-dot ranking)",
)
def knn_label_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise mining by neighbor vote (Confident-Learning style):
    for each probe vector, take its 5 nearest neighbors under the
    exact integer dot ranking and measure how often their labels
    disagree with the probe's — a majority disagreement flags the
    probe as probably mislabeled, the standard pre-training triage
    for classifier corpora. Rides the ann_cosine_topk machinery
    unchanged: broadcast probe batch (constant-size, the allowlisted
    BNLJ), one candidate scan, per-probe WindowGroupLimit top-k, then
    a 64-key vote aggregate.

    Scale: probes are a bounded audit sample by design — at 100 TB you
    audit a stratified probe set per label, not the corpus; for
    corpus-wide noise sweeps swap the exact scan for the IVF route
    (ann_ivf_probe) and vote over its candidates instead."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _NOISE_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("clabel"),
    )
    votes = (
        # the probe set: vec_id < _NOISE_PROBES; the hint makes it the build side
        _topk(F.broadcast(q), c, _NOISE_K)
        .groupBy("query_id", F.col("qlabel").alias("label"))
        .agg(
            F.sum(F.when(F.col("clabel") != F.col("qlabel"), 1).otherwise(0)).alias(
                "n_disagree"
            )
        )
    )
    return votes.select(
        "query_id",
        "label",
        "n_disagree",
        (F.col("n_disagree").cast("double") / _NOISE_K).alias("disagree_frac"),
        (F.col("n_disagree") >= 3).alias("is_suspect"),
    )


# ---------------------------------------------------------------------------
# product quantization: subspace codebooks + asymmetric distance (ADC)

_PQ_M = 4  # subspaces
_PQ_SD = _DIM // _PQ_M  # dims per subspace
_PQ_K = 8  # codes per subspace (fixture-sized; 256 at production scale)

# one Lloyd round per subspace (seed-assign -> exact-mean recompute ->
# final assign), then LUT scoring — the kmeans fixed-budget discipline
# applied per subspace. d2 doubles as both the encode pass (argmin per
# (vec, sub)) and the probe LUT (rows with vec_id < N_QUERIES), so the
# codebook that produced the codes is BY CONSTRUCTION the one the ADC
# tables are built from.
_PQ_ADC_ORACLE = f"""
    WITH raw_emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      FROM embeddings WHERE embedding IS NOT NULL AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    ), emb AS (
      -- ONE row per vec_id (round-8 dup + round-10 identity-collision
      -- contracts): the per-subspace seed ranks tie on a collided id;
      -- mirrors Spark's _one_per_vec
      {_EMB_ONE_SQL}
    ), sv AS (
      SELECT vec_id, s AS sub, vd[(s*{_PQ_SD}+1):(s*{_PQ_SD}+{_PQ_SD})] AS svec
      FROM emb, unnest(range(0, {_PQ_M})) t(s)
    ), seeds AS (
      SELECT sub,
             -- NULLS FIRST spelled (round-13 null_vec_ids find — see
             -- the kmeans seed window)
             ROW_NUMBER() OVER (PARTITION BY sub
                                ORDER BY md5(CAST(vec_id AS VARCHAR)) NULLS FIRST,
                                         vec_id NULLS FIRST) - 1
               AS code,
             svec AS cv
      FROM sv QUALIFY code < {_PQ_K}
    ), d1 AS (
      SELECT sv.vec_id, sv.sub, s.code,
             SUM(CAST(FLOOR((sv.svec[i] - s.cv[i]) * (sv.svec[i] - s.cv[i]) * 1e12)
                      AS BIGINT)) AS dq
      FROM sv, seeds s, unnest(range(1, {_PQ_SD + 1})) t(i)
      WHERE sv.sub = s.sub
      GROUP BY 1, 2, 3
    ), a1 AS (
      SELECT vec_id, sub, code
      FROM d1 QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                         ORDER BY dq, code) = 1
    ), c1 AS (
      SELECT sub, code, list(mean_d ORDER BY i) AS cv FROM (
        SELECT a.sub, a.code, i,
               CAST(SUM(CAST(FLOOR(sv.svec[i] * {_MOMENT_SCALE}) AS BIGINT)) AS DOUBLE)
                 / {_MOMENT_SCALE} / COUNT(*) AS mean_d
        FROM sv JOIN a1 a USING (vec_id, sub), unnest(range(1, {_PQ_SD + 1})) t(i)
        GROUP BY 1, 2, 3
      ) GROUP BY sub, code
    ), d2 AS (
      SELECT sv.vec_id, sv.sub, c.code,
             SUM(CAST(FLOOR((sv.svec[i] - c.cv[i]) * (sv.svec[i] - c.cv[i]) * 1e12)
                      AS BIGINT)) AS dq
      FROM sv, c1 c, unnest(range(1, {_PQ_SD + 1})) t(i)
      WHERE sv.sub = c.sub
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id, sub, code
      FROM d2 QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                         ORDER BY dq, code) = 1
    ), lut AS (
      SELECT vec_id AS query_id, sub, code, dq FROM d2 WHERE vec_id < {_N_QUERIES}
    ), adc AS (
      SELECT l.query_id, k.vec_id AS cand_id, SUM(l.dq) AS adc_dq
      FROM codes k JOIN lut l ON k.sub = l.sub AND k.code = l.code
      WHERE k.vec_id <> l.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, cand_id, rank, CAST(adc_dq AS BIGINT) AS adc_dq
    FROM (
      SELECT query_id, cand_id, adc_dq,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dq, cand_id) AS rank
      FROM adc
    ) WHERE rank <= 3
    """


@query(
    "ann_pq_adc",
    oracle=_PQ_ADC_ORACLE,
    survey="§2.9 similarity search (product quantization + ADC scan — the "
    "IVF index's compressed-domain companion)",
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance computation — the
    standard compressed-domain scan that pairs with the IVF index at
    corpus scale (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011). The vector is split into _PQ_M
    subspaces; each subspace trains its own tiny codebook (one Lloyd
    round on deterministic hash-rank seeds, exact integer-mean M-step —
    the embedding_kmeans discipline applied per subspace); every vector
    is encoded as _PQ_M one-byte codes; a probe batch scores candidates
    WITHOUT touching raw vectors, by summing per-subspace
    lookup-table distances over the codes.

    Scale shape — why this survives 100 TB where raw scans don't:
    - the trained codebook is sub×code×subdim ≈ tiny → broadcast; both
      the encode pass and the LUT build are one broadcast equi-join on
      `sub` (never a nested loop — `sub` is a real column key);
    - the serving scan touches ONLY the codes table (_PQ_M bytes/vector
      vs 4·_DIM — a 64× scan-volume cut at production m=8/d=512), and
      the ADC join is codes ⋈ broadcast(LUT) followed by a partial-agg
      SUM: map-side combinable, no shuffle of anything vector-sized;
    - the same d2 frame yields the codes (argmin per (vec, sub)) and
      the probes' LUT rows (the vec_id < 8 probe set), so encode/serve can
      never train on different codebooks — the parity ann_ivf's
      persisted variant proves for layout, proven here for compression.

    Determinism: subvector slices are exact (F.slice ≡ 1-based list
    slicing); distances are the _dist_q fixed-point BIGINT sums; means
    are exact integer sums (the centroid idiom); ties break on code
    then cand_id. Recall floor vs the exact scan is pinned in
    tests/test_llmops.py.
    """
    emb = _train_vecs(spark, sf_dir)
    # one subvector row per (vec_id, sub); the codeword index is the
    # _lloyd_step "cluster"
    slices = F.array(*[F.slice("vd", s * _PQ_SD + 1, _PQ_SD) for s in range(_PQ_M)])
    sv = emb.select("vec_id", F.posexplode(slices).alias("sub", "vd"))
    by_sub = ("sub",)
    # one Lloyd round from the seeds, then the encode/LUT pass (d2)
    # against the trained codebook
    _, _, c1 = _lloyd_step(sv, _seeds(sv, _PQ_K, by_sub), by_sub)
    d2, assign, _ = _lloyd_step(sv, c1, by_sub)
    codes = assign.select(F.col("vec_id").alias("cand_id"), "sub", "cluster")
    lut = d2.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub", "cluster", "dq"
    )
    adc = (
        # the LUT: _N_QUERIES x _PQ_M subspaces x _PQ_K codes
        codes.join(F.broadcast(lut), ["sub", "cluster"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("dq").alias("adc_dq"))
    )
    rw = Window.partitionBy("query_id").orderBy("adc_dq", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "cand_id",
            "rank",
            F.col("adc_dq").cast("bigint").alias("adc_dq"),
        )
    )


_RECALL_SELFCHECK_ORACLE = f"""
    WITH exact3 AS (
      SELECT query_id, cand_id FROM ({_BRUTE_TOPK_ORACLE}) WHERE rank <= 3
    ), ivf1 AS (
      SELECT query_id, cand_id FROM ({_IVF_PROBE_ORACLE})
    ), ivf2 AS (
      SELECT query_id, cand_id FROM ({_IVF_NPROBE2_ORACLE})
    ), spine AS (
      SELECT query_id, COUNT(*) AS n_exact FROM exact3 GROUP BY query_id
    ), h1 AS (
      -- SEMI-join (EXISTS), mirroring Spark's left_semi: each exact3
      -- row counts at most once, however many duplicate (query, cand)
      -- pairs the served side carries (the dup_embs sweep batch found
      -- the inner-join form multiplying hits past n_exact)
      SELECT e.query_id, COUNT(*) AS n FROM exact3 e
      WHERE EXISTS (SELECT 1 FROM ivf1 i
                    WHERE i.query_id = e.query_id AND i.cand_id = e.cand_id)
      GROUP BY e.query_id
    ), h2 AS (
      SELECT e.query_id, COUNT(*) AS n FROM exact3 e
      WHERE EXISTS (SELECT 1 FROM ivf2 i
                    WHERE i.query_id = e.query_id AND i.cand_id = e.cand_id)
      GROUP BY e.query_id
    )
    SELECT s.query_id, s.n_exact,
           CAST(COALESCE(h1.n, 0) AS BIGINT) AS n_hits_nprobe1,
           CAST(COALESCE(h2.n, 0) AS BIGINT) AS n_hits_nprobe2,
           CAST(COALESCE(h1.n, 0) AS DOUBLE) / s.n_exact AS recall_nprobe1,
           CAST(COALESCE(h2.n, 0) AS DOUBLE) / s.n_exact AS recall_nprobe2,
           -- data-INDEPENDENT gate, pinned TRUE like
           -- approx_distinct_selfcheck's within_bound: see docstring
           TRUE AS nprobe_monotone
    FROM spine s
    LEFT JOIN h1 ON s.query_id = h1.query_id
    LEFT JOIN h2 ON s.query_id = h2.query_id
    """


@query(
    "ann_recall_selfcheck",
    oracle=_RECALL_SELFCHECK_ORACLE,
    survey="§2.9 similarity search (recall@3 of the IVF paths vs the exact "
    "baseline, measured IN-QUERY; nprobe-dominance oracle-pinned — the "
    "approx_distinct_selfcheck pattern applied to ANN)",
)
def ann_recall_selfcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the served IVF paths against the exact brute-force
    top-3, computed in-query: the IVF/LSH/PQ family trades recall for
    candidate volume, and this makes the measurement itself an
    oracle-checked dataflow, joining the REAL served results (the same
    ``ann_ivf_probe`` / ``ann_ivf_nprobe2`` constructions, not a
    re-derivation) against the exact baseline.

    The oracle-pinned gate is ``nprobe_monotone`` = per-probe
    hits(nprobe=2) >= hits(nprobe=1), hardcoded TRUE in the oracle the
    way approx_distinct_selfcheck pins ``within_bound``: a hash match
    PROVES the served pipelines kept the invariant. Unlike a recall
    floor, this gate is data-INDEPENDENT — a theorem, not a corpus
    property: both paths rank candidates by the exact fixed-point dot
    under the same (dotq DESC, cand_id) total order, and a true top-3
    neighbor present in a candidate set can be outranked by at most two
    other vectors in the whole corpus, so it ALWAYS surfaces in that
    set's top-3; nprobe=2's candidate set is a superset of nprobe=1's
    (home cell + second cell vs home cell), hence hits are monotone in
    nprobe on ANY data — including degenerate corpora, where a
    recall-floor gate would flip engine-identically FALSE and teach
    nothing. The data-DEPENDENT floor lives in pytest at the fixture
    SFs (test_llmops: macro recall beats 5x the random-draw baseline
    and the measured fixture values are pinned), where corpus
    statistics make a floor meaningful; the fixture corpus is
    near-uniform so absolute recall is structurally low (the
    ann_pq_adc test documents the same property).

    Duplicate-pair contract: both engines count hits as a SEMI-join —
    each exact-top-3 row at most once — so a served side carrying
    duplicate (query, cand) pairs (byte-identical duplicated vectors
    occupy two top-3 ranks) cannot multiply hits past n_exact; an inner
    join there would read recall 4/3 on a duplicated corpus.

    Scale shape: the exact side is the brute-force O(N*d*k) single
    scan (only ever run to JUDGE the index — at 100 TB you sample the
    probe set, which is exactly what vec_id < {_N_QUERIES} is); the
    IVF sides are the served cell equi-joins; the recall join itself
    is 8x3 rows against 8x3 rows. Run periodically per index build,
    not per serve."""
    exact3 = (
        ann_cosine_topk(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("query_id", "cand_id")
    )
    ivf1 = ann_ivf_probe(spark, sf_dir).select("query_id", "cand_id")
    ivf2 = ann_ivf_nprobe2(spark, sf_dir).select("query_id", "cand_id")
    spine = exact3.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    h1 = (
        exact3.join(ivf1, ["query_id", "cand_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    h2 = (
        exact3.join(ivf2, ["query_id", "cand_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    hits1 = F.coalesce(F.col("n1"), F.lit(0)).cast("bigint")
    hits2 = F.coalesce(F.col("n2"), F.lit(0)).cast("bigint")
    return (
        spine.join(h1, "query_id", "left")
        .join(h2, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            hits1.alias("n_hits_nprobe1"),
            hits2.alias("n_hits_nprobe2"),
            (hits1.cast("double") / F.col("n_exact")).alias("recall_nprobe1"),
            (hits2.cast("double") / F.col("n_exact")).alias("recall_nprobe2"),
            (hits2 >= hits1).alias("nprobe_monotone"),
        )
    )
