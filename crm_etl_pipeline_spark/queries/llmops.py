"""LLM-training-data pipeline operators over the ``documents`` corpus
(SURVEY §2.9 extensions): exact dedup, text statistics / quality
scoring, language-ID heuristic, token counting, shingle fingerprinting,
MinHash-LSH and 64-bit-SimHash near-dedup with banding,
connected-components dedup cluster resolution, deterministic
train/val/test splitting, benchmark decontamination, vocabulary top-k,
and the composed end-to-end curation pipeline.

The reference has no analog (it is a CRM ETL pipeline); these are the
corpus-curation operators a 100 TB training-data pipeline needs, built
Spark-first:

- everything below is pure `pyspark.sql.functions` column algebra
  (codegen'd JVM expressions — zero Python UDFs in the hot path);
- near-dedup NEVER does an all-pairs comparison: MinHash signatures are
  banded and candidates generate INSIDE (band_id, band_sig) buckets
  (lsh.bounded_sorted_members: one shuffle per doc per band, rank-
  bounded membership arrays, capped pair emission) — the standard LSH
  shape that survives a 100×/1000× scale-up. A hot band signature
  (boilerplate docs) is a hot grouping key: its cost is one task's
  sort of the bucket, bounded by the MEMBER_CAP rank filter, never a
  pair explosion. Where the engine DOES equi-join on content-derived
  keys (tf-idf's token join, decontamination's shingle join,
  dedup_components' label propagation), a hot key is a skew-join
  partition; AQE's OptimizeSkewedJoin splits it at runtime — observed,
  not assumed, by tests/test_skew.py::test_aqe_splits_skewed_band_join.

Determinism contract (drives the DuckDB oracles): md5/sha256 hex
strings are identical across engines; whitespace `split` agrees with
DuckDB `string_split`; fixed-point (scale-and-floor to BIGINT) is used
for any float reduction because double→DECIMAL casts differ at the
last ulp between engines (verified empirically).

Duplicates are fabricated deterministically inside the query (the
fixture corpus is 100% distinct): every doc with ``doc_id % 5 == 0``
re-appears verbatim at ``doc_id + 100000`` (exact dup), and every doc
with ``doc_id % 7 == 0`` re-appears with one appended token (near dup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crm_etl_pipeline_spark import lsh
from crm_etl_pipeline_spark.attach import attach, one
from crm_etl_pipeline_spark.io import table
from crm_etl_pipeline_spark.queries.embeddings_q import _fixed_dot_sql
from crm_etl_pipeline_spark.registry import query

# ---------------------------------------------------------------------------
# shared corpus builders (Spark) and their oracle CTE twins (DuckDB SQL)

DUP_OFFSET = 100_000

_EXACT_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {DUP_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 5 = 0
"""

# --- identity-collision contract (round-10 id_collision_docs probe) ---
# doc_id is the document IDENTITY. A collision — the SAME doc_id
# carrying DIFFERENT bytes (two ingest shards minting one id) — broke
# four identity-grain pipelines cross-engine: minhash's per-id
# signature collapse unioned both texts' shingles while the oracle
# kept two signature rows; packing's (md5(id), id) ordering tied on
# two different-length rows (nondeterministic cumulative sums);
# curation's survivor semi-join on doc_id resurrected both contents;
# boilerplate's per-id reassembly merged two documents' lines. The
# contract: identity-grain loaders resolve ONE deterministic winner
# per doc_id — the lexicographically smallest payload, NULLS FIRST —
# identically in both engines, at the loader chokepoint (the _emb
# NULL-vector precedent). Byte-identical duplicates pick the same
# winner as the round-8 DISTINCT did, so clean/dup fixtures are
# hash-unchanged. Per-ROW doc queries (chunking, fingerprints, tf-idf,
# BM25, token stats, UTF-8 gate, ...) pass collisions through
# SYMMETRICALLY instead and stay contract-free by design — the
# id_collision_docs sweep batch certifies both groups.
_DOCS_ONE_SQL = """
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY text ASC NULLS FIRST) AS _rn
      FROM documents) WHERE _rn = 1
"""

_DOCS_ONE_LANG_SQL = """
    SELECT doc_id, lang, text FROM (
      SELECT doc_id, lang, text,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY text ASC NULLS FIRST,
                                         lang ASC NULLS FIRST) AS _rn
      FROM documents) WHERE _rn = 1
"""


def _one_per_doc(df: DataFrame, order_cols: tuple[str, ...]) -> DataFrame:
    """Spark twin of _DOCS_ONE_SQL / _DOCS_ONE_LANG_SQL: one
    deterministic row per doc_id, winner = smallest (order_cols)
    lexicographically, NULLS FIRST (Spark's ASC default, spelled out
    because DuckDB's default is NULLS LAST).

    Deliberately a WINDOW, not MIN(struct(...)): struct MIN with a
    NULL field DIVERGES cross-engine (Spark orders a NULL-field struct
    smallest, DuckDB largest — verified round 10), and text can be
    NULL here (null_text probe). The embeddings twin
    (embeddings_q._one_per_vec) uses the cheaper MIN-aggregate form
    only because its payload is provably never NULL past _emb. The
    window's doc_id partitioning is the same key every consumer
    shuffles on next, so Catalyst elides the extra exchange on the hot
    paths (bench-verified: minhash/curation/pack/boilerplate all
    inside their pre-change bands)."""
    w = Window.partitionBy("doc_id").orderBy(
        *[F.col(c).asc_nulls_first() for c in order_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


_NEAR_CORPUS_SQL = f"""
    SELECT doc_id, text FROM ({_DOCS_ONE_SQL})
    UNION ALL
    SELECT doc_id + {DUP_OFFSET} AS doc_id, text || ' zq' AS text
    FROM ({_DOCS_ONE_SQL}) WHERE doc_id % 7 = 0
"""


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionAll(dups)


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identity winner BEFORE clone fabrication (contract above): the
    # fabricated clone of a collided id derives from the same winner
    # in both engines
    docs = _one_per_doc(
        table(spark, sf_dir, "documents").select("doc_id", "text"), ("text",)
    )
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + DUP_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    return docs.unionAll(dups)


def _casefold(col: Column) -> Column:
    """Cross-engine case-fold (unicode_text probe, round 8): Spark's
    lower() is Java toLowerCase, which applies Unicode SpecialCasing —
    İ (U+0130) → 'i' + combining dot (U+0307) — and the
    context-sensitive Final_Sigma rule (Σ → ς at word end), while
    DuckDB's utf8proc lower() is the per-codepoint SIMPLE mapping
    (İ → i, Σ → σ, unconditionally). The registry contract is the
    simple mapping: context-free and stable across JVM Unicode data
    versions. İ and Σ are the only two codepoints where Java's
    locale-free toLowerCase diverges from the simple mapping, so
    pre-translating them makes Spark's lower() coincide with it."""
    return F.lower(F.translate(col, "\u0130\u03a3", "i\u03c3"))


def _tokens(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def _shingles(tokens: Column, n: int = 5) -> Column:
    """n-token shingles: [concat_ws(' ', tokens[i:i+n]) for i in 1..len-n+1]."""
    return F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )


# DuckDB twin of _shingles on a token list `t` (1-based inclusive slices)
def _shingles_sql(tok_expr: str, n: int = 5) -> str:
    return (
        f"list_transform(range(1, len({tok_expr}) - {n - 2}), "
        f"i -> array_to_string({tok_expr}[i:i+{n - 1}], ' '))"
    )


# ---------------------------------------------------------------------------
# exact dedup


@query(
    "exact_dedup_documents",
    oracle=f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL}),
    hashed AS (
      SELECT doc_id,
             sha256(lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))) AS content_hash
      FROM corpus
    )
    SELECT content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM hashed GROUP BY content_hash
    """,
    survey="§2.9 exact dedup (sha2 content hash + hash-groupBy keep-first)",
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: normalize → sha256 → hash-groupBy, keep the
    lowest doc_id per hash. One shuffle on the 64-hex hash (uniformly
    distributed — no skew by construction); at 100 TB this is the
    canonical map-side-combine groupBy, and the kept-id rule makes the
    survivor deterministic rather than arrival-order-dependent.
    """
    corpus = _exact_corpus(spark, sf_dir)
    normalized = _casefold(F.trim(F.regexp_replace(F.col("text"), "[" + _WS_CLASS + "]+", " ")))
    return (
        corpus.select("doc_id", F.sha2(normalized, 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# text analysis: corpus stats, per-doc token profile, quality score, lang-ID

_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = "('" + "', '".join(_STOPWORDS) + "')"

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks
# \s is engine-divergent: Java's class includes \x0B (vertical tab),
# RE2's does not (whitespace_storm probe, round 8) — spell the
# whitespace set explicitly so both regex engines read identical bytes
_WS_CLASS = r" \t\n\x0B\f\r"  # character-class body, both engines
_BPE_PAT = "[a-z]+|[0-9]+|[^a-z0-9" + _WS_CLASS + "]"

# Shared word-token gate for the trainer family (bpe_merge_training /
# bpe_encode / bigram_lm_quality_filter), one literal for BOTH engines.
# Anchor with \z (end of TEXT in Java and RE2 alike), NOT $: Java's
# non-MULTILINE $ also matches before a FINAL line terminator (\u0085,
# \u2028, \u2029 — none of which are in _WS_CLASS, so they survive the
# split), while RE2's $ is end-of-text only. With $, a token like
# 'ab\u2028' passes the Spark gate and fails the oracle gate — the
# trailing-terminator member of the whitespace_storm hazard class
# (round-13 ADVICE close; both engines verified on \u0085 / \u2028 /
# \u2029 suffixed tokens).
_TOKEN_GATE_RE = r"^[a-z0-9]{1,16}\z"


@query(
    "text_stats",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS n_stop
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc,
           CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS stopword_ratio
    FROM per_doc GROUP BY lang
    """,
    survey="§2.9 text analysis (corpus token/length/stopword stats)",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics — single scan, integer partial
    aggregates (map-side combine), ratios derived from exact int sums at
    the end so the doubles are bit-identical across engines."""
    toks = _tokens()
    per_doc = table(spark, sf_dir, "documents").select(
        "lang",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).alias("n_stop"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens_per_doc"),
        (F.sum("n_stop").cast("double") / F.sum("n_tokens")).alias("stopword_ratio"),
    )


@query(
    "token_profile",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{_BPE_PAT}')) AS n_bpe_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           length(text) AS n_chars
    FROM documents WHERE doc_id < 200
    """,
    survey="§2.9 text analysis (token counting: whitespace + BPE-ish regex)",
)
def token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-style
    pre-tokenizer (letter runs / digit runs / punctuation marks) — all
    codegen'd regex work, no Python."""
    toks = _tokens()
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.size(toks).alias("n_ws_tokens"),
            F.size(F.regexp_extract_all(_casefold(F.col("text")), F.lit(_BPE_PAT), 0)).alias(
                "n_bpe_tokens"
            ),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            F.length("text").alias("n_chars"),
        )
    )


# extracted to a constant in round 15 so rerank_fused_topk can embed
# the certified quality gate as a subquery (the _CHUNKS_SQL whole-
# query-embed pattern); rendering is byte-identical to the inline
# form — md5-pinned in tests/test_llmops.py::
# test_doc_quality_sql_rendering_pinned
_DOC_QUALITY_SQL = f"""
    WITH m AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS n_stop,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
           CAST(n_chars AS DOUBLE) / n_tokens AS mean_token_span,
           CASE WHEN n_tokens >= 40 AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3
                THEN 'keep'
                WHEN n_tokens >= 15 THEN 'review'
                ELSE 'drop' END AS quality_bucket
    FROM m
    """


@query(
    "doc_quality_score",
    oracle=_DOC_QUALITY_SQL,
    survey="§2.9 text analysis (quality scoring: length/stopword/diversity gates)",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality gates (the C4/Gopher-style filter shape):
    ratios from exact integer counts, bucketed by deterministic CASE."""
    toks = _tokens()
    m = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("mean_token_span"),
        F.when((F.col("n_tokens") >= 40) & (distinct_ratio >= 0.3), F.lit("keep"))
        .when(F.col("n_tokens") >= 15, F.lit("review"))
        .otherwise(F.lit("drop"))
        .alias("quality_bucket"),
    )


# language marker terms (n-gram-profile heuristic over the synthetic vocab);
# argmax with a fixed priority order keeps the prediction deterministic
_LANG_MARKERS = {
    "en": ("the", "a", "fast"),
    "es": ("data", "row", "value"),
    "de": ("table", "key", "hash"),
    "zh": ("spark", "join", "batch"),
}


@query(
    "language_id_ngram",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text,' '), x -> x IN ('the','a','fast'))) AS s_en,
             len(list_filter(string_split(text,' '), x -> x IN ('data','row','value'))) AS s_es,
             len(list_filter(string_split(text,' '), x -> x IN ('table','key','hash'))) AS s_de,
             len(list_filter(string_split(text,' '), x -> x IN ('spark','join','batch'))) AS s_zh
      FROM documents
    )
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
                WHEN s_de >= s_zh THEN 'de'
                ELSE 'zh' END AS predicted_lang,
           s_en, s_es, s_de, s_zh
    FROM scored
    """,
    survey="§2.9 text analysis (language-ID via marker-term profile scoring)",
)
def language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: score each doc against per-language marker
    profiles, pick the argmax (fixed priority order breaks ties). The
    real-corpus version swaps marker words for char n-gram profiles —
    same single-scan column-algebra shape, no shuffle at all."""
    toks = _tokens()

    def marker_count(markers: tuple[str, ...]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scored = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[marker_count(markers).alias(f"s_{lang}") for lang, markers in _LANG_MARKERS.items()],
    )
    s = {lang: F.col(f"s_{lang}") for lang in _LANG_MARKERS}
    predicted = (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["zh"]), F.lit("en"))
        .when((s["es"] >= s["de"]) & (s["es"] >= s["zh"]), F.lit("es"))
        .when(s["de"] >= s["zh"], F.lit("de"))
        .otherwise(F.lit("zh"))
    )
    return scored.select(
        "doc_id", "actual_lang", predicted.alias("predicted_lang"), "s_en", "s_es", "s_de", "s_zh"
    )


# ---------------------------------------------------------------------------
# fingerprinting + MinHash LSH near-dedup

_N_HASHES = 12
_N_BANDS = 4  # 3 rows per band


def _minhash_cols_sql(shingle_expr: str) -> str:
    return ",\n             ".join(
        f"list_min(list_transform({shingle_expr}, s -> md5('{j}|' || s))) AS mh{j}"
        for j in range(_N_HASHES)
    )


def _band_sig(b: int) -> F.Column:
    lo = b * (_N_HASHES // _N_BANDS)
    return F.md5(F.concat(*[F.col(f"mh{j}") for j in range(lo, lo + _N_HASHES // _N_BANDS)]))


def _band_sig_sql(b: int) -> str:
    lo = b * (_N_HASHES // _N_BANDS)
    return "md5(" + " || ".join(f"mh{j}" for j in range(lo, lo + _N_HASHES // _N_BANDS)) + ")"


@query(
    "doc_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id, {_shingles_sql('t')} AS shingles
      FROM toks WHERE len(t) >= 5
    )
    SELECT doc_id,
           len(shingles) AS n_shingles,
           list_min(list_transform(shingles, s -> md5(s))) AS fp_min,
           list_max(list_transform(shingles, s -> md5(s))) AS fp_max
    FROM sh
    """,
    survey="§2.9 text analysis (document fingerprint over rolling 5-token shingles)",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-shingle fingerprint: min/max hash over 5-token shingles —
    the 1-hash degenerate MinHash, useful as a cheap prefilter key.
    Pure per-row array algebra: no shuffle, scales linearly."""
    toks = _tokens()
    sh = (
        table(spark, sf_dir, "documents")
        .filter(F.size(toks) >= 5)
        .select("doc_id", _shingles(toks).alias("shingles"))
    )
    hashed = F.transform(F.col("shingles"), F.md5)
    return sh.select(
        "doc_id",
        F.size("shingles").alias("n_shingles"),
        F.array_min(hashed).alias("fp_min"),
        F.array_max(hashed).alias("fp_max"),
    )


@query(
    "minhash_near_dup",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (
      -- DISTINCT mirrors the Spark pipeline's groupBy(doc_id) signature
      -- collapse: a byte-identical re-ingested document row contributes
      -- its shingles once, so duplicated deliveries don't double band
      -- counts (found by the round-8 dup_docs sweep probe)
      SELECT doc_id, string_split(text, ' ') AS t
      FROM (SELECT DISTINCT doc_id, text FROM corpus)
    ), sh AS (
      SELECT doc_id, {_shingles_sql('t')} AS shingles
      FROM toks WHERE len(t) >= 5
    ), sigs AS (
      SELECT doc_id,
             {_minhash_cols_sql('shingles')}
      FROM sh
    ), bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, {_band_sig_sql(b)} AS band_sig FROM sigs" for b in range(_N_BANDS))}
    ), sizes AS (
      SELECT band_id, band_sig, COUNT(*) AS n, MIN(doc_id) AS anchor
      FROM bands GROUP BY band_id, band_sig
    ), ranked AS (
      SELECT doc_id, band_id, band_sig,
             ROW_NUMBER() OVER (PARTITION BY band_id, band_sig ORDER BY doc_id) AS rk
      FROM bands
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_bands,
           bool_or(s.n > {lsh.BUCKET_CAP}) AS from_capped
    FROM ranked a
    JOIN ranked b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    JOIN sizes s
      ON s.band_id = a.band_id AND s.band_sig = a.band_sig
    WHERE (s.n <= {lsh.BUCKET_CAP} OR a.doc_id = s.anchor)
      AND a.rk <= {lsh.MEMBER_CAP} AND b.rk <= {lsh.MEMBER_CAP}
    GROUP BY a.doc_id, b.doc_id
    """,
    survey="§2.9 near-dedup (MinHash + LSH banding; candidate pairs via band-bucket join)",
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidates: 12 seeded minhashes → 4
    bands of 3 → self-equi-join on (band_id, band_sig).

    Scale shape: each doc is shuffled once per band (4×), candidates
    come from bucket joins — never an all-pairs product. Band signatures
    are md5 of the row minhashes, so bucket keys are uniform except for
    true near-dup clusters; a hot bucket (mass boilerplate) is bounded
    by lsh.capped_pair_array — exact pairwise up to the cap, O(n) star
    connectivity above it — and surfaced by lsh_bucket_profile. The
    oracle models the cap identically (over-cap buckets contribute only
    anchor-rooted star pairs), so Spark and oracle agree at ANY bucket
    size, not just while the fixture stays under the cap.

    ``from_capped`` marks pairs where ≥1 contributing bucket degraded
    to star pairs; dedup_components keeps those edges regardless of its
    shared-band threshold so over-cap clusters stay connected.
    """
    buckets = _minhash_buckets(spark, sf_dir)
    pair_array = lsh.capped_pair_array(
        F.col("ids"), lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
    )
    return (
        buckets.select(
            F.explode(pair_array).alias("p"), lsh.is_capped(F.col("ids")).alias("capped")
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_shared_bands"),
            F.bool_or("capped").alias("from_capped"),
        )
    )


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_id, band_sig) — the shared LSH banding pipeline.

    Plan shape, tuned from measurement (11.5 s → ~1.5 s at sf0.1):
    1. repartition by doc_id: the fixture is ONE parquet file, so the
       CPU-bound shingle+md5 map work would otherwise run on 1-2
       cores; at 100 TB the scan has thousands of splits and this
       exchange also pre-locates the groupBy, so it stays one shuffle.
    2. explode shingles, compute the 12 seeded mins as grouped aggs:
       each md5 evaluates exactly once (the array-fold formulation is
       12× the work because CollapseProject inlines the
       shingle-construction expression into every minhash column).
    """
    toks = _tokens()
    exploded = (
        _near_corpus(spark, sf_dir)
        .filter(F.size(toks) >= 5)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(_shingles(toks)).alias("shingle"))
    )
    sigs = exploded.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))).alias(f"mh{j}")
            for j in range(_N_HASHES)
        ]
    )
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), _band_sig(b).alias("band_sig"))
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_sig")


def _minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band buckets with ≥2 members: pair generation happens per bucket
    via bounded sorted membership + nested transform — NO self-join, so
    the signature subtree is computed once, not twice (a broadcast/merge
    self-join cannot reuse the exchange across sides). The membership
    array is rank-bounded at lsh.MEMBER_CAP before collection, so even
    a pathological boilerplate band never builds an O(bucket) row."""
    return lsh.bounded_sorted_members(
        _minhash_bands(spark, sf_dir),
        ["band_id", "band_sig"],
        member=F.col("doc_id"),
        order=F.col("doc_id"),
        alias="ids",
    )


@query(
    "lsh_bucket_profile",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (
      -- DISTINCT mirrors the Spark pipeline's groupBy(doc_id) signature
      -- collapse: a byte-identical re-ingested document row contributes
      -- its shingles once, so duplicated deliveries don't double band
      -- counts (found by the round-8 dup_docs sweep probe)
      SELECT doc_id, string_split(text, ' ') AS t
      FROM (SELECT DISTINCT doc_id, text FROM corpus)
    ), sh AS (
      SELECT doc_id, {_shingles_sql('t')} AS shingles
      FROM toks WHERE len(t) >= 5
    ), sigs AS (
      SELECT doc_id,
             {_minhash_cols_sql('shingles')}
      FROM sh
    ), bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, {_band_sig_sql(b)} AS band_sig FROM sigs" for b in range(_N_BANDS))}
    ), sizes AS (
      SELECT band_id, band_sig, COUNT(*) AS n FROM bands GROUP BY band_id, band_sig
    )
    SELECT band_id,
           COUNT(*) AS n_buckets,
           CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN n > {lsh.BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap
    FROM sizes GROUP BY band_id
    """,
    survey="§2.9 near-dedup observability (bucket-size distribution + over-cap count — no silent caps)",
)
def lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-silent-caps surface for the LSH family: per band, how many
    buckets exist, how many are multi-member (pair-producing), the
    widest bucket, and how many exceeded lsh.BUCKET_CAP (and therefore
    degraded to star connectivity in minhash_near_dup). At corpus scale
    this is the dashboard metric that tells you boilerplate is flooding
    a band before it costs a job."""
    sizes = (
        _minhash_bands(spark, sf_dir)
        .groupBy("band_id", "band_sig")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return sizes.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)).alias("n_multi"),
        F.max("n").alias("max_bucket"),
        F.sum(F.when(F.col("n") > lsh.BUCKET_CAP, 1).otherwise(0)).alias("n_over_cap"),
    )


@query(
    "ngram_jaccard_verify",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM corpus
    ), sh AS (
      SELECT doc_id, list_distinct({_shingles_sql('t')}) AS s
      FROM toks WHERE len(t) >= 5
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_filter(a.s, x -> list_contains(b.s, x))) AS n_shared,
           len(a.s) AS n_a, len(b.s) AS n_b,
           CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x))))
             AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + {DUP_OFFSET}
    """,
    survey="§2.9 near-dedup (exact n-gram Jaccard verification of candidate pairs)",
)
def ngram_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard on the known near-dup pairs — the
    verify stage that follows LSH candidate generation (verify candidate
    pairs only, never all pairs; here the pair list is the fabricated
    +100000 mapping, joined key-to-key).

    Round-15 (guide §2.4, measured 3.6-4.4 s -> 2.3 s at sf0.1,
    bit-identical): the shingle table is checkpointed ONCE — the
    self-join's two sides hash on DIFFERENT keys (doc_id + offset vs
    doc_id), so no exchange reuse applies and the un-materialized form
    re-tokenized and re-shingled the corpus twice. The per-pair overlap
    count also moved from filter+array_contains (O(|a|·|b|) per
    evaluation) to size(array_intersect) — both sides are distinct
    arrays, so the count is identical (same expression the
    prefix-filter verify uses)."""
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    toks = _tokens()
    sh = reliable_checkpoint(
        _near_corpus(spark, sf_dir)
        .filter(F.size(toks) >= 5)
        .select("doc_id", F.array_distinct(_shingles(toks)).alias("s"))
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.col("a.s")) + F.size(F.col("b.s")) - inter
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + DUP_OFFSET).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        inter.alias("n_shared"),
        F.size(F.col("a.s")).alias("n_a"),
        F.size(F.col("b.s")).alias("n_b"),
        (inter.cast("double") / union).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash near-dedup: 64-bit signature (two 32-bit halves) + 16-bit-band LSH
#
# 64 bits is the Manku et al. (WWW'07) web-dedup design point. A 16-bit
# signature collapses at corpus scale (measured at sf0.1: 5.7 k docs
# saturate the 2^16 signature space → 9.7 M "near-dup" pairs from 16-value
# nibble buckets — quadratic pair generation). With 64 bits and 4 bands of
# 16 bits the band key has 65 536 values, so bucket size is driven by true
# near-dup clusters, not by pigeonholed hash collisions. The signature is
# stored as two 32-bit halves so every value fits a signed BIGINT in both
# Spark and DuckDB (1<<63 would overflow).

_SIM_HALF_BITS = 32
_SIM_BANDS = 4  # 4 bands of 16 bits; hamming<=3 ⇒ >=1 identical band
_HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")

# band key exprs over (hi, lo): two 16-bit chunks from each half
_BAND_SPARK = [
    lambda: F.col("lo").bitwiseAND(F.lit(65535)),
    lambda: F.shiftright(F.col("lo"), 16).bitwiseAND(F.lit(65535)),
    lambda: F.col("hi").bitwiseAND(F.lit(65535)),
    lambda: F.shiftright(F.col("hi"), 16).bitwiseAND(F.lit(65535)),
]
_BAND_SQL = ["lo & 65535", "(lo >> 16) & 65535", "hi & 65535", "(hi >> 16) & 65535"]


def _simhash_score_sql(half: str) -> str:
    # half 'hi' reads md5('A|'||tok), 'lo' reads md5('B|'||tok)
    seed = "A" if half == "hi" else "B"
    return ", ".join(
        f"SUM(CASE WHEN substr(md5('{seed}|' || tok), {j + 1}, 1) IN {_HIGH_HEX} "
        f"THEN 1 ELSE -1 END) AS s_{half}{j}"
        for j in range(_SIM_HALF_BITS)
    )


def _simhash_sig_sql(half: str) -> str:
    return " + ".join(
        f"CASE WHEN s_{half}{j} >= 0 THEN {1 << j} ELSE 0 END" for j in range(_SIM_HALF_BITS)
    )


@query(
    "simhash_near_dup",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM corpus
    ), scores AS (
      SELECT doc_id,
             {_simhash_score_sql('hi')},
             {_simhash_score_sql('lo')}
      FROM toks GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id,
             {_simhash_sig_sql('hi')} AS hi,
             {_simhash_sig_sql('lo')} AS lo
      FROM scores
    ), bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, hi, lo, {b} AS band_id, {_BAND_SQL[b]} AS bkey FROM sigs" for b in range(_SIM_BANDS))}
    ), sizes AS (
      SELECT band_id, bkey, COUNT(*) AS n, MIN(doc_id) AS anchor
      FROM bands GROUP BY band_id, bkey
    ), ranked AS (
      SELECT doc_id, hi, lo, band_id, bkey,
             ROW_NUMBER() OVER (PARTITION BY band_id, bkey ORDER BY doc_id) AS rk
      FROM bands
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming,
           COUNT(*) AS n_shared_bands
    FROM ranked a
    JOIN ranked b
      ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    JOIN sizes s
      ON s.band_id = a.band_id AND s.bkey = a.bkey
    WHERE (s.n <= {lsh.BUCKET_CAP} OR a.doc_id = s.anchor)
      AND a.rk <= {lsh.MEMBER_CAP} AND b.rk <= {lsh.MEMBER_CAP}
    GROUP BY a.doc_id, b.doc_id, bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
    HAVING bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
    """,
    survey="§2.9 near-dedup (SimHash 64-bit signature + hamming-LSH 16-bit banding)",
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicates: per-bit vote over distinct-token md5
    bits → 64-bit signature (two 32-bit halves) → 4 × 16-bit LSH bands →
    same-band-key pairs filtered to hamming ≤ 3. The pigeonhole
    guarantee makes banding recall exact: ≤3 differing bits can touch at
    most 3 of the 4 bands, so every true near-pair shares ≥1 band key.

    Scale shape: explode(distinct tokens) → one groupBy(doc_id) with 64
    conditional sums (map-side combined) → band-bucket pair generation
    with 65 536-value keys — bucket size tracks real near-dup clusters,
    never the pigeonholed N/16 of a short signature. Same no-self-join
    collect_list pattern as minhash_near_dup; the oracle models the
    bucket cap identically (over-cap buckets contribute only
    anchor-rooted star pairs).

    Cap/threshold interaction, stated honestly: the hamming ≤ 3 filter
    applies to star pairs too, so a member of an over-cap bucket whose
    signature is far from the bucket ANCHOR (but near some other member)
    loses that edge — a bounded recall trade at the cap boundary, by
    design; lsh_bucket_profile surfaces how often it can happen.
    """
    toks = _tokens()
    exploded = (
        _near_corpus(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(F.array_distinct(toks)).alias("tok"))
        # two md5s per token, one per 32-bit half; the 64 per-bit votes
        # read hex chars of these (hex char >= '8' ⇔ top bit set)
        .select(
            "doc_id",
            F.md5(F.concat(F.lit("A|"), F.col("tok"))).alias("h_hi"),
            F.md5(F.concat(F.lit("B|"), F.col("tok"))).alias("h_lo"),
        )
    )
    scores = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring(col, j + 1, 1).isin(*_HIGH_HEX), 1).otherwise(-1)
            ).alias(f"s_{half}{j}")
            for half, col in (("hi", "h_hi"), ("lo", "h_lo"))
            for j in range(_SIM_HALF_BITS)
        ]
    )

    def _half_sig(half: str) -> Column:
        sig = None
        for j in range(_SIM_HALF_BITS):
            bit = F.when(F.col(f"s_{half}{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
        return sig

    sigs = scores.select("doc_id", _half_sig("hi").alias("hi"), _half_sig("lo").alias("lo"))
    bands = sigs.select(
        "doc_id",
        "hi",
        "lo",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), _BAND_SPARK[b]().alias("bkey"))
                    for b in range(_SIM_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "hi", "lo", "band.band_id", "band.bkey")
    buckets = lsh.bounded_sorted_members(
        bands,
        ["band_id", "bkey"],
        member=F.struct("doc_id", "hi", "lo"),
        order=F.col("doc_id"),
        alias="members",
    )
    pair_array = lsh.capped_pair_array(
        F.col("members"),
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            x["hi"].alias("hi_a"),
            y["hi"].alias("hi_b"),
            x["lo"].alias("lo_a"),
            y["lo"].alias("lo_b"),
        ),
    )
    hamming = (
        F.bit_count(F.col("p.hi_a").bitwiseXOR(F.col("p.hi_b")))
        + F.bit_count(F.col("p.lo_a").bitwiseXOR(F.col("p.lo_b")))
    ).cast("int")
    return (
        buckets.select(F.explode(pair_array).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .filter(F.col("hamming") <= 3)
    )


# ---------------------------------------------------------------------------
# dedup cluster resolution: connected components over near-dup pairs

_MIN_SHARED_BANDS = 2  # edge = pair agreeing in >= 2 of the 4 MinHash bands

# extracted to a constant in round 14 so dedup_cluster_keep_best can
# embed the SAME recursive component chain as a subquery (the
# _BRUTE_TOPK_ORACLE / _kmeans_core_sql pattern); the rendered
# dedup_components oracle is md5-pinned byte-identical to the
# r11-certified inline form (a999ddacc27637aa1414cb023aa3445a) in
# tests/test_llmops.py — the Spark side is untouched, so the registered
# artifacts did not change
_COMPONENTS_CTES = f"""corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM corpus
    ), sh AS (
      SELECT doc_id, {_shingles_sql('t')} AS shingles
      FROM toks WHERE len(t) >= 5
    ), sigs AS (
      SELECT doc_id,
             {_minhash_cols_sql('shingles')}
      FROM sh
    ), bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, {_band_sig_sql(b)} AS band_sig FROM sigs" for b in range(_N_BANDS))}
    ), sizes AS (
      SELECT band_id, band_sig, COUNT(*) AS n, MIN(doc_id) AS anchor
      FROM bands GROUP BY band_id, band_sig
    ), ranked AS (
      SELECT doc_id, band_id, band_sig,
             ROW_NUMBER() OVER (PARTITION BY band_id, band_sig ORDER BY doc_id) AS rk
      FROM bands
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ranked a
      JOIN ranked b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      JOIN sizes s
        ON s.band_id = a.band_id AND s.band_sig = a.band_sig
      WHERE (s.n <= {lsh.BUCKET_CAP} OR a.doc_id = s.anchor)
        AND a.rk <= {lsh.MEMBER_CAP} AND b.rk <= {lsh.MEMBER_CAP}
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {_MIN_SHARED_BANDS} OR bool_or(s.n > {lsh.BUCKET_CAP})
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), verts AS (
      SELECT DISTINCT src AS doc_id FROM edges
    ), walk(doc_id, label) AS (
      SELECT doc_id, doc_id AS label FROM verts
      UNION
      SELECT e.dst AS doc_id, w.label FROM walk w JOIN edges e ON e.src = w.doc_id
    )"""


@query(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTES}
    SELECT doc_id, MIN(label) AS component FROM walk GROUP BY doc_id
    """,
    survey="§2.9 near-dedup (cluster resolution: connected components via iterative min-label propagation)",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster resolution: near-dup candidate pairs (≥2 shared
    MinHash bands, OR any pair from a capped bucket) become an
    undirected graph; each doc gets the minimum doc_id reachable from it
    as its component id — the keep-one-per-cluster rule production dedup
    applies after pair generation.

    The ``from_capped`` keep-rule matters at scale: a star pair emitted
    by ONE over-cap bucket has n_shared_bands = 1 and would fail the
    ≥2-band threshold, silently disconnecting members of exactly the
    mass-duplicate clusters the cap exists for. Capped-bucket edges
    bypass the threshold so those clusters stay whole.

    Spark shape: iterative min-label propagation (the Pregel/GraphX
    connected-components algorithm on plain DataFrames). Each round is
    one equi-join edge⋈labels + a min-groupBy; rounds needed = graph
    diameter (near-dup clusters are cliques or short chains, so 2-3).
    The edge list is materialized once — the signature pipeline never
    re-executes — and each round checkpoints to keep lineage flat, via
    reliable_checkpoint: localCheckpoint at local[*], promoted to
    fault-tolerant checkpoint() when checkpointing.CHECKPOINT_DIR_CONF
    is set on a real cluster. The per-round convergence count is a
    scalar driver action, the standard terminator for iterative
    algorithms (not a data collect). The oracle is DuckDB's recursive
    CTE over the same edges.
    """
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    pairs = reliable_checkpoint(
        minhash_near_dup(spark, sf_dir)
        .filter((F.col("n_shared_bands") >= _MIN_SHARED_BANDS) | F.col("from_capped"))
        .select("doc_a", "doc_b")
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("label")
    )
    # Convergence terminator (round-15, guide §1.2 per-task work): labels
    # only ever DECREASE under min-propagation and the doc_id key set is
    # fixed, so the iteration is converged iff the label sum is unchanged
    # — one scalar aggregate over the just-materialized checkpoint
    # instead of the old full self-join + count per round. DECIMAL(38,0)
    # keeps the sum exact at any scale (1e9 rows x 9.2e18 max id fits in
    # 38 digits; a BIGINT sum could wrap and alias two states).
    prev_sum = None
    for _ in range(15):
        neighbor = edges.join(
            labels.select(F.col("doc_id").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("doc_id"), "label")
        new_labels = reliable_checkpoint(
            labels.unionAll(neighbor).groupBy("doc_id").agg(F.min("label").alias("label"))
        )
        cur_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()[0]
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("doc_id", F.col("label").alias("component"))


@query(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTES},
    comp AS (
      SELECT doc_id, MIN(label) AS component FROM walk GROUP BY doc_id
    ), stats AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM corpus
    ), members AS (
      SELECT c.component, c.doc_id, s.n_tokens, s.n_distinct,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY s.n_tokens DESC NULLS LAST,
                                         s.n_distinct DESC NULLS LAST,
                                         c.doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN stats s USING (doc_id)
    )
    SELECT component, doc_id AS keep_doc_id,
           CAST(n_tokens AS BIGINT) AS kept_n_tokens,
           CAST(n_members AS BIGINT) AS n_members
    FROM members WHERE rk = 1
    """,
    survey="§2.9 near-dedup (cluster canonical selection: keep the "
    "best-quality member per resolved near-dup component — the "
    "selection rule production dedup applies after clustering)",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection over resolved near-dup clusters —
    the stage published pipelines run BETWEEN clustering and the final
    corpus (Dolma/SlimPajama/BigCode all pick one representative per
    fuzzy-dup cluster; the published rules are keep-first, keep-longest
    or keep-best-classifier-score): for every multi-member component
    from dedup_components, keep the member with the most tokens,
    breaking ties by lexical diversity (distinct-token count) then
    smallest doc_id — a deterministic keep-longest rule, where
    dedup_components alone encodes keep-SMALLEST-ID. The two rules
    genuinely differ on this corpus: a fabricated near-clone carries
    one extra token than its base, so keep-longest selects the CLONE
    while the component id stays the base's — the oracle hash pins
    that inversion cross-engine.

    COMPOSITION: the Spark side calls the registered dedup_components
    plan as a subplan (the ann_recall_selfcheck precedent) and the
    oracle embeds the identical recursive-CTE chain via
    _COMPONENTS_CTES (rendered byte-identical to the certified inline
    form, md5-pinned). Member stats come from the same identity-
    resolved near corpus, so every component member has exactly one
    stats row (the _one_per_doc contract); n_tokens is provably
    non-NULL for members (an edge requires >= 5 tokens) — DESC
    placement is spelled anyway per the round-13 campaign discipline.

    Scale shape: components output is cluster-member-grain (far
    smaller than the corpus); the stats join is a uniform doc_id
    equi-join; the winner window partitions BY COMPONENT — real
    clusters are small (the capped-bucket star keeps even boilerplate
    storms bounded), so no single partition ever holds more than a
    cluster. One extra pass over the corpus for stats, zero extra
    iterations."""
    comp = dedup_components(spark, sf_dir)
    toks = _tokens()
    stats = _near_corpus(spark, sf_dir).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    members = comp.join(stats, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_tokens").desc_nulls_last(),
        F.col("n_distinct").desc_nulls_last(),
        F.col("doc_id").asc(),
    )
    return (
        members.select(
            "component",
            "doc_id",
            "n_tokens",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy("component")).alias("n_members"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_tokens").cast("bigint").alias("kept_n_tokens"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


# ---------------------------------------------------------------------------
# corpus curation: train/val/test split, benchmark decontamination, vocab


@query(
    "train_split_stratified",
    oracle="""
    WITH assigned AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tokens,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY split, lang
    """,
    survey="§2.9 text analysis (deterministic hash-based train/val/test split, per-stratum stats)",
)
def train_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test split: the first hex
    char of md5(doc_id) buckets each doc ('0'-'b' → train, 'c'-'d' →
    val, 'e'-'f' → test). Hash-based assignment is reproducible across
    runs/engines and stable under corpus growth — a doc never changes
    split when neighbors are added, unlike row_number()-mod splits.
    Output is the per-(split, lang) stratification audit. One scan, one
    tiny-key groupBy — trivially scale-safe."""
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(first_hex < "c", F.lit("train"))
        .when(first_hex < "e", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    assigned = table(spark, sf_dir, "documents").select(
        "lang", F.size(_tokens()).alias("n_tokens"), split.alias("split")
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


_BENCH_MAX_ID = 20  # doc_id < 20 plays the held-out benchmark set


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM corpus
    ), sh AS (
      SELECT doc_id, list_distinct({_shingles_sql('t')}) AS s
      FROM toks WHERE len(t) >= 5
    ), bx AS (
      SELECT doc_id, len(s) AS n_bench, unnest(s) AS shingle
      FROM sh WHERE doc_id < {_BENCH_MAX_ID}
    ), tx AS (
      SELECT doc_id, unnest(s) AS shingle
      FROM sh WHERE doc_id >= {_BENCH_MAX_ID}
    )
    SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
           COUNT(*) AS n_shared_shingles,
           CAST(COUNT(*) AS DOUBLE) / MAX(b.n_bench) AS bench_overlap_frac
    FROM tx t JOIN bx b ON t.shingle = b.shingle
    GROUP BY t.doc_id, b.doc_id
    """,
    survey="§2.9 near-dedup (benchmark decontamination: train↔eval n-gram overlap via shingle equi-join)",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training docs sharing any 5-token
    shingle with a held-out eval set (doc_id < 20), with the fraction of
    the eval doc's shingles leaked. The exact-dup corpus guarantees
    verbatim contamination (clones of benchmark docs 0/5/10/15 sit in
    the training side at +100000).

    Scale shape: candidates come from an equi-join on the shingle —
    never train × eval all-pairs. The eval side is small and could be
    broadcast; the shingle join also prunes to shingles the eval set
    actually contains, so the shuffled train volume is bounded by
    matching shingles, not corpus size."""
    toks = _tokens()

    def _sh(df: DataFrame) -> DataFrame:
        return df.filter(F.size(toks) >= 5).select(
            "doc_id", F.array_distinct(_shingles(toks)).alias("s")
        )

    # bench/train filters are pushed BELOW the shingle build: the bench
    # side shingles only its ~20 docs (no recompute of the corpus
    # pipeline under the broadcast), and the train side repartitions
    # before the CPU-heavy map work — the fixture is one parquet file
    # (1-2 input splits), which would otherwise serialize it
    corpus = _exact_corpus(spark, sf_dir)
    bx = _sh(corpus.filter(F.col("doc_id") < _BENCH_MAX_ID)).select(
        F.col("doc_id").alias("bench_doc"),
        F.size("s").alias("n_bench"),
        F.explode("s").alias("shingle"),
    )
    tx = _sh(
        corpus.filter(F.col("doc_id") >= _BENCH_MAX_ID).repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
    ).select(F.col("doc_id").alias("train_doc"), F.explode("s").alias("shingle"))
    return (
        # shingles of the doc_id < _BENCH_MAX_ID benchmark docs
        tx.join(F.broadcast(bx), "shingle")
        .groupBy("train_doc", "bench_doc")
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            (F.count(F.lit(1)).cast("double") / F.max("n_bench")).alias("bench_overlap_frac"),
        )
    )


@query(
    "curation_pipeline",
    oracle=f"""
    WITH one AS ({_DOCS_ONE_LANG_SQL}),
    corpus AS (
      -- identity winner BEFORE clone fabrication (round-10
      -- identity-collision contract): the survivor semi-join on
      -- doc_id must never see two contents behind one id
      SELECT doc_id, lang, text FROM one
      UNION ALL
      SELECT doc_id + {DUP_OFFSET} AS doc_id, lang, text
      FROM one WHERE doc_id % 5 = 0
    ),
    gated AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens
      FROM corpus
      WHERE len(string_split(text, ' ')) >= 40
        AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) >= 0.3
    ), hashed AS (
      SELECT doc_id, lang, n_tokens,
             sha256(lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))) AS content_hash
      FROM gated
    ), keep AS (
      SELECT content_hash, MIN(doc_id) AS doc_id FROM hashed GROUP BY content_hash
    ), survivors AS (
      SELECT h.doc_id, h.lang, h.n_tokens FROM hashed h JOIN keep k ON h.doc_id = k.doc_id
    ), assigned AS (
      SELECT lang, n_tokens,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
                  ELSE 'test' END AS split
      FROM survivors
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY split, lang
    """,
    survey="§2.9 end-to-end curation (quality gate → exact dedup → split assign, composed)",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE composed DAG: quality gates
    (C4/Gopher-style) → exact content dedup (keep lowest doc_id) →
    deterministic hash split → per-(split, lang) audit. This is the
    query a training-data user actually runs; the per-stage operators
    (doc_quality_score, exact_dedup_documents, train_split_stratified)
    are its unit-tested pieces.

    Scale shape: one scan through the gates (narrow), one groupBy on the
    uniform content hash, one narrow self-join to recover survivor
    attributes, one tiny-key final groupBy. The dedup join is
    key-to-key on doc_id (no skew); everything before it is pipelined
    into the scan stage.
    """
    toks = _tokens()
    # identity winner before clone fabrication (round-10 contract):
    # the survivor semi-join on doc_id must never see two contents
    # behind one id
    docs = _one_per_doc(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        ("text", "lang"),
    )
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "lang", "text"
        )
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    gated = corpus.filter((F.size(toks) >= 40) & (distinct_ratio >= 0.3)).select(
        "doc_id", "lang", "text", F.size(toks).alias("n_tokens")
    )
    normalized = _casefold(F.trim(F.regexp_replace(F.col("text"), "[" + _WS_CLASS + "]+", " ")))
    hashed = gated.select(
        "doc_id", "lang", "n_tokens", F.sha2(normalized, 256).alias("content_hash")
    )
    # `hashed` feeds both the keep-aggregate and the semi-join probe;
    # the subtree ends in a projection (scan + gates + sha256), which
    # ReuseExchange cannot share, so without a lineage cut the corpus
    # is scanned and hashed twice per action. Same fix as
    # prefix_filter_setsim_join (A/B-measured −26% at sf0.1).
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    hashed = reliable_checkpoint(hashed)
    keep = hashed.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    survivors = hashed.join(keep.select("doc_id"), "doc_id", "left_semi")
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(first_hex < "c", F.lit("train"))
        .when(first_hex < "e", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        survivors.select("lang", "n_tokens", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
    )


@query(
    "vocab_top_tokens",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), per_doc AS (
      SELECT tok, doc_id, COUNT(*) AS cnt FROM tf GROUP BY tok, doc_id
    )
    SELECT tok,
           CAST(SUM(cnt) AS BIGINT) AS freq,
           COUNT(*) AS doc_freq
    FROM per_doc GROUP BY tok
    ORDER BY freq DESC, tok LIMIT 100
    """,
    survey="§2.9 text analysis (tokenizer vocab building: corpus-wide term + document frequency top-k)",
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: top-100 tokens by corpus term frequency with
    document frequency — the tokenizer-training / stopword-mining scan.

    Two-level aggregation on purpose: groupBy(tok, doc_id) then
    groupBy(tok) computes COUNT(DISTINCT doc_id) as a narrow second
    shuffle instead of a countDistinct Expand over the exploded fact —
    the same pre-aggregate trick the flagship query uses. Zipf-skewed
    token keys are absorbed by map-side partial aggregation; the final
    top-100 compiles to TakeOrderedAndProject."""
    tf = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_tokens()).alias("tok")
    )
    per_doc = tf.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_doc.groupBy("tok")
        .agg(F.sum("cnt").alias("freq"), F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(100)
    )


@query(
    "sample_stratified_hashrank",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             -- NULLS FIRST spelled + CONTENT tiebreak (round-13
             -- null_doc_ids find, second order: two NULL-id rows tie
             -- completely on (md5, doc_id) and ROW_NUMBER splits them
             -- arbitrarily PER ENGINE; text breaks the tie — and two
             -- rows equal in (id, text) produce interchangeable output
             -- tuples, so the multiset stays deterministic)
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)) NULLS FIRST,
                                         doc_id NULLS FIRST,
                                         text NULLS FIRST) AS rk
      FROM documents
    )
    SELECT lang, doc_id, n_tokens, rk
    FROM ranked WHERE rk <= 10
    """,
    survey="§2.9 text analysis (deterministic stratified sampling via hash-rank top-k per stratum)",
)
def sample_stratified_hashrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 10 docs per language, chosen by
    md5(doc_id) rank — a reproducible uniform draw that is stable under
    corpus growth within each stratum's hash order (unlike rand()-based
    sampling, which no oracle can replay). The per-stratum top-k
    compiles to WindowGroupLimit: each partition keeps its 10 smallest
    hashes before the shuffle, so the exchanged volume is k·|strata|,
    not the corpus."""
    w = Window.partitionBy("lang").orderBy(
        # NULLS FIRST + content tiebreak spelled on both sides
        # (round-13 placement audit; see the oracle comment)
        F.md5(F.col("doc_id").cast("string")).asc_nulls_first(),
        F.col("doc_id").asc_nulls_first(),
        F.col("text").asc_nulls_first(),
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "lang",
            "doc_id",
            F.size(_tokens()).alias("n_tokens"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 10)
    )


# ---------------------------------------------------------------------------
# repetition / term-weighting / sequence packing — the remaining curation
# stages of a pretraining-data pipeline


@query(
    "doc_repetition_ratio",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, len(string_split(text, ' ')) - 1),
                            i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
               AS g3
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), stats AS (
      SELECT doc_id,
             len(g3) AS n_grams,
             len(list_distinct(g3)) AS n_distinct
      FROM grams
    )
    SELECT doc_id, n_grams, n_distinct,
           1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS dup_gram_frac,
           1.0 - CAST(n_distinct AS DOUBLE) / n_grams > 0.2 AS is_repetitive
    FROM stats
    """,
    survey="§2.9 text quality (Gopher-style within-doc 3-gram repetition filter)",
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: the fraction of duplicate 3-grams —
    the Gopher/RefinedWeb rule that catches boilerplate loops and
    template spam that per-token stats miss. Pure column algebra (one
    scan, no explode-shuffle: the distinct count happens inside the
    array expression per row), flagged at the published 0.2 threshold.
    Ratios derive from exact integer counts, one IEEE division each —
    bit-identical across engines."""
    toks = _tokens()
    g3 = _shingles(toks, 3)
    stats = (
        table(spark, sf_dir, "documents")
        .filter(F.size(toks) >= 3)
        .select(
            "doc_id",
            F.size(g3).alias("n_grams"),
            F.size(F.array_distinct(g3)).alias("n_distinct"),
        )
    )
    frac = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")
    return stats.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        frac.alias("dup_gram_frac"),
        (frac > 0.2).alias("is_repetitive"),
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, tok, tf.tf, df.df,
             tf.tf * (CAST(n_docs AS DOUBLE) / df.df) AS score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tf.tf * (CAST(n_docs AS DOUBLE) / df.df) DESC,
                                         tok) AS rk
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tf, df, score, rk FROM scored WHERE rk <= 3
    """,
    survey="§2.9 text analysis (tf-idf term weighting, top-3 characteristic terms per doc)",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf with LINEAR
    idf (tf · N/df): two exact integer aggregates and exactly two IEEE
    double ops (one divide, one multiply) per score, so ranking is
    bit-identical across engines — log-idf would hinge on each engine's
    libm ln() last-ulp behavior, which no oracle can promise. Ordering
    ties break on the token.

    Scale shape: tf is one explode+groupBy on (doc, token); df
    re-aggregates tf's narrow output (never the exploded fact); N is a
    broadcast scalar; the per-doc top-3 compiles to WindowGroupLimit so
    each partition prunes to 3 rows before the final shuffle."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * (F.col("n_docs").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        attach(tf.join(df, "tok"), n_docs)
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tf", "df", "score", "rk")
    )


@query(
    "pack_training_sequences",
    oracle=f"""
    WITH sized AS (
      -- identity winner (round-10 identity-collision contract): the
      -- (h, doc_id) lay-down order TIES on a collided id, so two
      -- different-length contents behind one id made the running sum
      -- nondeterministic in both engines
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM ({_DOCS_ONE_LANG_SQL})
    ), laid AS (
      SELECT doc_id, lang, n_tokens,
             -- NULLS FIRST spelled: md5(CAST(NULL AS VARCHAR)) is a NULL
             -- h, Spark's ASC default is NULLS FIRST, DuckDB's is NULLS
             -- LAST — a NULL-id doc shifted every later running sum in
             -- its shard (round-13 null_doc_ids find)
             CAST(SUM(n_tokens) OVER (PARTITION BY lang
                                      ORDER BY h NULLS FIRST, doc_id NULLS FIRST
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM sized
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS start_seq,
           CAST((cum - 1) // 2048 AS BIGINT) AS end_seq,
           cum - n_tokens - ((cum - n_tokens) // 2048) * 2048 AS start_offset
    FROM laid
    """,
    survey="§2.9 training prep (concat-and-chunk sequence packing into 2048-token windows)",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing — the standard pretraining batch prep:
    within each language shard, documents are laid end-to-end in a
    deterministic hash order (reproducible across runs) and cut into
    fixed 2048-token sequences; each doc reports the (lang, sequence)
    span it lands in and its offset within the first one.

    Packing is per-stratum BY DESIGN: pretraining corpora pack inside
    language/domain shards, and the stratified window keeps the running
    sum partition-parallel — a corpus-global ordering would need a
    single-partition window, or the two-phase partition-prefix sum that
    ``global_rank_two_phase`` (queries/stats_q.py) implements and
    hash-proves. Integer math only."""
    # identity winner (round-10 contract): the (h, doc_id) lay-down
    # order ties on a collided id — see the oracle comment
    sized = _one_per_doc(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        ("text", "lang"),
    ).select(
        "doc_id",
        "lang",
        F.size(_tokens()).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("lang")
        # NULLS FIRST spelled on both sides (round-13 null_doc_ids find)
        .orderBy(F.col("h").asc_nulls_first(), F.col("doc_id").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    laid = sized.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "start", F.col("cum") - F.col("n_tokens")
    )
    # `div` is exact integer division — floor(double/2048) would round
    # through a double and drift for large cumulative counts
    return laid.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr("start div 2048").alias("start_seq"),
        F.expr("(cum - 1) div 2048").alias("end_seq"),
        F.expr("start - (start div 2048) * 2048").alias("start_offset"),
    )


# ---------------------------------------------------------------------------
# PII redaction + incremental (snapshot-delta) dedup

# RE2-and-Java-compatible patterns (no lookaround, no backrefs): the
# oracle runs them in DuckDB's RE2, Spark in java.util.regex — both
# support character classes, bounded repetition and \b identically.
_EMAIL_PAT = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_PAT = r"\b555-[0-9]{4}\b"

# deterministic PII fabrication (the fixture corpus contains none):
# every doc_id % 9 == 0 gains an email, every doc_id % 11 == 0 a phone
_PII_CORPUS_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 9 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END AS text
    FROM documents
"""


def _pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    email = F.when(
        F.col("doc_id") % 9 == 0,
        F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit(" or 555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    return table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), email, phone).alias("text")
    )


@query(
    "pii_redaction",
    oracle=f"""
    WITH corpus AS ({_PII_CORPUS_SQL})
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_PAT}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_PAT}')) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                          '{_PHONE_PAT}', '<PHONE>', 'g') AS redacted
    FROM corpus
    WHERE doc_id % 9 = 0 OR doc_id % 11 = 0
    """,
    survey="§2.9 curation (PII detection + redaction: email/phone regex scrub before training)",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the curation step every training corpus runs before
    tokenization: count and mask emails/phone numbers with compiled
    regexes. Deterministic PII is fabricated in-query (the fixture has
    none), redaction output is verified byte-for-byte by the oracle.

    Scale shape: a single narrow scan; all regex work is codegen'd JVM
    `regexp_extract_all`/`regexp_replace` — per-row, no shuffle at all
    until the (optional) downstream aggregation, so it pipelines with
    whatever filter/dedup stage follows at any corpus size."""
    t = F.col("text")
    return (
        _pii_corpus(spark, sf_dir)
        .filter((F.col("doc_id") % 9 == 0) | (F.col("doc_id") % 11 == 0))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(t, F.lit(_EMAIL_PAT), 0)).alias("n_emails"),
            F.size(F.regexp_extract_all(t, F.lit(_PHONE_PAT), 0)).alias("n_phones"),
            F.regexp_replace(
                F.regexp_replace(t, _EMAIL_PAT, "<EMAIL>"), _PHONE_PAT, "<PHONE>"
            ).alias("redacted"),
        )
    )


@query(
    "dedup_incremental_new_docs",
    oracle=f"""
    WITH batch AS ({_EXACT_CORPUS_SQL}),
    snapshot AS (
      SELECT DISTINCT sha256(text) AS content_hash
      FROM documents WHERE doc_id % 3 = 0
    ),
    novel AS (
      SELECT b.doc_id, sha256(b.text) AS content_hash
      FROM batch b
      WHERE sha256(b.text) NOT IN (SELECT content_hash FROM snapshot)
    )
    SELECT content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_in_batch
    FROM novel GROUP BY content_hash
    """,
    survey="§2.9 dedup (incremental: new-batch docs deduped against a prior corpus snapshot)",
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the production shape for a GROWING
    corpus: an incoming batch (with its fabricated exact dups) is
    checked against the content-hash snapshot of the docs already
    ingested (here: every doc_id % 3 == 0), and only genuinely new
    content survives, first-writer-wins within the batch.

    Scale shape: the snapshot side is a hash-only projection (32 bytes
    a row, not documents), so at 100 TB it is a compact bucketed table;
    the anti join shuffles both sides on content_hash (uniform by
    construction — it IS a hash) and Spark's runtime Bloom-filter
    injection prunes the batch side before the shuffle when the
    snapshot is selective. No full-corpus recompare on any increment."""
    batch = _exact_corpus(spark, sf_dir).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_hash")
    )
    snapshot = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select(F.sha2(F.col("text"), 256).alias("content_hash"))
        .distinct()
    )
    return (
        batch.join(snapshot, "content_hash", "left_anti")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_in_batch"),
        )
    )


@query(
    "token_rarity_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
    ), counts AS (
      SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok
    ), total AS (
      SELECT COUNT(*) AS n_total FROM toks
    ), rar AS (
      SELECT tok, length(bin(n_total // n_tok)) - 1 AS rarity
      FROM counts CROSS JOIN total
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * rarity) AS BIGINT) AS sum_rarity,
           CAST(SUM(tf * rarity) AS DOUBLE) / SUM(tf) AS avg_rarity
    FROM tf JOIN rar USING (tok)
    GROUP BY doc_id
    """,
    survey="§2.9 text analysis (token rarity / information-content quality score, exact integer log2)",
)
def token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document information-content score — the unigram-LM quality
    signal (rare-token-dense docs score high, boilerplate scores low)
    with EXACT cross-engine arithmetic: rarity(tok) =
    floor(log2(total_tokens / count(tok))) computed as
    length(bin(total div count)) - 1, pure integer ops in both engines
    (libm log() differs at the last ulp between engines and can flip a
    floor boundary; bit-length cannot). The only double op is the final
    division of two exact integers — bit-identical everywhere.

    Scale shape: one explode+groupBy builds the (doc, tok, tf) fact;
    the corpus token histogram re-aggregates that narrow output (never
    the exploded fact twice); the total is a broadcast scalar attached
    to every token (``attach``); the final
    per-doc agg is map-side combinable. Three shuffles total at any
    corpus size."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_tokens()).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    counts = tf.groupBy("tok").agg(F.sum("tf").alias("n_tok"))
    total = counts.agg(F.sum("n_tok").alias("n_total"))
    rar = (
        attach(counts, total)
        .select("tok", (F.length(F.bin(F.expr("n_total div n_tok"))) - F.lit(1)).alias("rarity"))
    )
    return (
        tf.join(rar, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("rarity")).alias("sum_rarity"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_rarity",
            (F.col("sum_rarity").cast("double") / F.col("n_tokens")).alias("avg_rarity"),
        )
    )


@query(
    "repeated_span_mining",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    spans AS (
      SELECT doc_id, unnest({_shingles_sql('t', 10)}) AS span
      FROM toks WHERE len(t) >= 10
    )
    SELECT md5(span) AS span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS first_doc
    FROM spans GROUP BY md5(span)
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    survey="§2.9 dedup (cross-document repeated-span mining: 10-token window hashing flags boilerplate)",
)
def repeated_span_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated spans — the boilerplate/template detector
    that substring-level dedup pipelines run before training: every
    10-token window is hashed (Rabin-Karp shape, md5 here for the
    cross-engine oracle) and windows appearing in ≥2 distinct documents
    surface with their document and occurrence counts. The fabricated
    near-dup clones guarantee shared spans in the fixture.

    Scale shape: explode is a bounded ~W× fanout of the token stream,
    feeding one groupBy on a uniform hash key (md5 — no skew by
    construction except true boilerplate, which is exactly the signal);
    the distinct-doc count is a partial-aggregated COUNT(DISTINCT) on
    that same key, and the ≥2-docs filter prunes the long unique tail
    before any further stage. No all-pairs comparison at any size."""
    toks = _tokens()
    spans = (
        _near_corpus(spark, sf_dir)
        .filter(F.size(toks) >= 10)
        .select("doc_id", F.explode(_shingles(toks, 10)).alias("span"))
    )
    return (
        spans.groupBy(F.md5(F.col("span")).alias("span_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# retrieval / training-prep additions: BM25 search, chunking, inverted index

# fixed query-term set for the BM25 search (all present in the fixture vocab)
_BM25_TERMS = ("spark", "hash", "merge", "window")
_BM25_TERMS_SQL = "('" + "', '".join(_BM25_TERMS) + "')"
# classic BM25 constants k1=1.5, b=0.75 appear below only through the exact
# binary64 literals 2.5 (=k1+1), 1.5, 0.75 and 0.25 (=1-b)


def _bm25_scored(stats_src: DataFrame, tf_src: DataFrame, keys: list[str]) -> DataFrame:
    """The one fixed-point BM25 scorer, at the retrieval-unit grain
    ``keys`` (document or chunk): ``stats_src`` is one ``dl`` (unit
    length) row per unit of the stats population, ``tf_src`` is
    (*keys, dl, tok) with one row per query-term occurrence (already
    IN-filtered to _BM25_TERMS). Returns (*keys, score_fp, n_terms_hit).

    The expression tree mirrors the oracles' parenthesization exactly:
    each intermediate is one IEEE op on deterministic operands, each
    per-term score is floored to a BIGINT micro-score, and the per-unit
    SUM is an order-independent integer sum. The idf is the
    Robertson-Spärck Jones ratio made LINEAR — (N-df+0.5)/(df+0.5)
    without the log — because libm last-ulp behavior is not a
    cross-engine contract and rational arithmetic is.

    Scale shape: tf is a map-side-combined aggregate over the term
    matches only and carries dl through the aggregate (dl is
    functionally dependent on the unit — MAX is exact and saves a
    second corpus join); df re-aggregates tf's narrow output; the
    1-row stats frame attaches as a broadcast (``attach``)."""
    stats = stats_src.agg(
        F.count(F.lit(1)).alias("n_units"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = tf_src.groupBy(*keys, "tok").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = (F.col("n_units") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    satur = (F.col("tf") * F.lit(2.5)) / (
        F.col("tf") + F.lit(1.5) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl") / F.col("avgdl")))
    )
    term_fp = F.floor(idf * satur * F.lit(1000000))
    return (
        attach(tf.join(df, "tok"), stats)
        .groupBy(*keys)
        .agg(
            F.sum(term_fp).alias("score_fp"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )


@query(
    "bm25_topk_search",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM sized
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok IN {_BM25_TERMS_SQL}
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), scored AS (
      SELECT doc_id,
             CAST(SUM(CAST(FLOOR(
               ((n_docs - df + 0.5) / (df + 0.5))
               * ((tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 * (dl / avgdl))))
               * 1000000) AS BIGINT)) AS BIGINT) AS score_fp,
             COUNT(*) AS n_terms_hit
      FROM tf JOIN df USING (tok) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, score_fp, n_terms_hit FROM scored
    ORDER BY score_fp DESC, doc_id LIMIT 10
    """,
    survey="§2.9 retrieval (BM25 ranked search over the corpus, fixed-point deterministic scoring)",
)
def bm25_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed query-term set — the lexical
    ranking half of a retrieval/dedup stack, scored by _bm25_scored at
    document grain over the whole corpus. Ties break on doc_id.

    Scale shape: tf explodes only matching tokens (the IN filter runs
    before the groupBy, so fanout is |matches|, not |tokens|); the
    global top-10 compiles to TakeOrderedAndProject — per-partition
    heads, no single-partition window, no full sort."""
    docs = table(spark, sf_dir, "documents")
    tf_src = docs.select(
        "doc_id", F.size(_tokens()).alias("dl"), F.explode(_tokens()).alias("tok")
    ).filter(F.col("tok").isin(*_BM25_TERMS))
    return (
        _bm25_scored(docs.select(F.size(_tokens()).alias("dl")), tf_src, ["doc_id"])
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(10)
    )


# --- hybrid retrieval fusion -----------------------------------------------
# RRF constants: the canonical k=60 damping (Cormack, Clarke & Buettcher,
# SIGIR 2009), 50-deep per-system candidate lists, and a 1e9 integer
# quantum so each rank's contribution floor(1e9/(60+rank)) is exact
# BIGINT arithmetic — rank fusion needs NO floats at all.
_RRF_K = 60
_RRF_DEPTH = 50
_RRF_PROBE_ID = 0  # dense arm's probe: the embedding registered at vec_id 0


# the two-arm fusion chain, a constant so rerank_fused_topk can embed
# it as a subquery; the rendered hybrid_rank_fusion oracle is
# md5-pinned in tests/test_llmops.py::test_hybrid_ctes_rendering_pinned.
# The Spark side is likewise shared via _hybrid_arm_frames/_rrf_fuse.
_HYBRID_CTES = f"""lexdocs AS (
      -- keyset non-NULL-key contract: the fusion JOINS the two arms on
      -- the document id, so a NULL id cannot participate in either arm
      -- (excluded symmetrically up front, the semantic_dedup precedent)
      SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL
    ), sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM lexdocs
    ), stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM sized
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   unnest(string_split(text, ' ')) AS tok
            FROM lexdocs)
      WHERE tok IN {_BM25_TERMS_SQL}
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), lex_scored AS (
      -- bm25_topk_search's scoring tree VERBATIM (pinned by
      -- tests/test_llmops.py::test_hybrid_fusion_lexical_arm_is_bm25)
      SELECT doc_id,
             CAST(SUM(CAST(FLOOR(
               ((n_docs - df + 0.5) / (df + 0.5))
               * ((tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 * (dl / avgdl))))
               * 1000000) AS BIGINT)) AS BIGINT) AS score_fp
      FROM tf JOIN df USING (tok) CROSS JOIN stats
      GROUP BY doc_id
    ), lex AS (
      SELECT doc_id, lex_rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS lex_rank
        FROM lex_scored)
      WHERE lex_rank <= {_RRF_DEPTH}
    ), emb_ok AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND NOT list_bool_or(list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) AND len(embedding) = 64
    ), probe AS (
      SELECT embedding AS qe FROM emb_ok WHERE vec_id = {_RRF_PROBE_ID}
    ), dense_scored AS (
      -- cand-grain MAX absorbs BOTH collision axes: a collided cand id
      -- scores as its best payload row, a collided probe id scores every
      -- cand against its best probe row — deterministic in both engines
      SELECT vec_id AS cand_id, MAX({_fixed_dot_sql('qe', 'embedding')}) AS dotq
      FROM emb_ok, probe GROUP BY vec_id
    ), dense AS (
      SELECT cand_id, dense_rank FROM (
        SELECT cand_id,
               ROW_NUMBER() OVER (ORDER BY dotq DESC, cand_id) AS dense_rank
        FROM dense_scored)
      WHERE dense_rank <= {_RRF_DEPTH}
    ), fused AS (
      SELECT COALESCE(l.doc_id, d.cand_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             CAST(COALESCE({10**9} // ({_RRF_K} + l.lex_rank), 0)
                + COALESCE({10**9} // ({_RRF_K} + d.dense_rank), 0) AS BIGINT) AS rrf_fp
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.cand_id
    )"""


def _hybrid_arm_frames(spark: SparkSession, sf_dir: str):
    """Build the two hybrid-retrieval arm frames shared by
    hybrid_rank_fusion and rerank_fused_topk (the Spark twin of the
    _HYBRID_CTES chain): ``lex_scored`` (doc_id, score_fp — the
    _bm25_scored micro-score over non-NULL doc_ids) and
    ``dense_scored`` (cand_id, dotq — the exact fixed-point inner
    product against the vec_id-0 probe). Both are corpus-grain narrow
    frames; consumers that need them more than once checkpoint them
    (the DSIR `weights` precedent) rather than re-running the corpus
    passes.

    STATS-POPULATION DEVIATION from bm25_topk_search: the lexical arm
    computes n_docs/avgdl over the NON-NULL-doc_id corpus only (the
    fusion's full-outer join is id-keyed, so NULL ids are excluded
    symmetrically up front — the keyset non-NULL-key contract), while
    bm25_topk_search computes its stats over ALL documents. The
    scoring TREE is shared; the stats POPULATION intentionally differs
    on corpora with NULL doc_ids, so arm score == bm25 score exactly
    iff the corpus has no NULL ids.
    tests/test_llmops.py::test_hybrid_lexical_arm_null_id_stats pins
    the intended divergence: the arm over a NULL-id corpus equals
    bm25_topk_search run on the NULL-stripped corpus."""
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint
    from crm_etl_pipeline_spark.queries.embeddings_q import _emb, _fixed_dot

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    # ONE tokenizing corpus pass: the stats aggregate and the tf
    # explode both need the tokenized text, and as separate subtrees
    # they would each re-scan and re-split the text column. Tokenize
    # once into a NARROW per-doc frame (dl + the IN-filtered token list
    # — a handful of tokens per doc, vs the full text payload) and
    # reliable-checkpoint it; both consumers read the checkpoint.
    # size(tokens) is dl either way, and filter-before-explode ==
    # explode-then-filter (explode drops empty/NULL arrays — exactly
    # the docs that contribute no tf rows).
    per_doc = reliable_checkpoint(
        docs.select(
            "doc_id",
            F.size(_tokens()).alias("dl"),
            F.filter(_tokens(), lambda t: t.isin(*_BM25_TERMS)).alias("ftoks"),
        )
    )
    lex_scored = _bm25_scored(
        per_doc.select("dl"),
        per_doc.select("doc_id", "dl", F.explode("ftoks").alias("tok")),
        ["doc_id"],
    ).select("doc_id", "score_fp")

    emb = _emb(spark, sf_dir).filter(F.col("vec_id").isNotNull())
    probe = emb.filter(F.col("vec_id") == _RRF_PROBE_ID).select(
        F.col("embedding").alias("qe")
    )
    dense_scored = (
        attach(
            emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce")),
            probe,
        )
        .groupBy("cand_id")
        .agg(F.max(_fixed_dot(F.col("qe"), F.col("ce"))).alias("dotq"))
    )
    return lex_scored, dense_scored


def _rrf_fuse(
    keys: list[str], lex: tuple[DataFrame, str, str], dense: tuple[DataFrame, str, str]
) -> DataFrame:
    """Reciprocal-rank fusion of two arms at the grain ``keys``
    (``["doc_id"]`` or ``["doc_id", "chunk_id"]``). Each arm is
    (frame, score column, rank column name) over a frame keyed by
    ``keys``. Each arm keeps its top-_RRF_DEPTH by (score DESC, *keys)
    via TakeOrderedAndProject, so the rank window runs over <= 50 rows
    (a single tiny task — never the corpus); the two ranked lists meet
    in a full-outer join on ``keys`` and score Σ floor(1e9/(60+rank))
    over the arms a unit appears in — pure BIGINT. Returns the
    pre-limit fused frame (*keys, lex rank, dense rank, rrf_fp)."""

    def ranked(frame: DataFrame, score: str, rank: str) -> DataFrame:
        w = Window.orderBy(F.col(score).desc(), *[F.col(k).asc() for k in keys])
        return (
            frame.orderBy(F.col(score).desc(), *keys)
            .limit(_RRF_DEPTH)
            .select(*keys, F.row_number().over(w).alias(rank))
        )

    lex_rank, dense_rank = lex[2], dense[2]
    lex_arm = ranked(*lex)
    dense_arm = ranked(*dense).select(
        *[F.col(k).alias("d_" + k) for k in keys], dense_rank
    )
    on = [lex_arm[k] == dense_arm["d_" + k] for k in keys]
    fused = lex_arm.join(dense_arm, on, "full_outer")
    part = lambda rank: F.coalesce(  # noqa: E731 — local fused-score term
        F.expr(f"{10**9}L div ({_RRF_K} + {rank})"), F.lit(0).cast("bigint")
    )
    return fused.select(
        *[F.coalesce(F.col(k), F.col("d_" + k)).alias(k) for k in keys],
        lex_rank,
        dense_rank,
        (part(lex_rank) + part(dense_rank)).cast("bigint").alias("rrf_fp"),
    )


def _hybrid_fuse(lex_scored: DataFrame, dense_scored: DataFrame) -> DataFrame:
    """_rrf_fuse of the two hybrid arm frames at document grain:
    (doc_id, lex_rank, dense_rank, rrf_fp)."""
    return _rrf_fuse(
        ["doc_id"],
        (lex_scored, "score_fp", "lex_rank"),
        (dense_scored.withColumnRenamed("cand_id", "doc_id"), "dotq", "dense_rank"),
    )


@query(
    "hybrid_rank_fusion",
    oracle=f"""
    WITH {_HYBRID_CTES}
    SELECT doc_id, lex_rank, dense_rank, rrf_fp FROM fused
    ORDER BY rrf_fp DESC, doc_id LIMIT 10
    """,
    survey="§2.9 retrieval (hybrid lexical+dense retrieval: BM25 arm ∪ "
    "inner-product arm fused by reciprocal-rank fusion, exact integer "
    "arithmetic end to end)",
)
def hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the standard two-tower serving stack (a lexical
    BM25 ranking and a dense embedding ranking fused by Reciprocal Rank
    Fusion, Cormack et al. SIGIR 2009; every production RAG pipeline
    ships this shape): rank the corpus twice, keep each arm's top-50,
    and score the union by Σ floor(1e9/(60+rank)) over the arms a
    document appears in. RRF is rank-only, so the fusion needs NO score
    normalization across incomparable scales — exactly why it is the
    default fuser in Elasticsearch/OpenSearch/Vespa.

    The lexical arm is bm25_topk_search's scorer (_bm25_scored: same
    fixed term set, same fixed-point micro-score; a cross-query test
    pins the two to each other) over non-NULL doc_ids — with ONE
    stated deviation: the corpus stats n_docs/avgdl are computed over
    the non-NULL-id population only, so arm score == bm25 score exactly
    iff the corpus has no NULL doc_ids; on a NULL-id corpus the arm
    equals bm25 run on the NULL-stripped corpus (pinned by
    test_hybrid_lexical_arm_null_id_stats).
    The dense arm ranks by the exact fixed-point INNER PRODUCT against
    the probe registered at vec_id 0 (MIPS retrieval — the trained-
    normalized-embedding serving convention; ann_cosine_topk already
    certifies the cosine form). Both ranks and the fused score are pure
    BIGINT arithmetic: floor-division by (60+rank) in both engines, so
    value hashes match bit-for-bit with zero float reductions.

    Identity contracts: NULL ids are excluded symmetrically up front
    (the fusion's full-outer join is id-keyed — the keyset non-NULL-key
    contract); a COLLIDED cand or probe vec_id resolves through the
    cand-grain MAX(dotq) (best payload row wins, engine-independent),
    and a collided doc_id scores through bm25's (doc_id, tok) tf grain
    — both arms stay window-free on identity. An absent probe (no
    vec_id 0 after the _emb corruption gate) yields an empty dense arm
    and the fusion degrades to lexical-only, per RRF's union semantics.

    Scale shape: the lexical arm is the BM25 plan (IN-filter
    before the explode, map-side-combined tf, 1-row broadcast stats);
    the dense arm is one broadcast probe row against a single linear
    scan (O(N·d), the ann_cosine_topk shape) collapsed to cand grain by
    a map-side-combinable MAX. Each arm's top-50 compiles to
    TakeOrderedAndProject (per-partition heads — no corpus-wide window,
    no single-partition sort); the rank-assignment windows then run
    over ≤50 rows, and the fusion joins two ≤50-row frames (_rrf_fuse).
    At 100 TB the arms scale as their parent queries; the fusion itself
    is constant-size."""
    lex_scored, dense_scored = _hybrid_arm_frames(spark, sf_dir)
    return (
        _hybrid_fuse(lex_scored, dense_scored)
        .orderBy(F.col("rrf_fp").desc(), "doc_id")
        .limit(10)
    )


# --- feature-fusion reranking over the fused candidates -------------------
# the serving-stack stage AFTER hybrid_rank_fusion: re-score the RRF
# top-10 with an exact feature combination — candidate-set min-max
# normalized arm scores on a 1e4 quantum (range * 1e4 must stay under
# 2^63: ample for the serving convention of unit-normalized embeddings,
# where |dotq| <= ~1e12 at the 1e12 dot quantum), weighted 6:4
# lexical:dense, gated by the certified quality bucket
# (keep x4 / review-or-unassessable x2 / drop x1)
_RERANK_Q = 10**4
_RERANK_W_LEX = 6
_RERANK_W_DENSE = 4


@query(
    "rerank_fused_topk",
    oracle=f"""
    WITH {_HYBRID_CTES},
    cands AS (
      SELECT doc_id, lex_rank, dense_rank, rrf_fp FROM fused
      ORDER BY rrf_fp DESC, doc_id LIMIT 10
    ), quality AS (
      SELECT doc_id, quality_bucket FROM ({_DOC_QUALITY_SQL}) q
    ), feat AS (
      -- a collided doc_id reaches here ONCE from each arm (lex_scored
      -- is doc-grain, dense_scored is cand-grain) but the quality join
      -- multiplies it once per payload row — symmetrically in both
      -- engines (see docstring identity contract)
      SELECT c.doc_id, c.lex_rank, c.dense_rank, c.rrf_fp,
             ls.score_fp AS lex_fp, ds.dotq AS dense_fp,
             CASE WHEN q.quality_bucket = 'keep' THEN 4
                  WHEN q.quality_bucket = 'drop' THEN 1
                  ELSE 2 END AS quality_mult
      FROM cands c
      LEFT JOIN lex_scored ls ON c.doc_id = ls.doc_id
      LEFT JOIN dense_scored ds ON c.doc_id = ds.cand_id
      LEFT JOIN quality q ON c.doc_id = q.doc_id
    ), ext AS (
      SELECT MAX(lex_fp) AS max_lex, MIN(lex_fp) AS min_lex,
             MAX(dense_fp) AS max_dense, MIN(dense_fp) AS min_dense
      FROM feat
    ), normed AS (
      SELECT doc_id, lex_rank, dense_rank, rrf_fp, quality_mult,
             CAST(CASE WHEN max_lex IS NULL THEN 0
                  WHEN max_lex > min_lex
                  THEN ((COALESCE(lex_fp, min_lex) - min_lex) * {_RERANK_Q}) // (max_lex - min_lex)
                  ELSE {_RERANK_Q} END AS BIGINT) AS lex_frac_fp,
             CAST(CASE WHEN max_dense IS NULL THEN 0
                  WHEN max_dense > min_dense
                  THEN ((COALESCE(dense_fp, min_dense) - min_dense) * {_RERANK_Q}) // (max_dense - min_dense)
                  ELSE {_RERANK_Q} END AS BIGINT) AS dense_frac_fp
      FROM feat CROSS JOIN ext
    ), reranked AS (
      SELECT doc_id, lex_rank, dense_rank, rrf_fp, quality_mult,
             lex_frac_fp, dense_frac_fp,
             CAST(quality_mult * ({_RERANK_W_LEX} * lex_frac_fp
                                + {_RERANK_W_DENSE} * dense_frac_fp) AS BIGINT) AS rerank_fp
      FROM normed
    )
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY rerank_fp DESC, doc_id) AS final_rank,
           rerank_fp, lex_frac_fp, dense_frac_fp,
           CAST(quality_mult AS BIGINT) AS quality_mult,
           lex_rank, dense_rank, rrf_fp
    FROM reranked
    ORDER BY final_rank
    """,
    survey="§2.9 retrieval (serving-stack reranking: exact feature-fusion "
    "rerank of the RRF candidate set — candidate-set-normalized BM25 and "
    "dense-dot features, quality-bucket gate, deterministic final order "
    "with full provenance)",
)
def rerank_fused_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate reranking — the stage every production serving stack
    runs AFTER first-phase retrieval (the cross-encoder slot: a
    cheap-recall candidate generator feeds an expensive-precision
    re-scorer over the tiny candidate set). The candidate set is
    hybrid_rank_fusion's fused top-10 VERBATIM (the _HYBRID_CTES chain
    embedded as a subquery; Spark composes the same
    _hybrid_arm_frames/_hybrid_fuse helpers); in place of a learned
    cross-encoder forward pass — no model weights are a cross-engine
    contract — the re-score is a deterministic exact feature
    combination of the three signals the stack already certifies:

      rerank_fp = quality_mult * (6 * lex_frac + 4 * dense_frac)

    where lex_frac/dense_frac are the candidate-set MIN-MAX normalized
    arm scores on a 1e4 fixed-point quantum (normalization makes the
    incomparable BM25-micro and dot-product scales commensurable —
    the classic learning-to-rank feature-scaling step, exact in
    BIGINT), and quality_mult gates by doc_quality_score's certified
    bucket (keep x4, drop x1, review-or-unassessable x2 — a
    dense-only candidate with no document row CANNOT be
    quality-assessed and stays neutral). A candidate absent from one
    arm COALESCEs to that feature's candidate-set minimum ("no
    evidence = weakest observed evidence" — scores can be negative, so
    0 is not a floor). All-absent features (max IS NULL) read 0; an
    all-tied feature (max == min) reads the full quantum in both
    engines. Numerators are non-negative by construction, so BIGINT
    `div`/`//` never sees a negative operand (the engines' rounding
    modes differ there).

    Identity contracts: candidates carry non-NULL ids (the fusion's
    keyset contract); a COLLIDED doc_id reaches the candidate set once
    (both arm frames are id-grain aggregates) but multiplies through
    the per-row quality LEFT join once per payload row — symmetrically
    in both engines, and the duplicated output rows are identical in
    every column except final_rank, whose assignment among identical
    rows is multiset-deterministic.

    Scale shape: the two arm corpus passes run EXACTLY ONCE each —
    lex_scored/dense_scored are reliable-checkpointed doc-grain narrow
    frames (the DSIR `weights` precedent) consumed twice (fusion +
    feature attach); the candidate id list (<= 10 rows) broadcasts
    into each feature join, so the attach is three BroadcastHashJoins
    that prune to candidate rows — no corpus shuffle after the arms.
    The quality pass is per-row column algebra pipelined in its scan.
    Normalization stats aggregate <= 10 rows; the final rank window
    runs over <= 10 rows. Past the arms, the whole stage is
    constant-size at any corpus scale."""
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    lex_scored, dense_scored = _hybrid_arm_frames(spark, sf_dir)
    lex_ck = reliable_checkpoint(lex_scored)
    dense_ck = reliable_checkpoint(dense_scored)
    cands = (
        _hybrid_fuse(lex_ck, dense_ck)
        .orderBy(F.col("rrf_fp").desc(), "doc_id")
        .limit(10)
    )
    ids = cands.select("doc_id")
    cand_lex = (
        lex_ck.join(ids, "doc_id")
        .withColumnRenamed("score_fp", "lex_fp")
    )
    cand_dense = (
        dense_ck.withColumnRenamed("cand_id", "doc_id")
        .join(ids, "doc_id")
        .withColumnRenamed("dotq", "dense_fp")
    )
    qual = (
        doc_quality_score(spark, sf_dir)
        .select("doc_id", "quality_bucket")
        .join(ids, "doc_id")
    )
    feat = (
        # each side is pruned to the <= 10 candidate ids
        cands.join(F.broadcast(cand_lex), "doc_id", "left")
        .join(F.broadcast(cand_dense), "doc_id", "left")
        .join(F.broadcast(qual), "doc_id", "left")
        .withColumn(
            "quality_mult",
            F.when(F.col("quality_bucket") == "keep", F.lit(4))
            .when(F.col("quality_bucket") == "drop", F.lit(1))
            .otherwise(F.lit(2)),
        )
        .drop("quality_bucket")
    )
    ext = feat.agg(
        # the count leads, so attach keys on it and it stays in the plan:
        # with only min/max here Catalyst prunes the quality left join
        # from this branch, a plan change to measure on its own
        F.count(F.lit(1)).alias("n_cands"),
        F.max("lex_fp").alias("max_lex"),
        F.min("lex_fp").alias("min_lex"),
        F.max("dense_fp").alias("max_dense"),
        F.min("dense_fp").alias("min_dense"),
    )
    normed = attach(feat, ext).select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        "rrf_fp",
        "quality_mult",
        F.when(F.col("max_lex").isNull(), F.lit(0).cast("bigint"))
        .when(
            F.col("max_lex") > F.col("min_lex"),
            F.expr(
                f"((coalesce(lex_fp, min_lex) - min_lex) * {_RERANK_Q})"
                " div (max_lex - min_lex)"
            ),
        )
        .otherwise(F.lit(_RERANK_Q).cast("bigint"))
        .cast("bigint")
        .alias("lex_frac_fp"),
        F.when(F.col("max_dense").isNull(), F.lit(0).cast("bigint"))
        .when(
            F.col("max_dense") > F.col("min_dense"),
            F.expr(
                f"((coalesce(dense_fp, min_dense) - min_dense) * {_RERANK_Q})"
                " div (max_dense - min_dense)"
            ),
        )
        .otherwise(F.lit(_RERANK_Q).cast("bigint"))
        .cast("bigint")
        .alias("dense_frac_fp"),
    )
    reranked = normed.withColumn(
        "rerank_fp",
        (
            F.col("quality_mult").cast("bigint")
            * (
                F.lit(_RERANK_W_LEX) * F.col("lex_frac_fp")
                + F.lit(_RERANK_W_DENSE) * F.col("dense_frac_fp")
            )
        ).cast("bigint"),
    )
    w = Window.orderBy(F.col("rerank_fp").desc(), F.col("doc_id").asc())
    return reranked.select(
        "doc_id",
        F.row_number().over(w).alias("final_rank"),
        "rerank_fp",
        "lex_frac_fp",
        "dense_frac_fp",
        F.col("quality_mult").cast("bigint").alias("quality_mult"),
        "lex_rank",
        "dense_rank",
        "rrf_fp",
    ).orderBy("final_rank")


# chunking window: 32-token chunks advancing 24 tokens (25% overlap)
CHUNK_W, CHUNK_S = 32, 24

# the chunker, a constant so chunk_bm25_retrieval can embed the SAME
# chunker as a subquery (the _COMPONENTS_CTES pattern); the rendered
# chunk_documents oracle is md5-pinned in tests/test_llmops.py
_CHUNKS_SQL = f"""
    WITH sized AS (
      SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t,
             len(string_split(COALESCE(text, ''), ' ')) AS n
      FROM documents
    ), counted AS (
      SELECT doc_id, t, n,
             1 + (CASE WHEN n > {CHUNK_W} THEN n - {CHUNK_W} ELSE 0 END
                  + {CHUNK_S - 1}) // {CHUNK_S} AS n_chunks
      FROM sized
    ), exploded AS (
      SELECT doc_id, t, n, unnest(range(0, n_chunks)) AS chunk_id FROM counted
    )
    SELECT doc_id, chunk_id,
           CASE WHEN n - (chunk_id * {CHUNK_S} + 1) + 1 < {CHUNK_W}
                THEN n - (chunk_id * {CHUNK_S} + 1) + 1 ELSE {CHUNK_W} END
             AS n_chunk_tokens,
           array_to_string(
             t[chunk_id * {CHUNK_S} + 1 : chunk_id * {CHUNK_S} + {CHUNK_W}],
             ' ') AS chunk_text
    FROM exploded
    """


@query(
    "chunk_documents",
    oracle=_CHUNKS_SQL,
    survey="§2.9 training prep (overlapping token-window chunking for context-length-bounded training)",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping CHUNK_W(=32)-token chunks
    on a CHUNK_S(=24)-token stride — the retrieval-index / context prep
    step that runs between cleaning and embedding. The chunk count is
    1 + ceil(max(0, n-W)/S) so the final chunk always reaches the last
    token (a floor there silently drops the document tail); integer
    `div` avoids the double-rounding drift floor(x/y) picks up on
    large counts.

    Scale shape: ZERO shuffles — sequence+explode is a narrow per-row
    fanout bounded by n/S, and slice/concat_ws are codegen'd array ops,
    so the whole operator pipelines inside the parquet scan stage.
    Chunk provenance (doc_id, chunk_id) is carried for the downstream
    dedup-then-train join-back. A NULL text reads as the empty document
    (COALESCE in both engines) — one empty chunk, the same shape an
    empty string produces, instead of Spark silently dropping the doc
    while the oracle emits a NULL-text chunk."""
    t = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    sized = table(spark, sf_dir, "documents").select(
        "doc_id", t.alias("t"), F.size(t).alias("n")
    )
    n_chunks = F.lit(1) + F.expr(
        f"(CASE WHEN n > {CHUNK_W} THEN n - {CHUNK_W} ELSE 0 END + {CHUNK_S - 1}) div {CHUNK_S}"
    )
    start = F.col("chunk_id") * CHUNK_S + 1
    return (
        sized.select(
            "doc_id",
            "t",
            "n",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.least(F.lit(CHUNK_W), F.col("n") - start + 1).alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice(F.col("t"), start, F.lit(CHUNK_W))).alias(
                "chunk_text"
            ),
        )
    )


def _chunk_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE chunker pass shared by chunk_hybrid_retrieval's scoring
    chains: run the certified chunker once and reliable-checkpoint a
    NARROW per-chunk feature frame — (doc_id, chunk_id, n_chunk_tokens,
    ftoks = the IN-filtered BM25 term list, bs = the feature-hash bucket
    id per token for the dense arm). The stats aggregate, the tf explode
    and the bucket-count build all read this checkpoint instead of each
    re-running the chunker subplan over the chunk_text payload. Unlike
    checkpointing the chunk_text-wide frame (~4/3 of the corpus
    re-written), ftoks/bs are a few ints/strings per chunk. NULL-id
    chunks are KEPT (the bm25 stats population includes them; consumers
    filter where their contract says so)."""
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint
    from crm_etl_pipeline_spark.queries.sketch_filters_q import _hash_long

    toks = F.split(F.col("chunk_text"), " ")
    return reliable_checkpoint(
        chunk_documents(spark, sf_dir).select(
            "doc_id",
            "chunk_id",
            "n_chunk_tokens",
            F.filter(toks, lambda t: t.isin(*_BM25_TERMS)).alias("ftoks"),
            F.transform(
                toks, lambda t: _hash_long(t, _CHUNK_HASH_SEED) % _CHUNK_HASH_D
            ).alias("bs"),
        )
    )


# the chunk-grain BM25 scoring chain, a constant so
# chunk_hybrid_retrieval can embed it as a subquery; the rendered
# chunk_bm25_retrieval oracle is md5-pinned in
# tests/test_llmops.py::test_chunk_bm25_ctes_rendering_pinned. The
# Spark side of both queries is _bm25_scored at (doc_id, chunk_id)
# grain.
_CHUNK_BM25_CTES = f"""chunks AS ({_CHUNKS_SQL}),
    stats AS (
      SELECT COUNT(*) AS n_chunks,
             CAST(SUM(n_chunk_tokens) AS DOUBLE) / COUNT(*) AS avgdl
      FROM chunks
    ), tf AS (
      SELECT doc_id, chunk_id, tok, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (SELECT doc_id, chunk_id, n_chunk_tokens AS dl,
                   unnest(string_split(chunk_text, ' ')) AS tok
            FROM chunks)
      WHERE tok IN {_BM25_TERMS_SQL}
      GROUP BY doc_id, chunk_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), scored AS (
      -- bm25_topk_search's scoring tree VERBATIM at CHUNK grain
      -- (n_docs -> n_chunks; pinned by tests/test_llmops.py::
      -- test_chunk_retrieval_scoring_matches_bm25_tree, which proves
      -- exact score equality on a corpus where chunk grain == doc grain)
      SELECT doc_id, chunk_id,
             CAST(SUM(CAST(FLOOR(
               ((n_chunks - df + 0.5) / (df + 0.5))
               * ((tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 * (dl / avgdl))))
               * 1000000) AS BIGINT)) AS BIGINT) AS score_fp,
             COUNT(*) AS n_terms_hit
      FROM tf JOIN df USING (tok) CROSS JOIN stats
      GROUP BY doc_id, chunk_id
    )"""


@query(
    "chunk_bm25_retrieval",
    oracle=f"""
    WITH {_CHUNK_BM25_CTES}
    SELECT doc_id, chunk_id, score_fp, n_terms_hit FROM scored
    ORDER BY score_fp DESC, doc_id ASC NULLS FIRST, chunk_id LIMIT 10
    """,
    survey="§2.9 retrieval (RAG passage retrieval: BM25 ranked search at "
    "CHUNK grain over the overlapping-window chunker — retrieval units "
    "are passages with (doc_id, chunk_id) provenance, the shape every "
    "RAG serving stack indexes)",
)
def chunk_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level BM25 retrieval — the RAG serving shape (every
    production retrieval stack indexes context-window-sized CHUNKS, not
    whole documents, so the retrieved unit fits the prompt budget and
    carries (doc_id, chunk_id) provenance for citation): run the
    overlapping-window chunker, then rank chunks with _bm25_scored at
    chunk grain (corpus stats become chunk stats: n_chunks, mean chunk
    length).

    COMPOSITION: the Spark side calls the registered chunk_documents
    plan as a subplan (the dedup_cluster_keep_best precedent) and the
    oracle embeds the identical chunker via _CHUNKS_SQL. Both stats and
    tf read that subplan directly — two pipelined passes, no
    materialization, which measured faster for this single consumer
    than paying an eager checkpoint (0.77 vs 1.05 s).

    Identity contracts: chunking is per-ROW symmetric (the chunker's
    contract), so a collided doc_id's chunks MERGE at the (doc_id,
    chunk_id, tok) tf grain — deterministically, in both engines; a
    NULL doc_id chunk group survives to the output, so the top-10 cut
    spells doc_id ASC NULLS FIRST in both engines (Spark's ASC
    default, made explicit).

    Scale shape: the chunker pipelines inside the scan (zero
    shuffles); the IN-filter runs before the tf groupBy so fanout is
    |term matches|, not |chunk tokens|; the global top-10 compiles to
    TakeOrderedAndProject — per-partition heads, no corpus sort. The
    overlap factor (W/S = 4/3) multiplies the scan constant, not the
    complexity class."""
    chunks = chunk_documents(spark, sf_dir)
    tf_src = chunks.select(
        "doc_id",
        "chunk_id",
        F.col("n_chunk_tokens").alias("dl"),
        F.explode(F.split(F.col("chunk_text"), " ")).alias("tok"),
    ).filter(F.col("tok").isin(*_BM25_TERMS))
    return (
        _bm25_scored(
            chunks.select(F.col("n_chunk_tokens").alias("dl")), tf_src, ["doc_id", "chunk_id"]
        )
        .orderBy(
            F.col("score_fp").desc(),
            F.col("doc_id").asc_nulls_first(),
            F.col("chunk_id").asc(),
        )
        .limit(10)
    )


# --- chunk-grain hybrid retrieval ------------------------------------------
# the dense arm's chunk representation is the FEATURE-HASHING embedding
# (Weinberger et al., ICML 2009 — the hashing trick): every token hashes
# to one of D=64 buckets via the cross-engine md5->52-bit idiom, a chunk
# is its bucket-count vector, and the score against the fixed probe text
# is the exact integer dot product MEAN-POOLED by the chunk's certified
# token count (dot(q, c/n) on a 1e6 quantum) — a real dense retrieval
# shape with zero floats and zero model weights, so it is a cross-engine
# contract. Production swaps the hashed space for trained embeddings;
# every plan shape (per-chunk vector build, broadcast probe, top-K arm,
# passage-grain RRF fusion) is identical.
_CHUNK_HASH_D = 64
_CHUNK_HASH_SEED = 7
_CHUNK_PROBE = "spark hash merge window join batch shuffle partition"
_CHUNK_DENSE_Q = 10**6


@query(
    "chunk_hybrid_retrieval",
    oracle=f"""
    WITH {_CHUNK_BM25_CTES},
    bm_arm AS (
      -- keyset non-NULL-key contract (the hybrid_rank_fusion
      -- precedent): the fusion joins the arms on (doc_id, chunk_id),
      -- so NULL-id chunks are excluded from BOTH arms up front — the
      -- arm's ranks therefore match chunk_bm25_retrieval's registered
      -- output exactly iff the corpus has no NULL doc_ids (pinned on
      -- the NULL-free fixture by test_chunk_hybrid_bm25_arm_pinned)
      SELECT doc_id, chunk_id, bm25_rank FROM (
        SELECT doc_id, chunk_id,
               ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id, chunk_id) AS bm25_rank
        FROM scored WHERE doc_id IS NOT NULL) r
      WHERE bm25_rank <= {_RRF_DEPTH}
    ), cvec AS (
      -- a collided doc_id's chunks MERGE at the (doc_id, chunk_id, b)
      -- grain (count-sum is order-free); MAX(n_chunk_tokens) is the
      -- deterministic normalizer under the merge
      SELECT doc_id, chunk_id, b, COUNT(*) AS c, MAX(n_chunk_tokens) AS n_toks
      FROM (
        SELECT doc_id, chunk_id, n_chunk_tokens,
               CAST('0x' || substr(md5('{_CHUNK_HASH_SEED}|' || CAST(tok AS VARCHAR)), 1, 13) AS BIGINT) % {_CHUNK_HASH_D} AS b
        FROM (SELECT doc_id, chunk_id, n_chunk_tokens,
                     unnest(string_split(chunk_text, ' ')) AS tok
              FROM chunks WHERE doc_id IS NOT NULL) t0) t1
      GROUP BY doc_id, chunk_id, b
    ), qvec AS (
      SELECT b, COUNT(*) AS qc FROM (
        SELECT CAST('0x' || substr(md5('{_CHUNK_HASH_SEED}|' || CAST(tok AS VARCHAR)), 1, 13) AS BIGINT) % {_CHUNK_HASH_D} AS b
        FROM unnest(string_split('{_CHUNK_PROBE}', ' ')) t(tok)) q0
      GROUP BY b
    ), dense_scored AS (
      SELECT doc_id, chunk_id,
             CAST(SUM(c * qc) * {_CHUNK_DENSE_Q} // MAX(n_toks) AS BIGINT) AS dscore_fp
      FROM cvec JOIN qvec USING (b)
      GROUP BY doc_id, chunk_id
    ), dense_arm AS (
      SELECT doc_id, chunk_id, dense_rank FROM (
        SELECT doc_id, chunk_id,
               ROW_NUMBER() OVER (ORDER BY dscore_fp DESC, doc_id, chunk_id) AS dense_rank
        FROM dense_scored) r
      WHERE dense_rank <= {_RRF_DEPTH}
    ), fusedc AS (
      SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
             COALESCE(b.chunk_id, d.chunk_id) AS chunk_id,
             b.bm25_rank, d.dense_rank,
             CAST(COALESCE({10**9} // ({_RRF_K} + b.bm25_rank), 0)
                + COALESCE({10**9} // ({_RRF_K} + d.dense_rank), 0) AS BIGINT) AS rrf_fp
      FROM bm_arm b FULL OUTER JOIN dense_arm d
        ON b.doc_id = d.doc_id AND b.chunk_id = d.chunk_id
    )
    SELECT doc_id, chunk_id, bm25_rank, dense_rank, rrf_fp FROM fusedc
    ORDER BY rrf_fp DESC, doc_id, chunk_id LIMIT 10
    """,
    survey="§2.9 retrieval (chunk-grain hybrid retrieval: the certified "
    "chunk-BM25 lexical arm fused by reciprocal-rank fusion with a "
    "hashed-feature dense arm — mean-pooled bag-of-hashed-tokens chunk "
    "vectors, exact integer dot against a fixed probe — at passage "
    "grain with (doc_id, chunk_id) provenance)",
)
def chunk_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval at PASSAGE grain — the full RAG serving shape
    (hybrid_rank_fusion fuses the two arms at document grain; real
    serving stacks retrieve chunks, so both arms rank the chunker's
    output): the lexical arm is chunk_bm25_retrieval's scoring chain
    (_CHUNK_BM25_CTES embedded; Spark composes _bm25_scored), the
    dense arm scores each chunk's FEATURE-HASHED vector (Weinberger et
    al., ICML 2009: tokens -> D=64 buckets via the cross-engine
    md5->52-bit idiom, chunk vector = bucket counts) against the fixed
    probe text by the exact integer dot product, MEAN-POOLED by the
    chunk's token count (dot * 1e6 // n_tokens — the length
    normalization that makes a chunk vector the mean of its token
    one-hots). _rrf_fuse fuses each arm's top-50 by the same
    Σ floor(1e9/(60+rank)) rule at (doc_id, chunk_id) grain — pure
    BIGINT end to end.

    Identity contracts: NULL-id chunks are excluded from BOTH arms up
    front (the fusion's full-outer join is (doc_id, chunk_id)-keyed —
    the hybrid keyset precedent; the arm's ranks match
    chunk_bm25_retrieval's registered output exactly on NULL-free
    corpora, pinned by test_chunk_hybrid_bm25_arm_pinned); a COLLIDED
    doc_id's chunks merge at the (doc_id, chunk_id, b) count grain
    with MAX(n_chunk_tokens) as the deterministic normalizer — the
    chunk-BM25 tf-grain rule's dense twin. Integer division never sees
    a negative operand (counts and token counts are non-negative), so
    the engines' div-rounding modes cannot split.

    Scale shape: the chunker runs ONCE — both arms read the
    checkpointed narrow _chunk_feats frame (ftoks for the BM25 stats
    and tf, bs for the dense bucket build) instead of re-running the
    chunker subplan three times; the dense arm is one
    map-side-combinable groupBy to (doc_id, chunk_id, b) grain
    (fanout <= 32 tokens x 1 bucket each), a <= 64-row broadcast probe
    join, and one more combinable groupBy back to chunk grain; both
    arms' top-50 compile to TakeOrderedAndProject (per-partition
    heads), the rank windows run over <= 50 rows, and the fusion joins
    two <= 50-row frames. At 100 TB the arms scale as two linear
    passes; the fusion is constant-size."""
    from crm_etl_pipeline_spark.queries.sketch_filters_q import _hash_long

    feats = _chunk_feats(spark, sf_dir)
    bm = _bm25_scored(
        feats.select(F.col("n_chunk_tokens").alias("dl")),
        feats.select(
            "doc_id", "chunk_id", F.col("n_chunk_tokens").alias("dl"), F.explode("ftoks").alias("tok")
        ),
        ["doc_id", "chunk_id"],
    ).filter(F.col("doc_id").isNotNull())

    cvec = (
        feats.filter(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            "chunk_id",
            "n_chunk_tokens",
            F.explode("bs").alias("b"),
        )
        .groupBy("doc_id", "chunk_id", "b")
        .agg(F.count(F.lit(1)).alias("c"), F.max("n_chunk_tokens").alias("n_toks"))
    )
    qvec = (
        spark.range(1)
        .select(F.explode(F.split(F.lit(_CHUNK_PROBE), " ")).alias("tok"))
        .select((_hash_long(F.col("tok"), _CHUNK_HASH_SEED) % _CHUNK_HASH_D).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("qc"))
    )
    dense_scored = (
        cvec.join(qvec, "b")
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.expr(
                f"CAST(sum(c * qc) * {_CHUNK_DENSE_Q} div max(n_toks) AS BIGINT)"
            ).alias("dscore_fp")
        )
    )
    return (
        _rrf_fuse(
            ["doc_id", "chunk_id"],
            (bm, "score_fp", "bm25_rank"),
            (dense_scored, "dscore_fp", "dense_rank"),
        )
        .orderBy(F.col("rrf_fp").desc(), "doc_id", "chunk_id")
        .limit(10)
    )


# posting-list head cap: hot terms (stopwords) keep their exact df but only
# the first POSTING_CAP doc ids materialize as an array — bounded rows at
# any corpus size, same discipline as lsh.MEMBER_CAP
POSTING_CAP = 32


@query(
    "inverted_index_postings",
    oracle=f"""
    WITH postings AS (
      SELECT tok, doc_id
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok, doc_id
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM postings GROUP BY tok
    ), capped AS (
      SELECT tok, doc_id FROM (
        SELECT tok, doc_id,
               ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rk
        FROM postings) WHERE rk <= {POSTING_CAP}
    ), heads AS (
      SELECT tok,
             array_to_string(list(doc_id ORDER BY doc_id), ',') AS posting_head
      FROM capped GROUP BY tok
    )
    SELECT tok, df, posting_head FROM df JOIN heads USING (tok)
    """,
    survey="§2.9 retrieval (inverted index build: exact df + rank-capped posting-list heads)",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the term→documents inverted index: exact document
    frequency per term plus the first POSTING_CAP(=32) posting doc_ids
    as a CSV head. The cap is applied by a per-term rank BEFORE any
    collect_list, so a stopword appearing in every document of a 100 TB
    corpus costs a WindowGroupLimit prune (each partition keeps ≤ 32
    rows pre-shuffle), never an unbounded array row — the
    same bounded-membership discipline as lsh.MEMBER_CAP. df stays
    exact via a separate map-side-combinable count on the full posting
    fact. Both aggregates hash on `tok`, so Catalyst reuses one
    Exchange for the window and the final groupBy."""
    postings = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .select("tok", "doc_id")
    )
    dfc = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("tok").orderBy("doc_id")
    heads = (
        postings.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= POSTING_CAP)
        .groupBy("tok")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("posting_head")
        )
    )
    return dfc.join(heads, "tok")


# ---------------------------------------------------------------------------
# prefix-filter set-similarity join (AllPairs / PPJoin candidate generation,
# Vernica et al. SIGMOD'10 MapReduce formulation) over 5-token shingle sets

_SETSIM_NUM = 6  # Jaccard threshold as the exact fraction 6/10
_SETSIM_DEN = 10


@query(
    "prefix_filter_setsim_join",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS tt FROM corpus
    ), sh AS (
      SELECT doc_id, list_distinct({_shingles_sql('tt')}) AS t
      FROM toks WHERE len(tt) >= 5
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM (SELECT doc_id, unnest(t) AS tok FROM sh) a
      JOIN (SELECT doc_id, unnest(t) AS tok FROM sh) b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT doc_a, doc_b,
             len(list_filter(ta.t, x -> list_contains(tb.t, x))) AS n_shared,
             len(ta.t) AS n_a, len(tb.t) AS n_b
      FROM pairs
      JOIN sh ta ON ta.doc_id = doc_a
      JOIN sh tb ON tb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) AS jaccard
    FROM verified
    WHERE n_shared * {_SETSIM_DEN} >= (n_a + n_b - n_shared) * {_SETSIM_NUM}
    """,
    survey="§2.9 near-dedup (prefix-filter set-similarity join over shingle sets: rare-prefix candidates, exact Jaccard verify)",
)
def prefix_filter_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 5-token-shingle-set Jaccard >= 0.6,
    found by PREFIX FILTERING (AllPairs/PPJoin, the Vernica et al.
    SIGMOD'10 MapReduce formulation) — the third candidate-generation
    family in the dedup suite, alongside MinHash banding
    (probabilistic recall) and given-pair shingle verification
    (ngram_jaccard_verify). Shingles are globally ordered rarest-first
    by document frequency; each doc indexes only its first
    n - ceil(0.6 n) + 1 shingles (pigeonhole: a qualifying pair shares
    >= ceil(0.6 n) shingles, which cannot all hide in a suffix shorter
    than that), candidates must also pass the integer length filter
    0.6 <= n_a/n_b <= 1/0.6, and survivors get one exact
    array_intersect verify. Membership decisions are pure-integer
    (n_shared*10 >= union*6) in both engines — no float threshold.

    The ORACLE is deliberately NOT the same algorithm: it generates
    candidates from ANY shared shingle (exact, since J > 0 implies a
    shared element) and verifies all of them — ground truth
    independent of the prefix machinery, so the hash match proves the
    prefix filter's COMPLETENESS on this corpus, not just its
    self-consistency. Shingle sets (not word sets) are the right
    universe on purpose: word sets over a small vocabulary collapse
    (measured here: 94k word-set pairs >= 0.6 vs 106 shingle-set
    pairs, the same 106 the MinHash family resolves), while shingles
    keep df skew low — and what df skew remains is exactly what the
    rare-first prefix kills, since a frequent shingle is almost never
    inside anyone's prefix.

    Scale shape: one df aggregate (shingle-grain), one per-doc sort of
    its own prefix candidates (array algebra, no extra shuffle), one
    equi-join on prefix shingles with AQE skew handling, pair-grain
    distinct, and a candidates-only verify join — never an all-pairs
    product."""
    toks = _tokens()
    sh = (
        _near_corpus(spark, sf_dir)
        .filter(F.size(toks) >= 5)
        .select("doc_id", F.array_distinct(_shingles(toks)).alias("t"))
    )
    # the shingle table feeds THREE subtrees (df aggregate, prefix
    # explode, verify join); without a lineage cut Spark re-tokenizes
    # and re-shingles the corpus once per consumer inside the single
    # action. Materialize it once (measured 26% off the sf0.1 wall;
    # at 100 TB this is the standard shared-subtree checkpoint, same
    # policy switch as dedup_components' iteration state)
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    sh = reliable_checkpoint(sh)
    df_tab = (
        sh.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    exploded = sh.select(
        "doc_id", F.size("t").alias("n"), F.explode("t").alias("tok")
    ).join(df_tab, "tok")
    ordered = exploded.groupBy("doc_id", "n").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("df", "tok"))), lambda s: s["tok"]
        ).alias("st")
    )
    # prefix length n - ceil(6n/10) + 1, integer ceil = (6n + 9) DIV 10
    plen = (
        F.col("n")
        - ((F.lit(_SETSIM_NUM) * F.col("n") + F.lit(_SETSIM_DEN - 1)) / F.lit(_SETSIM_DEN)).cast("bigint")
        + 1
    )
    prefixes = ordered.select(
        "doc_id", "n", F.explode(F.slice("st", 1, plen.cast("int"))).alias("tok")
    )
    # Checkpoint the prefix table too (round 16): both sides of the
    # candidate self-join rebuild the SAME explode→df-join→sort-prefix
    # pipeline in the initial plan (a genuine 2× subtree — runtime
    # ReuseExchange papered over most of it, which is why the round-15
    # A/B read "within noise"). Re-measured per the round-15 verdict:
    # two sessions × 3 interleaved blocks on a quiet host, variant won
    # 3 / tied 2 / lost 1, bests 3.30→3.11 and 3.06→2.91 s — small but
    # repeatable, and the materialized frame is prefix-grain narrow
    # (doc_id, n, tok), so the scale posture matches the sh checkpoint.
    prefixes = reliable_checkpoint(prefixes)
    a = prefixes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "tok")
    b = prefixes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (F.col("n_a") * _SETSIM_DEN >= F.col("n_b") * _SETSIM_NUM)
            & (F.col("n_b") * _SETSIM_DEN >= F.col("n_a") * _SETSIM_NUM)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = sh.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    tb = sh.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))
    inter = F.size(F.array_intersect("t_a", "t_b"))
    union = F.size("t_a") + F.size("t_b") - inter
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("n_shared", inter)
        .withColumn("u", union)
        .filter(F.col("n_shared") * _SETSIM_DEN >= F.col("u") * _SETSIM_NUM)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("u")).alias("jaccard"),
        )
    )


# deterministic boilerplate fabrication for line-level dedup: ~31% of
# docs (first md5 hex < '5') get one of three canned lines prepended,
# chosen by the second hex digit — the same fabricate-then-operate
# idiom as the minhash near-dup clones and the multimodal codecs
_BOILER = (
    "subscribe to our newsletter for weekly updates",
    "cookies are required to use this site",
    "copyright all rights reserved contact us",
)


@query(
    "boilerplate_line_removal",
    oracle=f"""
    WITH fab AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '5'
                  THEN (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) < '6'
                             THEN '{_BOILER[0]}'
                             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) < 'b'
                             THEN '{_BOILER[1]}'
                             ELSE '{_BOILER[2]}' END) || chr(10) || COALESCE(text, '')
                  ELSE COALESCE(text, '') END AS text
      -- one row per doc_id: a byte-identical re-ingested row must not
      -- double every line of the reassembly (round-8 dup_docs
      -- contract), and a COLLIDED id must not merge two documents'
      -- lines (round-10 identity-collision contract — winner rule,
      -- symmetric with the Spark side's _one_per_doc)
      FROM ({_DOCS_ONE_SQL})
    ), lines AS (
      SELECT doc_id, o AS pos, arr[o] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS arr FROM fab) t,
           LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS o) s
    ), freq AS (
      SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM lines GROUP BY line
    ), tot AS (
      SELECT COUNT(*) AS n_total
      FROM ({_DOCS_ONE_SQL})
    ), boiler AS (
      SELECT line FROM freq, tot WHERE n_docs > 0.05 * n_total
    ), kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM lines l WHERE l.line NOT IN (SELECT line FROM boiler)
    )
    SELECT f.doc_id,
           -- null-safe (round-13 null_doc_ids find): plain equality
           -- scored the NULL-id doc zero lines while its rows exist
           (SELECT COUNT(*) FROM lines l2
            WHERE l2.doc_id IS NOT DISTINCT FROM f.doc_id)
             AS n_lines_before,
           COUNT(k.line) AS n_lines_after,
           COALESCE(string_agg(k.line, chr(10) ORDER BY k.pos), '')
             AS clean_text
    FROM fab f LEFT JOIN kept k ON k.doc_id IS NOT DISTINCT FROM f.doc_id
    GROUP BY f.doc_id
    """,
    survey="§2.9 curation (CCNet-style line-level boilerplate removal with corpus-frequency gate)",
)
def boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (the CCNet / RefinedWeb pass this
    corpus lacks structure for until fabricated): a deterministic ~31%
    of documents get one of three canned lines prepended, then any line
    occurring in more than 5% of documents is dropped corpus-wide and
    each document is reassembled in original line order. Output per
    document: line counts before/after and the cleaned text — so the
    oracle checks the reconstruction byte-for-byte, not just counts.

    Scale shape: one explode to line grain (lines-per-doc bounded),
    one line-key groupBy whose partial aggregation collapses the heavy
    boilerplate keys map-side (the classic skew case: three keys carry
    30% of rows — AQE skew-join handles the anti-join's build side, and
    the frequency table itself is tiny), the corpus size attaches as a
    broadcast scalar, and reassembly is one doc-key
    aggregate with an in-group sort bounded by lines-per-doc. No
    all-pairs anything: frequency gating IS the scalable form of
    boilerplate detection (RefinedWeb §3.2 runs exactly this at
    trillion-token scale)."""
    # identity winner (round-8 dup_docs + round-10 collision contract):
    # a duplicated ingest row would double every line of the
    # reassembled document, and a collided id would merge two
    # documents' lines; the doc_id shuffle is tiny next to the
    # line-grain explode
    docs = _one_per_doc(
        table(spark, sf_dir, "documents").select("doc_id", "text"), ("text",)
    )
    hex1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    hex2 = F.substring(F.md5(F.col("doc_id").cast("string")), 2, 1)
    boiler = (
        F.when(hex2 < "6", F.lit(_BOILER[0]))
        .when(hex2 < "b", F.lit(_BOILER[1]))
        .otherwise(F.lit(_BOILER[2]))
    )
    # NULL text reads as the empty document (symmetric COALESCE in the
    # oracle): unguarded, Spark's concat/posexplode silently dropped
    # NULL-text docs while the oracle kept them at zero lines
    txt = F.coalesce(F.col("text"), F.lit(""))
    fab = docs.select(
        "doc_id",
        F.when(hex1 < "5", F.concat(boiler, F.lit("\n"), txt))
        .otherwise(txt)
        .alias("text"),
    )
    lines = fab.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos0", "line"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "line")
    freq = lines.groupBy("line").agg(F.countDistinct("doc_id").alias("n_docs"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    boiler_lines = (
        attach(freq, tot)
        .filter(F.col("n_docs") > 0.05 * F.col("n_total"))
        .select("line")
    )
    # lines in > 5% of docs: at most 20x the mean lines per doc
    kept = lines.join(F.broadcast(boiler_lines), "line", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    before = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines_before"))
    # null-safe doc-key assembly (round-13 null_doc_ids find): the
    # NULL-id winner row vanished from the plain inner equi-join while
    # the oracle's GROUP BY kept it — eqNullSafe keeps the NULL
    # identity with its true counts, mirrored by IS NOT DISTINCT FROM
    # in the oracle
    base = fab.select("doc_id")
    before_r = before.withColumnRenamed("doc_id", "_b_id")
    reasm_r = reassembled.withColumnRenamed("doc_id", "_r_id")
    joined = (
        base.join(before_r, F.col("doc_id").eqNullSafe(F.col("_b_id")), "inner")
        .drop("_b_id")
        .join(reasm_r, F.col("doc_id").eqNullSafe(F.col("_r_id")), "left")
        .drop("_r_id")
    )
    return joined.select(
        "doc_id",
        "n_lines_before",
        F.coalesce(F.col("n_lines_after"), F.lit(0)).alias("n_lines_after"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


_TEMP_BUDGET = 1200  # target corpus size after the language re-mix


@query(
    "language_temperature_sample",
    oracle=f"""
    WITH lang_counts AS (
      -- sqrt is IEEE-exact per value, but a DOUBLE sum of sqrts is
      -- summation-order-dependent at the last ulp (found by the
      -- null_langs sweep probe): quantize each sqrt to fixed point and
      -- sum exactly in BIGINT, then divide once
      SELECT lang, COUNT(*) AS n_docs,
             CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1e12) AS BIGINT) AS sq_q
      FROM documents WHERE lang IS NOT NULL
      GROUP BY lang
    ), tot AS (
      SELECT SUM(sq_q) AS z_q FROM lang_counts
    ), alloc AS (
      SELECT lang, n_docs,
             CAST(sq_q AS DOUBLE) / CAST(z_q AS DOUBLE) AS weight,
             CAST(CEIL({_TEMP_BUDGET}.0
                       * (CAST(sq_q AS DOUBLE) / CAST(z_q AS DOUBLE)))
                  AS BIGINT) AS n_target
      FROM lang_counts, tot
    ), ranked AS (
      SELECT d.doc_id, d.lang, a.n_docs, a.weight, a.n_target,
             -- NULLS FIRST spelled (round-13 null_doc_ids find): a NULL
             -- doc_id ranks first in Spark's ASC default and last in
             -- DuckDB's, shifting every samp_rank in its language
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)) NULLS FIRST,
                                         d.doc_id NULLS FIRST)
               AS samp_rank
      FROM documents d JOIN alloc a ON d.lang = a.lang
    )
    SELECT doc_id, lang, samp_rank, n_docs, weight, n_target
    FROM ranked WHERE samp_rank <= n_target
    """,
    survey="§2.9 training prep (temperature-based language re-mix: p^alpha quota sampling)",
)
def language_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilingual re-mix every LLM training pipeline runs:
    resample the corpus so language l's share follows
    n_l^alpha / sum_m n_m^alpha with temperature alpha = 0.5 (sqrt
    flattening — high-resource languages are down-weighted, tail
    languages over-represented relative to raw frequency). Per-language
    quotas are ceil(K * weight) over a fixed budget K; each language
    draws its quota by the deterministic md5 hash-rank idiom
    (``weighted_sample_allocation``'s shape with a sub-linear weight
    function). A tail language whose quota exceeds its corpus simply
    contributes everything it has (rank can't exceed the group size) —
    the upsampling factor to REACH the quota is n_target / n_docs,
    readable from the output.

    Determinism: sqrt is IEEE correctly-rounded on exact integer
    counts in both engines (the stats_q moment argument); each sqrt is
    quantized to fixed point and summed exactly in BIGINT (a raw
    DOUBLE sum of sqrts is summation-order-dependent at the last ulp —
    the null_langs sweep probe caught exactly that), the share division
    is one double op on exact integers, and selection is md5-ranked —
    the whole readout is bit-deterministic cross-engine.

    Scale shape: one count aggregate (|langs| rows), a broadcast quota
    join, and one per-language ranking window — the window partitions
    by language, the same bounded-stratum shape as stratified
    sampling; at 100 TB replace the in-language full sort with the
    two-phase bucket rank (global_rank_two_phase) if any single
    language dominates a partition's memory."""
    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        # fixed-point-quantized sqrt: the per-lang sqrt is IEEE-exact,
        # but a DOUBLE sum of them is summation-order-dependent at the
        # last ulp — quantize, sum exactly in BIGINT, divide once (the
        # registry's standard exact-reduction discipline; found by the
        # null_langs sweep probe)
        .withColumn(
            "sq_q",
            F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1e12)).cast("bigint"),
        )
    )
    tot = counts.agg(F.sum("sq_q").alias("z_q"))
    weight = F.col("sq_q").cast("double") / F.col("z_q").cast("double")
    alloc = (
        attach(counts, tot)
        .select(
            "lang",
            "n_docs",
            weight.alias("weight"),
            F.ceil(F.lit(float(_TEMP_BUDGET)) * weight).alias("n_target"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        # NULLS FIRST spelled on both sides, so a NULL doc_id ranks alike in both engines
        F.md5(F.col("doc_id").cast("string")).asc_nulls_first(),
        F.col("doc_id").asc_nulls_first(),
    )
    return (
        # one allocation row per language
        docs.join(F.broadcast(alloc), "lang")
        .withColumn("samp_rank", F.row_number().over(w))
        .filter(F.col("samp_rank") <= F.col("n_target"))
        .select("doc_id", "lang", "samp_rank", "n_docs", "weight", "n_target")
    )


# --- BPE merge training (round 12) ---------------------------------
# Fixed number of unrolled merge iterations, like embedding_kmeans's
# fixed 2-Lloyd-iteration budget: a data-dependent stopping rule would
# not be hash-oracle-able, a fixed budget is.
_BPE_MERGES = 3


def _bpe_iteration_sql(k: int) -> str:
    """One unrolled BPE merge iteration as DuckDB CTE text. The greedy
    non-overlap merge is gaps-and-islands: consecutive candidate
    positions form a run (pos - ROW_NUMBER is constant inside it), and
    merges land on the run's odd offsets — 'aaaa' under merge (a,a)
    becomes 'aa','aa', exactly the classic left-to-right scan."""
    p = k - 1
    return f"""
    pairs{k} AS (
      SELECT a, b, SUM(f) AS cnt FROM (
        SELECT word, f, sym AS a,
               LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS b
        FROM tok{p}
      ) WHERE b IS NOT NULL GROUP BY a, b
    ),
    best{k} AS (
      SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM pairs{k}
      ORDER BY cnt DESC, a, b LIMIT 1
    ),
    cand{k} AS (
      SELECT word, pos, is_cand FROM (
        SELECT t.word, t.pos,
               (t.sym = best.a
                AND LEAD(t.sym) OVER (PARTITION BY t.word ORDER BY t.pos) = best.b) AS is_cand
        FROM tok{p} t CROSS JOIN best{k} best
      ) WHERE is_cand
    ),
    merge{k} AS (
      SELECT word, pos FROM (
        SELECT word, pos,
               ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
        FROM (
          SELECT word, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
          FROM cand{k}
        )
      ) WHERE rn % 2 = 1
    ),
    tok{k} AS (
      SELECT word, f, ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
      FROM (
        SELECT word, f, pos,
               CASE WHEN is_merge
                    THEN sym || LEAD(sym) OVER (PARTITION BY word ORDER BY pos)
                    ELSE sym END AS sym,
               COALESCE(LAG(is_merge) OVER (PARTITION BY word ORDER BY pos), FALSE) AS consumed
        FROM (
          SELECT t.word, t.f, t.pos, t.sym, (mg.pos IS NOT NULL) AS is_merge
          FROM tok{p} t LEFT JOIN merge{k} mg
            ON t.word = mg.word AND t.pos = mg.pos
        )
      ) WHERE NOT consumed
    )"""


# The dependent oracle fragments (_BPE_ORACLE, _BPE_WENC_SQL,
# _BPE_VOCAB_ORACLE, _PACK_BPE_ORACLE) read tok3/best3 BY NAME;
# bumping _BPE_MERGES without regenerating the whole fragment family
# would silently desync those oracles (still reading tok3) from the
# Spark side's deeper merge chain (round-13 ADVICE). Fail at import
# instead.
assert _BPE_MERGES == 3, (
    "_BPE_MERGES changed: regenerate _BPE_TRAIN_CTES's unrolled "
    "_bpe_iteration_sql(k) calls AND every tok3/best3 reference in "
    "_BPE_ORACLE/_BPE_WENC_SQL/_BPE_VOCAB_ORACLE/_PACK_BPE_ORACLE"
)

# The full training chain as a reusable CTE fragment: word-frequency
# corpus pass + char split + _BPE_MERGES unrolled merge iterations.
# tok3 (== tok{_BPE_MERGES}) is the final per-word symbol sequence —
# i.e. the ENCODING of every distinct corpus word under the learned
# merges — shared by the trainer's output query, bpe_encode and
# pack_bpe_sequences.
_BPE_TRAIN_CTES = rf"""words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS f FROM (
        -- the module's shared explicit whitespace class (_WS_CLASS):
        -- Java's \s has \x0B, RE2's does not (whitespace_storm sweep
        -- class) — spell the class or the two engines tokenize
        -- differently
        SELECT unnest(string_split_regex(text, '[{_WS_CLASS}]+')) AS w
        FROM documents WHERE text IS NOT NULL
      ) WHERE regexp_matches(w, '{_TOKEN_GATE_RE}') AND length(w) >= 2
      GROUP BY w
    ),
    tok0 AS (
      SELECT word, f, CAST(i AS BIGINT) AS pos, substr(word, CAST(i AS INT), 1) AS sym
      FROM words, unnest(range(1, length(word) + 1)) t(i)
    ),
    {_bpe_iteration_sql(1)},
    {_bpe_iteration_sql(2)},
    {_bpe_iteration_sql(3)}"""


_BPE_ORACLE = rf"""
    WITH {_BPE_TRAIN_CTES}
    SELECT CAST(iter AS INT) AS iter, merge_a, merge_b, pair_count, n_syms FROM (
      SELECT 1 AS iter, a AS merge_a, b AS merge_b, cnt AS pair_count,
             (SELECT COUNT(DISTINCT sym) FROM tok1) AS n_syms FROM best1
      UNION ALL
      SELECT 2, a, b, cnt, (SELECT COUNT(DISTINCT sym) FROM tok2) FROM best2
      UNION ALL
      SELECT 3, a, b, cnt, (SELECT COUNT(DISTINCT sym) FROM tok3) FROM best3
    )
"""


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer family's ONE corpus pass: explode + gate +
    map-side-combined groupBy(word) -> (word, f). Spark twin of the
    ``words`` CTE in _BPE_TRAIN_CTES."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            F.explode(
                # same shared class as the oracle (see its comment)
                F.split(F.col("text"), "[" + _WS_CLASS + "]+")
            ).alias("w")
        )
        .filter(F.col("w").rlike(_TOKEN_GATE_RE) & (F.length("w") >= 2))
        .groupBy(F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("f"))
    )


def _bpe_train(words: DataFrame) -> tuple[DataFrame, list[DataFrame]]:
    """Run _BPE_MERGES unrolled merge iterations at vocab grain (Spark
    twin of the tok0/tok1..tok3 CTE chain in _BPE_TRAIN_CTES; see the
    bpe_merge_training docstring for the semantics and scale argument).

    Returns ``(tok_arr, outs)``: ``tok_arr`` is the final symbol table
    at WORD grain — (word, f, syms array<string>), every distinct
    word's ENCODED subword sequence under the learned merges — and
    ``outs`` holds one 1-row frame per iteration (iter, merge_a,
    merge_b, pair_count, n_syms), each already carrying its vocab-size
    attach.

    Symbols live as one ARRAY per word, and the greedy left-to-right
    non-overlap merge is a per-row ``aggregate`` fold:

      acc ← acc[:-1] ++ [a||b]   if last(acc) = a AND cur = b
      acc ← acc ++ [cur]         otherwise

    This fold is the oracle's gaps-and-islands rule: a merged cell can
    never be the left side of another merge in the same iteration
    because len(a||b) > len(a), so a run of equal candidates merges at
    odd offsets, as the oracle's ROW_NUMBER() % 2 = 1 does. Per
    iteration the only shuffle is the pair-count groupBy (map-side
    combinable); the merge itself is a broadcast attach of the 1-row
    winner plus a projection, so only tok0 and the 1-row winners are
    checkpointed and the vocab table is never sorted (measured 4.6 s ->
    2.2 s at sf0.1 against a (word, pos)-grain window form). Word length
    is gated ≤ 16, so the fold's O(len²) array copies are
    constant-bounded per row."""
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    tok = reliable_checkpoint(
        words.select(
            "word",
            "f",
            F.expr(
                "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
            ).alias("syms"),
        )
    )
    outs: list[DataFrame] = []
    for k in range(1, _BPE_MERGES + 1):
        pairs = (
            tok.select(
                "f",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms)-1),"
                        " (s, i) -> struct(s AS a, syms[i+1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("f").alias("cnt"))
        )
        best = reliable_checkpoint(
            pairs.orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .select("a", "b", F.col("cnt").cast("bigint").alias("cnt"))
        )
        # LEFT attach: on a degenerate corpus where an iteration finds
        # ZERO pairs (every word already one symbol), an inner join
        # would EMPTY the symbol table, while the oracle's tok{k} CTE
        # LEFT JOINs merge{k} and keeps it. With a/b NULL the fold's
        # CASE predicate is NULL -> ELSE branch -> every symbol appended
        # unchanged: the exact no-op merge the oracle encodes.
        # Unreachable on the fixtures (words gated length>=2, diverse
        # pairs) — pinned by test_bpe_train_empty_merge_noop.
        tok = attach(tok, best, "left").select(
            "word",
            "f",
            F.expr(
                "aggregate(syms, cast(array() as array<string>), (acc, s) -> "
                "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = a AND s = b "
                "THEN concat(slice(acc, 1, size(acc)-1), array(concat(a, b))) "
                "ELSE concat(acc, array(s)) END)"
            ).alias("syms"),
        )
        n_syms = tok.select(F.explode("syms").alias("sym")).agg(
            F.countDistinct("sym").alias("n_syms")
        )
        outs.append(
            attach(best, n_syms).select(
                F.lit(k).cast("int").alias("iter"),
                F.col("a").alias("merge_a"),
                F.col("b").alias("merge_b"),
                F.col("cnt").alias("pair_count"),
                "n_syms",
            )
        )
    return tok, outs


@query(
    "bpe_merge_training",
    oracle=_BPE_ORACLE,
    survey="§2.9 training prep (BPE vocabulary training: corpus word-frequency "
    "pass + fixed unrolled merge iterations at vocab grain — Sennrich et al. "
    "2016, the standard subword trainer shape)",
)
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding vocabulary training over the document corpus:
    the canonical subword-tokenizer trainer (Sennrich, Haddow & Birch,
    "Neural Machine Translation of Rare Words with Subword Units", ACL
    2016), done the way real trainers do it — ONE corpus pass builds
    the word-frequency table, then every merge iteration runs at VOCAB
    grain, never re-touching the corpus. The reference has no analog;
    this extends the token family (token_profile, vocab_top_tokens,
    pack_training_sequences) from consuming a fixed tokenizer to
    TRAINING one.

    Semantics, pinned identically in both engines:
    - pre-tokenizer: whitespace split, lowercase-ASCII-alnum words of
      length 2..16 (the alphabet gate sidesteps cross-engine unicode
      case/segmentation divergence — the casefold sweep class — and
      bounds per-word positions);
    - pair statistics count OVERLAPPING adjacent pairs weighted by word
      frequency (the classic get_stats), winner tiebreak
      (count DESC, a, b);
    - the merge applies greedily left-to-right without overlap,
      expressed in the oracle as window algebra (gaps-and-islands:
      consecutive candidate positions form a run; odd run-offsets
      merge) and in Spark as the equivalent array fold (_bpe_train), so
      both engines compute the SAME deterministic result — no UDFs, no
      engine-specific replace() semantics;
    - _BPE_MERGES is a fixed unrolled budget (the embedding_kmeans
      fixed-iteration precedent) so the whole computation is one
      oracle-able dataflow. Output: one row per iteration — the learned
      merge rule, its weighted pair count, and the symbol-vocabulary
      size after applying it.

    Per-row symmetric (word counts aggregate over every document row),
    so it is winner-free under the identity-collision contract, like
    the other token statistics.

    Scale shape: the corpus pass is the ONLY data-term stage — explode
    + map-side-combined groupBy(word), scan-bandwidth-bound at 100 TB.
    Everything after runs on the distinct-word table (Heaps' law:
    ~1e6 rows for a web-scale corpus under this alphabet gate), where
    each iteration is one pair-count aggregate, a tiny global argmax
    and a per-word array fold; ``reliable_checkpoint`` on tok0 and on
    each 1-row winner keeps the unrolled DAG linear instead of
    exponential (the dedup_components lineage-cut discipline). The two
    1-row attaches (the learned rule, the vocab-size scalar) are
    ``attach`` broadcasts. The chain itself lives in
    ``_bpe_words`` / ``_bpe_train``, shared with bpe_encode and
    pack_bpe_sequences (which consume the final symbol table this
    query's output only summarizes)."""
    _, outs = _bpe_train(_bpe_words(spark, sf_dir))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# Per-distinct-word encoding summary under the learned merges: tok3 IS
# the encoded symbol sequence of every corpus word, so the "apply the
# tokenizer" step is one vocab-grain aggregate — never a corpus re-scan
_BPE_WENC_SQL = """wenc AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS n_syms,
             CAST(SUM(CASE WHEN length(sym) > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_merged
      FROM tok3 GROUP BY word
    )"""


_BPE_ENCODE_ORACLE = rf"""
    WITH {_BPE_TRAIN_CTES},
    {_BPE_WENC_SQL},
    doc_tok AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT doc_id, unnest(string_split_regex(text, '[{_WS_CLASS}]+')) AS w
        FROM documents WHERE text IS NOT NULL
      ) WHERE regexp_matches(w, '{_TOKEN_GATE_RE}') AND length(w) >= 2
      GROUP BY doc_id, w
    )
    SELECT d.doc_id,
           CAST(SUM(d.cnt) AS BIGINT) AS n_words,
           CAST(SUM(d.cnt * length(d.w)) AS BIGINT) AS n_chars,
           CAST(SUM(d.cnt * e.n_syms) AS BIGINT) AS n_subwords,
           CAST(SUM(d.cnt * e.n_merged) AS BIGINT) AS n_merged_syms
    FROM doc_tok d JOIN wenc e ON d.w = e.word
    GROUP BY d.doc_id
"""


def _bpe_wenc(tok_arr: DataFrame) -> DataFrame:
    """Spark twin of _BPE_WENC_SQL: (word, n_syms, n_merged) — each
    distinct word's subword count and applied-merge count under the
    learned merges. On the round-15 array-grain symbol table this is a
    pure PROJECTION (array size + filtered size) — the r13 (word, pos)
    grain needed a groupBy(word) shuffle here."""
    return tok_arr.select(
        "word",
        F.size("syms").cast("bigint").alias("n_syms"),
        F.size(F.filter("syms", lambda s: F.length(s) > 1))
        .cast("bigint")
        .alias("n_merged"),
    )


@query(
    "bpe_encode",
    oracle=_BPE_ENCODE_ORACLE,
    survey="§2.9 training prep (apply the trained BPE vocabulary to the "
    "corpus: per-document subword token statistics via the vocab-grain "
    "encoding table — the train->encode half of the tokenizer loop)",
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE vocabulary to the corpus — the encode step
    every real tokenizer pipeline runs after training (Sennrich et al.
    2016 §3: learned merges are replayed on new text). Closes the loop
    bpe_merge_training opened: that query LEARNS the merge rules; this
    one ENCODES every document with them and reports per-document
    subword statistics (token count before/after, characters, merges
    applied) — the numbers a pretraining pipeline needs to budget
    sequence packing under the trained tokenizer.

    The scale-right encode NEVER re-tokenizes text per document:
    ``_bpe_train``'s final symbol table already holds each distinct
    word's encoded sequence (training and encoding are the same
    replay), so applying the tokenizer is (a) one vocab-grain aggregate
    of that table -> (word, n_syms, n_merged), then (b) a join from the
    per-doc word-count grain — (doc_id, word, cnt), itself map-side
    combinable from the corpus scan — to that vocabulary table. Every
    gated corpus word is in the vocabulary by construction (both sides
    derive from the same scan + gate), so the inner join loses nothing.

    Per-row symmetric like the trainer (counts sum over every document
    row; no sequence state), so winner-free under the
    identity-collision contract — a collided doc_id's counts merge
    identically in both engines. Docs whose text has no gated word
    carry nothing to encode and emit no row (the bigram no-pairs
    precedent).

    Scale shape: the corpus pass is the only data-term stage (the same
    explode + combine as the trainer); the vocabulary join keys on
    word — vocabulary-sized (Heaps ~1e6 rows), left to AQE to
    broadcast when it fits and shuffle when it does not; per-doc
    aggregation is map-side combinable on doc_id. Exact BIGINT
    arithmetic end to end — no doubles anywhere."""
    tok_arr, _ = _bpe_train(_bpe_words(spark, sf_dir))
    wenc = _bpe_wenc(tok_arr)
    doc_tok = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(F.split(F.col("text"), "[" + _WS_CLASS + "]+")).alias("w"),
        )
        .filter(F.col("w").rlike(_TOKEN_GATE_RE) & (F.length("w") >= 2))
        .groupBy("doc_id", F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        doc_tok.join(wenc, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.length("word")).cast("bigint").alias("n_chars"),
            F.sum(F.col("cnt") * F.col("n_syms")).cast("bigint").alias("n_subwords"),
            F.sum(F.col("cnt") * F.col("n_merged"))
            .cast("bigint")
            .alias("n_merged_syms"),
        )
    )


_BPE_VOCAB_ORACLE = rf"""
    WITH {_BPE_TRAIN_CTES}
    SELECT sym AS subword,
           CAST(SUM(f) AS BIGINT) AS corpus_freq,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
           length(sym) > 1 AS is_merged
    FROM tok3 GROUP BY sym
"""


@query(
    "bpe_subword_vocab",
    oracle=_BPE_VOCAB_ORACLE,
    survey="§2.9 training prep (the trained subword vocabulary artifact: "
    "per-subword corpus frequency + containing-word count under the "
    "learned merges — what a tokenizer persists)",
)
def bpe_subword_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained subword VOCABULARY with corpus statistics — the
    artifact a tokenizer pipeline actually persists (every shipped
    tokenizer.json is exactly this: the symbol inventory the merges
    produce, with the frequencies used for ranking/truncation). One
    row per distinct post-merge symbol: its corpus occurrence count
    (word frequency x positions), how many distinct words contain it,
    and whether it is a merged (multi-char) unit. Completes the
    tokenizer family's artifact surface: bpe_merge_training emits the
    merge RULES, this emits the resulting VOCABULARY, bpe_encode /
    pack_bpe_sequences consume it against the corpus.

    Per-row symmetric (pure vocabulary statistics), winner-free under
    identity collisions like the trainer.

    Scale shape: the whole query runs at VOCAB grain after the
    trainer's one corpus pass — the groupBy(sym) input is the final
    symbol table (positions-per-word rows over ~1e6 distinct words at
    web scale), map-side combinable; output is the vocabulary itself.
    Nothing here touches corpus bytes a second time."""
    tok_arr, _ = _bpe_train(_bpe_words(spark, sf_dir))
    return (
        tok_arr.select("word", "f", F.explode("syms").alias("sym"))
        .groupBy(F.col("sym").alias("subword"))
        .agg(
            F.sum("f").cast("bigint").alias("corpus_freq"),
            F.countDistinct("word").cast("bigint").alias("n_words"),
        )
        .withColumn("is_merged", F.length("subword") > 1)
    )


_PACK_BPE_ORACLE = rf"""
    WITH {_BPE_TRAIN_CTES},
    {_BPE_WENC_SQL},
    doc_tok AS (
      -- identity winner (the pack_training_sequences contract): the
      -- (h, doc_id) lay-down order TIES on a collided id, so the
      -- per-doc token multiset must come from ONE deterministic
      -- content — unlike bpe_encode's symmetric counts
      SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(text, '[{_WS_CLASS}]+')) AS w
        FROM ({_DOCS_ONE_LANG_SQL}) WHERE text IS NOT NULL
      ) WHERE regexp_matches(w, '{_TOKEN_GATE_RE}') AND length(w) >= 2
      GROUP BY doc_id, lang, w
    ),
    sized AS (
      SELECT d.doc_id, d.lang,
             CAST(SUM(d.cnt * e.n_syms) AS BIGINT) AS n_tokens,
             md5(CAST(d.doc_id AS VARCHAR)) AS h
      FROM doc_tok d JOIN wenc e ON d.w = e.word
      GROUP BY d.doc_id, d.lang
    ),
    laid AS (
      SELECT doc_id, lang, n_tokens,
             -- NULLS FIRST spelled (the round-13 null_doc_ids find —
             -- see pack_training_sequences)
             CAST(SUM(n_tokens) OVER (PARTITION BY lang
                                      ORDER BY h NULLS FIRST, doc_id NULLS FIRST
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM sized
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS start_seq,
           CAST((cum - 1) // 2048 AS BIGINT) AS end_seq,
           cum - n_tokens - ((cum - n_tokens) // 2048) * 2048 AS start_offset
    FROM laid
"""


@query(
    "pack_bpe_sequences",
    oracle=_PACK_BPE_ORACLE,
    survey="§2.9 training prep (concat-and-chunk packing under the TRAINED "
    "BPE tokenizer's subword counts — the encode->pack half of the loop)",
)
def pack_bpe_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing under the TRAINED tokenizer — the stage a real
    pretraining pipeline runs between tokenizer training and batch
    prep, and the piece pack_training_sequences approximates with
    whitespace counts. Same packing semantics as that query (per-lang
    deterministic (h, doc_id) lay-down, 2048-token cuts, integer math
    only); the only change is WHAT a document's length is: the subword
    count under the learned BPE merges (bpe_encode's n_subwords), not
    the raw whitespace token count. Together bpe_merge_training ->
    bpe_encode -> pack_bpe_sequences is the full train->encode->pack
    tokenizer loop.

    Identity-grain (the round-10 collision contract, inherited from
    pack_training_sequences): lay-down order ties on a collided id, so
    the per-doc token multiset comes from the _one_per_doc winner.
    Training still reads the FULL corpus (winner-free, like all
    vocabulary statistics): winner-corpus words are a subset of
    full-corpus words under the same gate, so the vocabulary join
    stays lossless. Docs with no gated tokens pack nothing and emit no
    row (they would occupy zero positions in the stream anyway) —
    documented divergence from the whitespace packer, whose split('')
    floor gives every doc >= 1 token.

    Scale shape: corpus pass + vocab-grain join as bpe_encode, then
    the packing window is partition-parallel per lang shard (the
    stratified running sum pack_training_sequences argues); `div` is
    exact integer division — floor(double) would drift at large
    cumulative counts."""
    tok_arr, _ = _bpe_train(_bpe_words(spark, sf_dir))
    wenc = _bpe_wenc(tok_arr)
    doc_tok = (
        _one_per_doc(
            table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
            ("text", "lang"),
        )
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.col("text"), "[" + _WS_CLASS + "]+")).alias("w"),
        )
        .filter(F.col("w").rlike(_TOKEN_GATE_RE) & (F.length("w") >= 2))
        .groupBy("doc_id", "lang", F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sized = (
        doc_tok.join(wenc, "word")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("cnt") * F.col("n_syms")).cast("bigint").alias("n_tokens"))
        .withColumn("h", F.md5(F.col("doc_id").cast("string")))
    )
    w = (
        Window.partitionBy("lang")
        # NULLS FIRST spelled on both sides (round-13 null_doc_ids find)
        .orderBy(F.col("h").asc_nulls_first(), F.col("doc_id").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    laid = sized.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "start", F.col("cum") - F.col("n_tokens")
    )
    return laid.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr("start div 2048").alias("start_seq"),
        F.expr("(cum - 1) div 2048").alias("end_seq"),
        F.expr("start - (start div 2048) * 2048").alias("start_offset"),
    )


_BIGRAM_LM_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, idx, w FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS idx, w
        FROM (
          -- positional unnest via range (DuckDB lacks WITH ORDINALITY)
          SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[CAST(i AS INT)] AS w
          FROM (
            -- identity-grain loader: the per-doc token SEQUENCE depends
            -- on doc identity, so a collided doc_id resolves ONE winner
            -- (the _DOCS_ONE_SQL contract) — two interleaved streams
            -- under one id would mint order-tie bigrams (sweep find)
            SELECT doc_id,
                   string_split_regex(text, '[{_WS_CLASS}]+') AS ws
            FROM ({_DOCS_ONE_SQL}) WHERE text IS NOT NULL
          ), unnest(range(1, len(ws) + 1)) t(i)
        ) WHERE regexp_matches(w, '{_TOKEN_GATE_RE}') AND length(w) >= 2
      )
    ),
    pairs AS (
      SELECT doc_id, w AS w1,
             LEAD(w) OVER (PARTITION BY doc_id ORDER BY idx) AS w2
      FROM toks
    ),
    p2 AS (SELECT doc_id, w1, w2 FROM pairs WHERE w2 IS NOT NULL),
    bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM p2 GROUP BY w1, w2),
    uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM p2 GROUP BY w1),
    v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vsz FROM toks),
    scored AS (
      SELECT p.doc_id,
             -- add-one smoothed P(w2|w1), quantized to 1e6 fixed point
             -- via INTEGER division (exact, order-independent; the 1e6
             -- scale keeps (c12+1)*1e6 far inside int64 at any corpus)
             ((bi.c12 + 1) * 1000000) // (uni.c1 + v.vsz) AS pq
      FROM p2 p JOIN bi ON p.w1 = bi.w1 AND p.w2 = bi.w2
                JOIN uni ON p.w1 = uni.w1
                CROSS JOIN v
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(pq) AS BIGINT) AS s_q
      FROM scored GROUP BY doc_id
    ),
    corpus AS (
      SELECT CAST(SUM(s_q) AS DOUBLE) / SUM(n_pairs) AS corpus_mean FROM per_doc
    )
    SELECT d.doc_id, d.n_pairs,
           CAST(d.s_q AS DOUBLE) / d.n_pairs AS mean_prob_q,
           (CAST(d.s_q AS DOUBLE) / d.n_pairs) < c.corpus_mean AS below_corpus_mean
    FROM per_doc d CROSS JOIN corpus c
"""


@query(
    "bigram_lm_quality_filter",
    oracle=_BIGRAM_LM_ORACLE,
    survey="§2.9 text quality (corpus-self-trained bigram LM scoring — the "
    "CCNet/Dolma perplexity-filter stage, in exact fixed point)",
)
def bigram_lm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-based document quality scoring — the standard
    LM-filter stage of published pretraining pipelines (CCNet, Wenzek
    et al. LREC 2020; Dolma; RefinedWeb all score documents with an
    n-gram LM and cut on the score): train a bigram LM on the corpus,
    then score every document by the mean smoothed probability of its
    adjacent token pairs under that LM. Low scores mark documents
    whose word transitions are unusual for the corpus — gibberish,
    boilerplate storms, wrong-language residue — complementing the
    surface-statistics filter (doc_quality_score) with a DISTRIBUTION
    signal. This self-scoring form (train and score on the same
    corpus) is the same dataflow as CCNet's reference-corpus form;
    only which table feeds the train side differs.

    Determinism contract: log-perplexity is NOT cross-engine-stable
    (neither engine's ln() is correctly rounded), so the score is the
    arithmetic mean of add-one-smoothed conditional probabilities
    P(w2|w1) = (c(w1,w2)+1)/(c(w1)+|V|), each quantized to 1e6 fixed
    point by INTEGER division — exact, summation-order-independent
    BIGINT arithmetic end to end, with exactly one double division per
    output value (IEEE-deterministic in both engines). The 1e6 scale
    keeps (c12+1)*1e6 inside int64 for any corpus whose max bigram
    count is < 9.2e12 — comfortably past 100 TB. Same pre-tokenizer as
    bpe_merge_training (shared _WS_CLASS split + the ASCII-alnum
    alphabet gate); bigrams are adjacent pairs of SURVIVING tokens
    (positions re-numbered after the gate). Docs with fewer than two
    surviving tokens have no pairs and no row — they carry no LM
    evidence either way. IDENTITY-GRAIN under id collisions (the
    id_collision_docs sweep caught the pass-through form minting
    order-tie bigrams across two interleaved token streams sharing one
    doc_id): the loader resolves the _one_per_doc winner, like
    minhash/curation/packing — the per-doc token SEQUENCE is identity
    state, unlike the sequence-free token statistics.

    Scale shape: one corpus pass builds tokens; the bigram/unigram
    models are map-side-combinable groupBys; scoring re-joins the pair
    stream to the two model tables on their natural keys (shuffle
    equi-joins — the model tables are corpus-vocabulary-sized, NOT
    broadcastable at 100 TB, and never need to be). Those w1-keyed
    joins meet a Zipf-skewed key at real corpus scale ("the" as w1 is
    a constant fraction of ALL pairs): the session enables AQE
    skew-join splitting, which re-plans the hot w1 partitions into
    sub-splits at runtime (the skew_salted_join machinery stands by if
    a decade run ever shows AQE insufficient; the sf10 decade ran
    calib-clean without it). |V| and the corpus mean are ``attach``
    broadcasts. Everything downstream of the scan is grouping and
    joining on string keys — no Python, no UDFs."""
    # Tokens stay as one ordered ARRAY per doc, checkpointed once: the
    # gate is an array filter, which preserves order, so array adjacency
    # IS the adjacency of the surviving tokens renumbered after the gate.
    # Pairs are a transform over adjacent elements — no window sorts —
    # and all four consumers (bi, uni, the scoring join, |V|) start from
    # the materialized array table instead of re-running the tokenizer
    # (measured 2.2 s -> 1.2 s at sf0.1 against a (doc, idx)-grain
    # window form).
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    docs = _one_per_doc(
        table(spark, sf_dir, "documents").select("doc_id", "text"), ("text",)
    )
    gated = F.filter(
        F.split(F.col("text"), "[" + _WS_CLASS + "]+"),
        lambda w: w.rlike(_TOKEN_GATE_RE) & (F.length(w) >= 2),
    )
    docs_arr = reliable_checkpoint(
        docs.filter(F.col("text").isNotNull()).select("doc_id", gated.alias("tt"))
    )
    # greatest(.., 0): a doc with ZERO gated tokens makes size(tt)-1
    # negative, and slice() REJECTS negative lengths; such a doc has no
    # pair row, as in the oracle (the empty_docs sweep batch checks it)
    pairs = docs_arr.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(tt, 1, greatest(size(tt)-1, 0)),"
                " (s, i) -> struct(s AS w1, tt[i+1] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = docs_arr.select(F.explode("tt").alias("w")).agg(
        F.countDistinct("w").alias("vsz")
    )
    scored = (
        attach(pairs.join(bi, ["w1", "w2"]).join(uni, "w1"), v)
        .select(
            "doc_id",
            F.expr("((c12 + 1) * 1000000L) div (c1 + vsz)").alias("pq"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("pq").cast("bigint").alias("s_q")
    )
    corpus = per_doc.agg(
        (F.sum("s_q").cast("double") / F.sum("n_pairs")).alias("corpus_mean")
    )
    mean_prob = F.col("s_q").cast("double") / F.col("n_pairs")
    return attach(per_doc, corpus).select(
        "doc_id",
        "n_pairs",
        mean_prob.alias("mean_prob_q"),
        (mean_prob < F.col("corpus_mean")).alias("below_corpus_mean"),
    )


# --- DSIR data selection (round 14) -----------------------------------------
# hashed n-gram feature space (unigrams + bigrams -> B buckets via the
# cross-engine md5->52-bit idiom), target = the 'en' slice, and a
# deterministic systematic importance resample of K draws
_DSIR_B = 512  # fixture-sized; production trains 10k+ buckets (the paper's 10^4)
_DSIR_K = 50
_DSIR_TARGET_LANG = "en"


@query(
    "dsir_importance_resample",
    oracle=f"""
    WITH docs AS (
      -- a NULL text carries no n-gram evidence: excluded symmetrically
      SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL
    ), feats AS (
      SELECT doc_id, lang, f FROM (
        SELECT doc_id, lang,
               list_concat(string_split(text, ' '),
                           {_shingles_sql("string_split(text, ' ')", 2)}) AS fs
        FROM docs
      ), unnest(fs) t(f)
    ), bucketed AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5('0|' || f), 1, 13) AS BIGINT) % {_DSIR_B} AS b
      FROM feats
    ), model AS (
      -- add-one-smoothed bucket counts: raw = every occurrence, target =
      -- the '{_DSIR_TARGET_LANG}' slice (target ⊆ raw, so the ratio ≤ ~1e6)
      SELECT b, COUNT(*) AS c_r,
             COUNT(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}') AS c_t
      FROM bucketed GROUP BY b
    ), weights AS (
      SELECT doc_id, COUNT(*) AS n_feat,
             CAST(SUM(((c_t + 1) * 1000000) // (c_r + 1)) AS BIGINT) AS sum_lr
      FROM bucketed JOIN model USING (b)
      GROUP BY doc_id
    ), w AS (
      SELECT doc_id, n_feat, sum_lr // n_feat AS mean_lr_fp,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM weights
    ), c AS (
      SELECT *, COALESCE(SUM(mean_lr_fp) OVER (
          ORDER BY h ASC NULLS FIRST, doc_id ASC NULLS FIRST
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM w
    ), t AS (
      SELECT CAST(SUM(mean_lr_fp) AS BIGINT) AS total FROM w
    )
    SELECT doc_id, CAST(n_feat AS BIGINT) AS n_feat,
           CAST(mean_lr_fp AS BIGINT) AS mean_lr_fp,
           CAST((CASE WHEN total > 0
                      THEN (cum_before + mean_lr_fp) * {_DSIR_K} // total
                      ELSE 0 END)
              - (CASE WHEN total > 0
                      THEN cum_before * {_DSIR_K} // total
                      ELSE 0 END) AS BIGINT) AS n_hits
    FROM c, t
    WHERE (CASE WHEN total > 0
                THEN (cum_before + mean_lr_fp) * {_DSIR_K} // total
                ELSE 0 END)
        > (CASE WHEN total > 0
                THEN cum_before * {_DSIR_K} // total
                ELSE 0 END)
    """,
    survey="§2.9 training prep (DSIR data selection, Xie et al. NeurIPS 2023: "
    "hashed n-gram importance weights vs a target slice + deterministic "
    "systematic importance resample, exact integer arithmetic)",
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al., NeurIPS 2023 — the
    published importance-resampling stage between raw crawl and
    training mix): featurize every document as a bag of hashed n-grams
    (unigrams + bigrams → {_DSIR_B} buckets via the cross-engine
    md5→52-bit idiom), fit smoothed bucket distributions for the
    TARGET slice (lang='en' — the trusted-domain stand-in for the
    paper's Wikipedia+books target) and the RAW corpus, weight each
    document by its features' likelihood ratios, and draw a
    deterministic K=50 systematic importance resample.

    Exact-arithmetic substitutions, stated honestly: the paper's
    per-document log-likelihood-ratio Σ count(b)·(log p_t(b) − log
    p_r(b)) is replaced by the length-normalized mean of per-occurrence
    fixed-point likelihood ratios lr_fp(b) = ((c_t(b)+1)·1e6) //
    (c_r(b)+1) — ln() is not a cross-engine contract (the
    bigram_lm_quality_filter / tfidf precedent), while the ratio form
    is pure BIGINT. The corpus-constant normalizer (n_r+B)/(n_t+B) is
    rank-neutral across documents and is dropped outright. The paper's
    Gumbel-noise resample becomes the repo's rand()-free sampling rule:
    the pps_systematic_sample walk in md5(doc_id) order (a fixed
    pseudo-random permutation), inclusion ∝ mean_lr_fp exactly, and
    SUM(n_hits) == K whenever any weight is positive.

    Identity contracts: NULL text rows carry no n-gram evidence and are
    excluded symmetrically; a collided doc_id collapses at the
    weights grain (bag-of-ngrams is sequence-free per ROW — bigrams
    never mint across payload rows — and the doc-grain SUM/COUNT are
    order-independent), so the PPS walk's (md5(doc_id), doc_id) order
    meets one row per identity and its complete-tie hazard class
    cannot arise; a NULL doc_id hashes to a NULL h and both engines
    spell NULLS FIRST. Overflow posture: target ⊆ raw keeps lr_fp ≤
    ~1e6, so (c_t+1)·1e6 needs c_t < 9.2e12 per bucket and the
    threshold product needs N_docs < ~1.8e11 — both far past 100 TB;
    re-scale the 1e6 quantum before the corpus crosses those.

    Scale shape: the feature explode (fanout = tokens + bigrams ≈ 2×
    tokens) runs TWICE — once to build the B-row model, once on the
    probe side of the model join — a deliberate recompute-over-
    materialize call: checkpointing the feature-grain frame would
    write ~2× the corpus to storage, while re-running the codegen'd
    explode+hash costs one extra scan (the doc-grain `weights` frame,
    corpus-CARDINALITY not feature-cardinality, IS checkpointed below
    for its three consumers). The model table is EXACTLY B rows —
    broadcast onto the feature stream, so the hot stopword buckets
    never shuffle (no Zipf skew path at all); per-doc weights are one
    map-side-combinable groupBy(doc_id). The global prefix sum is the
    pps_systematic_sample two-phase decomposition (cumulate inside
    256 md5-prefix groups in parallel, serial offset pass over the
    256 group totals — no single-partition sort of the corpus); the
    ORACLE computes the naive single-window cumulation, so the hash
    match IS the equivalence proof."""
    toks = _tokens()
    # Spark's sequence() flips to step -1 when start > stop, so guard
    # the bigram list on size >= 2 (DuckDB's range is empty there)
    bigrams = F.when(F.size(toks) >= 2, _shingles(toks, 2)).otherwise(
        F.array().cast("array<string>")
    )
    feats = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        # the fixture is ONE parquet file; without this the CPU-bound
        # explode+md5 map work runs on a single core (the _minhash_bands
        # precedent — measured 5.3s -> 1.5s at sf0.1). At 100 TB the
        # scan has thousands of splits and this is a cheap no-op shuffle
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", "lang", F.explode(F.concat(toks, bigrams)).alias("f"))
    )
    from crm_etl_pipeline_spark.queries.sketch_filters_q import _hash_long

    bucketed = feats.select(
        "doc_id", "lang", (_hash_long(F.col("f"), 0) % _DSIR_B).alias("b")
    )
    model = bucketed.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, True)).alias("c_t"),
    )
    weights = (
        # the model: one row per hash bucket (_DSIR_B)
        bucketed.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feat"),
            F.sum(F.expr("((c_t + 1) * 1000000L) div (c_r + 1)"))
            .cast("bigint")
            .alias("sum_lr"),
        )
    )
    # the weights frame feeds THREE consumers (in-group cumulation,
    # group totals, the grand total); checkpoint the doc-grain 5-column
    # frame once so the corpus-scale feature explode + model join runs
    # exactly once, not three times (the prefix_filter_setsim_join
    # shared-subtree precedent)
    from crm_etl_pipeline_spark.checkpointing import reliable_checkpoint

    w = reliable_checkpoint(
        weights.select(
            "doc_id",
            "n_feat",
            F.expr("sum_lr div n_feat").alias("mean_lr_fp"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("h2"),
        )
    )
    # two-phase global prefix sum (the pps_systematic_sample pattern):
    # phase 1 cumulates inside each 2-hex-digit md5 prefix group;
    # phase 2 adds the serial offsets over the 256 group totals.
    # Ordering by (h2, h, doc_id) == ordering by (h, doc_id) because h2
    # is a prefix of h; placement spelled NULLS FIRST in both engines
    # (a NULL doc_id yields a NULL h/h2 — one group, cumulated first)
    gw = (
        Window.partitionBy("h2")
        .orderBy(F.col("h").asc_nulls_first(), F.col("doc_id").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    in_group = w.withColumn(
        "cum_in_group", F.coalesce(F.sum("mean_lr_fp").over(gw), F.lit(0))
    )
    g_tot = w.groupBy("h2").agg(F.sum("mean_lr_fp").alias("g_tot"))
    pw = (
        Window.partitionBy(one("h2"))
        .orderBy(F.col("h2").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = g_tot.select(
        F.col("h2").alias("h2_o"),
        F.coalesce(F.sum("g_tot").over(pw), F.lit(0)).alias("offset"),
    )
    # null-safe h2 equi-join: a plain equi-join silently drops the
    # NULL-h2 group
    cum = (
        # one offset row per h2 group (at most 256 hex pairs and NULL)
        in_group.join(
            F.broadcast(offsets), F.col("h2").eqNullSafe(F.col("h2_o"))
        )
        .drop("h2_o")
        .withColumn("cum_before", F.col("offset") + F.col("cum_in_group"))
    )
    tot = w.agg(F.sum("mean_lr_fp").cast("bigint").alias("total"))
    cum = attach(cum, tot)
    lo = F.when(
        F.col("total") > 0, F.expr(f"cum_before * {_DSIR_K} div total")
    ).otherwise(F.lit(0))
    hi = F.when(
        F.col("total") > 0,
        F.expr(f"(cum_before + mean_lr_fp) * {_DSIR_K} div total"),
    ).otherwise(F.lit(0))
    return cum.filter(hi > lo).select(
        "doc_id",
        F.col("n_feat").cast("bigint").alias("n_feat"),
        F.col("mean_lr_fp").cast("bigint").alias("mean_lr_fp"),
        (hi - lo).cast("bigint").alias("n_hits"),
    )
