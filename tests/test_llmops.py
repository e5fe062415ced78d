"""Invariant tests for the LLM-data-pipeline operators: properties the
row-level DuckDB oracle cannot express — LSH recall vs brute force,
dedup survivor rules, candidate-set sparsity (never all-pairs).

Runs at sf0.001 for speed; the value-level oracle equivalence of every
query here is covered at sf0.01 by test_oracle.py.
"""

from __future__ import annotations

from crm_etl_pipeline_spark.queries.llmops import DUP_OFFSET
from crm_etl_pipeline_spark.registry import load_all

SF_DIR = "/root/testdata/sf0.001"

REGISTRY = load_all()


def _rows(spark, name):
    return REGISTRY[name].fn(spark, SF_DIR).collect()


def test_exact_dedup_survivor_rule(spark):
    """Fabricated exact copies collapse onto the lowest doc_id; all
    other docs stay singletons (fixture corpus is 100% distinct)."""
    rows = _rows(spark, "exact_dedup_documents")
    dup_keys = {r.keep_doc_id for r in rows if r.n_copies == 2}
    singletons = {r.keep_doc_id for r in rows if r.n_copies == 1}
    assert all(k % 5 == 0 and k < DUP_OFFSET for k in dup_keys)
    assert all(k < DUP_OFFSET for k in singletons)  # survivor is never the clone
    assert not any(r.n_copies > 2 for r in rows)


def test_minhash_recall_vs_exact_jaccard(spark):
    """LSH banding must recover nearly every truly-near pair: with 4
    bands of 3 rows, P(candidate | J=0.9) ≈ 1-(1-0.9³)⁴ ≈ 0.995."""
    truth = {
        (r.doc_a, r.doc_b): r.jaccard for r in _rows(spark, "ngram_jaccard_verify")
    }
    near = {p for p, j in truth.items() if j >= 0.8}
    candidates = {(r.doc_a, r.doc_b) for r in _rows(spark, "minhash_near_dup")}
    assert near, "fixture should fabricate at least one high-jaccard pair"
    recall = len(near & candidates) / len(near)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(near)} near pairs"


def test_minhash_candidates_are_sparse(spark):
    """The banded join must emit far fewer pairs than the all-pairs
    product — the whole point of LSH at 100 TB."""
    n_docs = REGISTRY["doc_fingerprint"].fn(spark, SF_DIR).count()
    n_pairs = REGISTRY["minhash_near_dup"].fn(spark, SF_DIR).count()
    assert n_pairs < 0.05 * n_docs * (n_docs - 1) / 2


def test_ann_lsh_subset_of_bucket_and_recall(spark):
    """Bucketed ANN returns only same-bucket candidates, ranked
    consistently with the exact brute force (its top hit can never beat
    the exact top-1 cosine for that query)."""
    exact = {}
    for r in _rows(spark, "ann_cosine_topk"):
        exact.setdefault(r.query_id, {})[r.cand_id] = (r.rank, r.cosine)
    approx = _rows(spark, "ann_lsh_bucketed")
    assert approx, "bucketed ANN returned nothing"
    for r in approx:
        top1 = min(exact[r.query_id].items(), key=lambda kv: kv[1][0])
        assert r.cosine <= top1[1][1] + 1e-12
    # recall@3-vs-10: every bucketed hit that IS in the exact top-10 must
    # preserve relative order (monotone rank mapping)
    for qid in {r.query_id for r in approx}:
        hits = sorted(
            (r.rank, exact[qid][r.cand_id][0])
            for r in approx
            if r.query_id == qid and r.cand_id in exact[qid]
        )
        exact_ranks = [er for _, er in hits]
        assert exact_ranks == sorted(exact_ranks)


def test_language_id_deterministic_and_total(spark):
    """Every doc gets exactly one predicted language from the profile
    argmax; re-running yields the identical assignment."""
    a = {r.doc_id: r.predicted_lang for r in _rows(spark, "language_id_ngram")}
    b = {r.doc_id: r.predicted_lang for r in _rows(spark, "language_id_ngram")}
    assert a == b
    assert set(a.values()) <= {"en", "es", "de", "zh"}


def test_simhash_finds_fabricated_pairs(spark):
    """Appending one token flips only bits whose 64-way vote sits at the
    boundary (~3.5 expected flips on ~55-token docs), so a healthy share
    of fabricated (doc, doc+OFFSET) pairs stays within hamming ≤ 3 —
    and for every pair within the radius, banding recall is exact by
    pigeonhole (≤3 flipped bits leave ≥1 of the 4 bands identical)."""
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in _rows(spark, "simhash_near_dup")}
    fabricated = [(a, b) for (a, b) in pairs if b == a + DUP_OFFSET]
    assert fabricated, "no fabricated simhash pair recovered"
    assert all(pairs[p] <= 3 for p in fabricated)


def test_embedding_near_dup_recovers_all_clones(spark):
    from crm_etl_pipeline_spark.io import table

    n_clones = table(spark, SF_DIR, "embeddings").filter("vec_id % 6 = 0").count()
    rows = _rows(spark, "embedding_near_dup")
    clone_pairs = {(r.vec_a, r.vec_b) for r in rows if r.vec_b == r.vec_a + 100000}
    assert len(clone_pairs) == n_clones  # every clone found
    assert all(r.cosine >= 0.8 for r in rows)


def test_dedup_components_invariants(spark):
    """Connected components: every component id is the minimum doc_id
    among its members, and both endpoints of every strong candidate
    edge (>= 2 shared bands) land in the same component."""
    comp = {r.doc_id: r.component for r in _rows(spark, "dedup_components")}
    members = {}
    for doc, c in comp.items():
        members.setdefault(c, []).append(doc)
    assert all(c == min(docs) for c, docs in members.items())
    edges = [
        (r.doc_a, r.doc_b)
        for r in _rows(spark, "minhash_near_dup")
        if r.n_shared_bands >= 2
    ]
    assert edges, "no strong candidate edges at this SF"
    assert all(comp[a] == comp[b] for a, b in edges)


def test_contamination_finds_verbatim_clones(spark):
    """Every benchmark doc with a verbatim training-side clone
    (doc_id % 5 == 0 → clone at +OFFSET) must be flagged with 100% of
    its shingles leaked."""
    rows = _rows(spark, "contamination_ngram_overlap")
    flagged = {(r.train_doc, r.bench_doc): r.bench_overlap_frac for r in rows}
    from crm_etl_pipeline_spark.io import table

    bench_clone_ids = [
        r.doc_id
        for r in table(spark, SF_DIR, "documents")
        .filter("doc_id < 20 AND doc_id % 5 = 0")
        .select("doc_id")
        .collect()
    ]
    assert bench_clone_ids
    for b in bench_clone_ids:
        assert flagged.get((b + DUP_OFFSET, b)) == 1.0


def test_ivf_nprobe2_dominates_single_probe(spark):
    """nprobe=2 searches a superset of the 1-probe candidate set, so
    its best hit per query can never be worse than the 1-probe best."""
    one = {}
    for r in _rows(spark, "ann_ivf_probe"):
        if r.rank == 1:
            one[r.query_id] = r.cosine
    two = {}
    for r in _rows(spark, "ann_ivf_nprobe2"):
        if r.rank == 1:
            two[r.query_id] = r.cosine
    assert set(one) <= set(two)
    for qid, best1 in one.items():
        assert two[qid] >= best1 - 1e-12


def test_capped_pair_array_bounds_hot_buckets(spark):
    """A pathological hot bucket (mass boilerplate: one band signature
    holding thousands of members) must not explode quadratically:
    buckets over lsh.BUCKET_CAP emit O(n) star pairs anchored at the
    minimum member — every member stays connected to the cluster (what
    dedup_components needs) — while buckets at/under the cap keep the
    exact full pairwise set."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark import lsh

    wide_n = lsh.BUCKET_CAP + 744  # 1000 members with default cap 256
    small_n = 5
    df = spark.createDataFrame(
        [("hot", list(range(wide_n))), ("ok", list(range(small_n)))],
        "band_sig string, ids array<int>",
    ).select("band_sig", F.sort_array("ids").alias("ids"))
    pairs = df.select(
        "band_sig",
        F.explode(
            lsh.capped_pair_array(
                F.col("ids"), lambda x, y: F.struct(x.alias("a"), y.alias("b"))
            )
        ).alias("p"),
        lsh.is_capped(F.col("ids")).alias("capped"),
    )
    hot = pairs.filter("band_sig = 'hot'")
    assert hot.count() == wide_n - 1  # star: linear, not n*(n-1)/2
    assert hot.filter("p.a != 0").count() == 0  # anchored at the min member
    assert hot.filter("NOT capped").count() == 0
    # connectivity: every non-anchor member appears exactly once as p.b
    assert hot.select("p.b").distinct().count() == wide_n - 1
    ok = pairs.filter("band_sig = 'ok'")
    assert ok.count() == small_n * (small_n - 1) // 2  # exact pairwise kept
    assert ok.filter("capped").count() == 0


def test_capped_pair_oracle_model_equivalence(spark):
    """The DuckDB oracles model capped_pair_array as: bucket size ≤ cap →
    full pairwise; over cap → anchor-rooted star pairs (WHERE n <= cap OR
    a.id = anchor, with a.id < b.id). Verify the Spark pipeline and the
    SQL model produce IDENTICAL (pair, n_shared_bands, from_capped) rows
    on synthetic buckets straddling a tiny cap — so Spark and oracle
    cannot silently diverge when a real bucket exceeds lsh.BUCKET_CAP."""
    import duckdb
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark import lsh

    cap = 4
    rows = (
        [(d, 0, "A") for d in range(6)]  # over-cap bucket → star pairs
        + [(10 + d, 0, "B") for d in range(4)]  # at-cap bucket → full pairwise
        + [(d, 1, "C") for d in (0, 1)]  # band-1 overlap: (0,1) gets 2 bands
    )
    bands = spark.createDataFrame(rows, "doc_id int, band_id int, band_sig string")
    buckets = (
        bands.groupBy("band_id", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair = lsh.capped_pair_array(
        F.col("ids"), lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")), cap=cap
    )
    got = (
        buckets.select(
            F.explode(pair).alias("p"), lsh.is_capped(F.col("ids"), cap=cap).alias("capped")
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_bands"),
            F.bool_or("capped").alias("from_capped"),
        )
    )
    got_rows = sorted((r.doc_a, r.doc_b, r.n_shared_bands, r.from_capped) for r in got.collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE bands(doc_id INT, band_id INT, band_sig VARCHAR)")
    con.executemany("INSERT INTO bands VALUES (?, ?, ?)", rows)
    oracle = con.execute(
        f"""
        WITH sizes AS (
          SELECT band_id, band_sig, COUNT(*) AS n, MIN(doc_id) AS anchor
          FROM bands GROUP BY band_id, band_sig
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_shared_bands, bool_or(s.n > {cap}) AS from_capped
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                    AND a.doc_id < b.doc_id
        JOIN sizes s ON s.band_id = a.band_id AND s.band_sig = a.band_sig
        WHERE s.n <= {cap} OR a.doc_id = s.anchor
        GROUP BY a.doc_id, b.doc_id
        ORDER BY doc_a, doc_b
        """
    ).fetchall()
    assert got_rows == [tuple(r) for r in oracle]
    # (0,1): star pair from the capped band-0 bucket PLUS an exact pair
    # from band-1 → 2 shared bands, flagged from_capped — exactly the edge
    # dedup_components' keep-rule exists for
    assert (0, 1, 2, True) in got_rows


def test_fixture_buckets_under_cap(spark):
    """At the driver's sf0.01 every MinHash band bucket stays under
    lsh.BUCKET_CAP, so the oracle comparisons exercise the exact
    full-pairwise path (the capped path is covered by the synthetic
    equivalence test above — the oracles model both)."""
    from crm_etl_pipeline_spark import lsh

    prof = REGISTRY["lsh_bucket_profile"].fn(spark, "/root/testdata/sf0.01").collect()
    assert prof
    assert all(r.n_over_cap == 0 and r.max_bucket <= lsh.BUCKET_CAP for r in prof)


def test_approx_percentiles_within_rank_error(spark):
    """The GK sketch values cannot be SQL-oracled (GK vs DuckDB t-digest
    differ by design): this pytest checks the GK guarantee directly on
    the raw sketch — the returned value's rank is within n/accuracy of
    the target rank and is an actual member of the group — while the
    registered approx_value_percentiles query self-checks the same bound
    in-engine against an all-TRUE oracle for a real driver hash row."""
    from crm_etl_pipeline_spark.io import table
    from crm_etl_pipeline_spark.queries.aggregates import gk_percentile_sketch
    from crm_etl_pipeline_spark.registry import load_all

    approx = {
        r.event_type: (r.p50, r.p90, r.p99)
        for r in gk_percentile_sketch(spark, SF_DIR).collect()
    }
    # and the registered self-check must come back all-TRUE
    for r in load_all()["approx_value_percentiles"].fn(spark, SF_DIR).collect():
        assert r.p50_ok and r.p90_ok and r.p99_ok, r
    groups = (
        table(spark, SF_DIR, "events")
        .select("event_type", "value")
        .toPandas()
        .groupby("event_type")["value"]
    )
    for etype, vals in groups:
        ordered = sorted(vals)
        n = len(ordered)
        for p, got in zip((0.5, 0.9, 0.99), approx[etype]):
            assert got in vals.values  # GK returns a real element
            rank = ordered.index(got)
            target = p * (n - 1)
            assert abs(rank - target) <= max(1.0, n / 10000.0), (etype, p, rank, target)


def test_bounded_sorted_members_caps_the_array(spark):
    """The membership array itself is bounded: a bucket wider than
    member_cap collects only the rank prefix (smallest members), while
    n_members reports the true size and sub-cap buckets are unaffected."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark import lsh

    rows = [("hot", i) for i in range(20)] + [("cold", i) for i in (3, 1)]
    df = spark.createDataFrame(rows, "bucket string, doc_id long")
    out = {
        r["bucket"]: r
        for r in lsh.bounded_sorted_members(
            df, ["bucket"], member=F.col("doc_id"), order=F.col("doc_id"),
            member_cap=8, alias="ids",
        ).collect()
    }
    assert out["hot"]["n_members"] == 20
    assert out["hot"]["ids"] == list(range(8))  # rank prefix, sorted
    assert out["cold"]["ids"] == [1, 3] and out["cold"]["n_members"] == 2
    # the flag contract holds on the bounded array: min(n, member_cap) > cap
    assert len(out["hot"]["ids"]) > 4 and len(out["cold"]["ids"]) <= 4


def test_pii_redaction_scrubs_everything(spark):
    """No email/phone pattern may survive redaction, every fabricated
    PII doc is counted, and non-PII text is untouched."""
    import re

    from crm_etl_pipeline_spark.queries.llmops import _EMAIL_PAT, _PHONE_PAT

    rows = _rows(spark, "pii_redaction")
    assert rows
    email_re, phone_re = re.compile(_EMAIL_PAT), re.compile(_PHONE_PAT)
    for r in rows:
        assert not email_re.search(r.redacted), r
        assert not phone_re.search(r.redacted), r
        assert r.n_emails == (1 if r.doc_id % 9 == 0 else 0)
        assert r.n_phones == (1 if r.doc_id % 11 == 0 else 0)
        assert ("<EMAIL>" in r.redacted) == (r.n_emails > 0)
        assert ("<PHONE>" in r.redacted) == (r.n_phones > 0)


def test_incremental_dedup_excludes_snapshot(spark):
    """Snapshot content (doc_id % 3 == 0, and any other doc with the
    same text) never re-surfaces; survivors are the minimum batch
    doc_id per novel hash and fabricated exact dups collapse onto it."""
    out = {r.keep_doc_id: r.n_in_batch for r in _rows(spark, "dedup_incremental_new_docs")}
    assert out
    # every snapshot doc is absent from the survivors
    assert not any(k % 3 == 0 for k in out if k < DUP_OFFSET)
    # fabricated exact dups (doc_id % 5 == 0, not already in snapshot)
    # collapse onto the original: n_in_batch == 2, survivor below offset
    for k, n in out.items():
        assert k < DUP_OFFSET or n == 1  # a clone survives only if its
        # original was snapshot content (then the clone is also filtered)
    assert all(n <= 2 for n in out.values())


def test_repeated_span_mining_flags_clone_spans(spark):
    """Fabricated near-dup clones share 10-token windows with their
    originals, so mined spans must exist, every span spans >= 2 docs,
    occurrence counts are consistent, and at least one span's earliest
    doc is a %7 original (the clone source)."""
    rows = _rows(spark, "repeated_span_mining")
    assert rows
    assert all(r.n_docs >= 2 for r in rows)
    assert all(r.n_occurrences >= r.n_docs for r in rows)
    assert any(r.first_doc % 7 == 0 and r.first_doc < DUP_OFFSET for r in rows)


def test_new_operators_handle_empty_corpus(spark, tmp_path):
    """An empty documents table (a routine occurrence for a partition of
    a 100 TB corpus) must yield an empty result with the full output
    schema from every round-5 operator — no exceptions, no dropped
    columns."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "empty")
    os.makedirs(d)
    empty = pa.table(
        {
            "doc_id": pa.array([], pa.int64()),
            "text": pa.array([], pa.string()),
            "lang": pa.array([], pa.string()),
            "source": pa.array([], pa.string()),
            "n_chars": pa.array([], pa.int64()),
        }
    )
    pq.write_table(empty, f"{d}/documents.parquet")
    expected_cols = {
        "pii_redaction": ["doc_id", "n_emails", "n_phones", "redacted"],
        "dedup_incremental_new_docs": ["content_hash", "keep_doc_id", "n_in_batch"],
        "token_rarity_score": ["doc_id", "n_tokens", "sum_rarity", "avg_rarity"],
        "repeated_span_mining": ["span_hash", "n_docs", "n_occurrences", "first_doc"],
        "minhash_near_dup": ["doc_a", "doc_b", "n_shared_bands", "from_capped"],
        "bm25_topk_search": ["doc_id", "score_fp", "n_terms_hit"],
        "chunk_documents": ["doc_id", "chunk_id", "n_chunk_tokens", "chunk_text"],
        "inverted_index_postings": ["tok", "df", "posting_head"],
    }
    for name, cols in expected_cols.items():
        df = REGISTRY[name].fn(spark, d)
        assert df.columns == cols, (name, df.columns)
        assert df.count() == 0, name


def test_capped_pair_array_count_formula_sweep(spark):
    """Exhaustive sweep of the pair-count contract over bucket sizes
    2..40 under several caps, in one Spark job per cap: size n <= cap
    emits exactly C(n,2) pairs (full pairwise), n > cap emits exactly
    n-1 anchor-rooted pairs (star), and the anchor is always the
    minimum member."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark import lsh

    sizes = list(range(2, 41))
    df = spark.createDataFrame(
        [(n, list(range(1000 * n, 1000 * n + n))) for n in sizes],
        "n int, ids array<int>",
    ).select("n", F.sort_array("ids").alias("ids"))
    for cap in (1, 3, 7, 39):
        pairs = df.select(
            "n",
            F.explode(
                lsh.capped_pair_array(
                    F.col("ids"),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    cap=cap,
                )
            ).alias("p"),
        )
        got = {
            r.n: (r.cnt, r.min_a, r.n_anchor)
            for r in pairs.groupBy("n")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("p.a").alias("min_a"),
                F.countDistinct(F.when(F.col("p.a") == F.lit(0), 1)).alias("n_anchor"),
            )
            .collect()
        }
        for n in sizes:
            cnt, min_a, _ = got[n]
            expected = n * (n - 1) // 2 if n <= cap else n - 1
            assert cnt == expected, (n, cap, cnt, expected)
            assert min_a == 1000 * n  # pairs never precede the minimum member
        # star shape, one aggregate for the whole sweep: every pair in an
        # over-cap bucket has the bucket anchor (its minimum member) as p.a
        non_star = pairs.filter(
            (F.col("n") > cap) & (F.col("p.a") != F.col("n") * 1000)
        ).count()
        assert non_star == 0, cap


# ---------------------------------------------------------------------------
# retrieval / training-prep additions (round 5): BM25, chunking, postings


def test_chunk_documents_full_coverage_and_overlap(spark):
    """Chunking invariants the row-level oracle can't express: every
    chunk is non-empty, consecutive chunks start exactly one stride
    apart, the final chunk reaches the document's last token (no tail
    drop), and re-joining unique stride-heads reconstructs each doc's
    token count."""
    from crm_etl_pipeline_spark.queries.llmops import CHUNK_S, CHUNK_W

    rows = _rows(spark, "chunk_documents")
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    docs = {
        r.doc_id: len(r.text.split(" "))
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        n = docs[doc_id]
        chunks.sort(key=lambda r: r.chunk_id)
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert 1 <= c.n_chunk_tokens <= CHUNK_W
            assert len(c.chunk_text.split(" ")) == c.n_chunk_tokens
        # last chunk must reach token n: start + len - 1 == n
        last = chunks[-1]
        assert last.chunk_id * CHUNK_S + last.n_chunk_tokens == n
        # every non-final chunk is full-width
        assert all(c.n_chunk_tokens == CHUNK_W for c in chunks[:-1])


def test_bm25_hits_only_and_positive(spark):
    """BM25 returns only documents containing ≥1 query term, scores are
    positive, and the winner beats a pure term-count baseline's zero."""
    from crm_etl_pipeline_spark.queries.llmops import _BM25_TERMS

    rows = _rows(spark, "bm25_topk_search")
    assert 0 < len(rows) <= 10
    scores = [r.score_fp for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r.score_fp > 0 for r in rows)
    assert all(1 <= r.n_terms_hit <= len(_BM25_TERMS) for r in rows)
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    for r in rows:
        toks = set(texts[r.doc_id].split(" "))
        assert toks & set(_BM25_TERMS), f"doc {r.doc_id} has no query term"
        assert len(toks & set(_BM25_TERMS)) == r.n_terms_hit


def test_inverted_index_cap_and_df_exactness(spark):
    """Posting heads never exceed POSTING_CAP entries; df is exact (it
    must equal the head length whenever df <= cap, and the head is
    exactly cap entries when df overflows it); heads are sorted."""
    from crm_etl_pipeline_spark.queries.llmops import POSTING_CAP

    rows = _rows(spark, "inverted_index_postings")
    assert rows
    overflowed = 0
    for r in rows:
        head = [int(x) for x in r.posting_head.split(",")]
        assert head == sorted(head)
        assert len(head) <= POSTING_CAP
        if r.df <= POSTING_CAP:
            assert len(head) == r.df
        else:
            overflowed += 1
            assert len(head) == POSTING_CAP
    assert overflowed > 0, "fixture vocab should overflow at least one term"


def test_chunk_formula_edge_lengths(spark, tmp_path):
    """Chunking at boundary document lengths the fixture never hits:
    1 token, exactly one stride, one window, one window ± 1, and the
    first length that needs a third chunk. For each length n the chunk
    layout must cover token n exactly once per trailing chunk and obey
    1 + ceil(max(0, n-W)/S) chunks."""
    import math

    from crm_etl_pipeline_spark.queries.llmops import CHUNK_S, CHUNK_W
    from crm_etl_pipeline_spark.registry import load_all

    lengths = [1, CHUNK_S - 1, CHUNK_S, CHUNK_W - 1, CHUNK_W, CHUNK_W + 1,
               CHUNK_W + CHUNK_S - 1, CHUNK_W + CHUNK_S, CHUNK_W + CHUNK_S + 1,
               CHUNK_W + 2 * CHUNK_S, 3 * CHUNK_W]
    rows = [(n, " ".join(f"t{i}" for i in range(1, n + 1))) for n in lengths]
    d = str(tmp_path / "edge")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    out = load_all()["chunk_documents"].fn(spark, d).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for n in lengths:
        chunks = sorted(by_doc[n], key=lambda r: r.chunk_id)
        want = 1 + math.ceil(max(0, n - CHUNK_W) / CHUNK_S)
        assert len(chunks) == want, (n, len(chunks), want)
        last = chunks[-1]
        assert last.chunk_id * CHUNK_S + last.n_chunk_tokens == n, n
        assert all(c.n_chunk_tokens == CHUNK_W for c in chunks[:-1]), n
        # token n appears in the final chunk; token 1 only in chunk 0
        assert last.chunk_text.split(" ")[-1] == f"t{n}", n
        assert sum(1 for c in chunks if c.chunk_text.split(" ")[0] == "t1") == 1, n


def test_temperature_sampling_flattens_the_language_mix(spark):
    """The alpha=0.5 re-mix property: upsampling factor
    (n_target / n_docs) is strictly decreasing in corpus size — tail
    languages are over-represented relative to raw frequency and the
    head is down-weighted — while weights partition 1 exactly (exact
    BIGINT fixed-point sum; one double division per language)."""
    import math

    reg = load_all()
    rows = (
        reg["language_temperature_sample"].fn(spark, SF_DIR)
        .select("lang", "n_docs", "weight", "n_target")
        .distinct()
        .collect()
    )
    assert len(rows) >= 3
    by_size = sorted(rows, key=lambda r: r.n_docs)
    factors = [r.n_target / r.n_docs for r in by_size]
    assert all(a >= b for a, b in zip(factors, factors[1:]))  # flattening
    assert factors[0] > factors[-1]  # strictly for the extremes
    assert math.isclose(sum(r.weight for r in rows), 1.0, rel_tol=1e-9)


def test_temperature_sampling_keeps_empty_string_lang(spark, tmp_path):
    """Regression: lang='' is a real language key and must survive the
    quota join. The scalar-attach key was least(length(lang), 1), which
    is 0 for the empty string — the '' stratum (and every doc in it)
    silently vanished from the Spark output while the oracle kept it
    (the dq_audit_orders key-vanish class; round-8 ADVICE item)."""
    rows = [(i, "" if i % 3 == 0 else "en", f"text body {i}") for i in range(60)]
    d = str(tmp_path / "emptylang")
    spark.createDataFrame(rows, "doc_id long, lang string, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    out = load_all()["language_temperature_sample"].fn(spark, d).collect()
    langs = {r.lang for r in out}
    assert "" in langs and "en" in langs
    n_empty = {r.n_docs for r in out if r.lang == ""}
    assert n_empty == {20}


def test_pq_adc_shape_and_quality(spark):
    """PQ/ADC invariants the row oracle cannot express: (a) structure —
    8 probes x 3 ranks, no self-match, adc_dq non-decreasing in rank;
    (b) quality — the compressed-domain scan must pick genuinely
    closer-than-average candidates: for EVERY probe, the mean exact
    squared L2 of its ADC top-3 stays below 0.97x the corpus mean
    (measured 0.947 worst-case here; the fixture corpus is
    near-uniform, so top-3-recall-vs-exact is not a meaningful floor —
    neighbor gaps sit below any m=4 quantizer's cell resolution)."""
    import numpy as np
    import pyarrow.parquet as pq

    rows = _rows(spark, "ann_pq_adc")
    by_q = {}
    for r in rows:
        assert r.cand_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    assert sorted(by_q) == list(range(8))
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3]
        assert all(a.adc_dq <= b.adc_dq for a, b in zip(rs, rs[1:]))

    tbl = pq.read_table(SF_DIR + "/embeddings.parquet").to_pydict()
    vecs = {
        vid: np.asarray(v, dtype=np.float64)
        for vid, v in zip(tbl["vec_id"], tbl["embedding"])
        if v is not None
    }
    for qid, rs in by_q.items():
        q = vecs[qid]
        d2 = {cid: float(((q - v) ** 2).sum()) for cid, v in vecs.items() if cid != qid}
        corpus_mean = sum(d2.values()) / len(d2)
        adc_mean = sum(d2[r.cand_id] for r in rs) / len(rs)
        assert adc_mean < 0.97 * corpus_mean, (qid, adc_mean, corpus_mean)


def test_casefold_simple_mapping_contract(spark):
    """Case-fold contract from the round-8 unicode_text probe, pinned:
    Spark's lower() is Java toLowerCase (SpecialCasing: İ → i +
    combining dot; Final_Sigma: Σ → ς at word end) while DuckDB's is
    the per-codepoint simple mapping — the ONLY two divergent
    codepoints. _casefold pre-translates both, so every registry
    normalization (exact/incremental dedup hashing, BPE token
    counting) produces byte-identical strings in both engines."""
    import duckdb

    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.queries.llmops import _casefold

    nasty = [
        "Istanbul Iı İi Turkish dotless and dotted i",
        "ΟΔΥΣΣΕΥΣ final sigma ΣΣ Σ",
        "MIXED İΣİΣ cluster",
        "plain ascii stays ascii 123",
        "straße ẞ upper sharp s",  # ß / ẞ: simple mapping both engines
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(nasty)], "i int, text string")
    got = {r.i: r.n for r in df.select("i", _casefold(F.col("text")).alias("n")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(nasty):
        want = con.execute("SELECT lower(?)", [t]).fetchone()[0]
        assert got[i] == want, (t, got[i], want)


def test_whitespace_class_contract(spark):
    """Whitespace contract from the round-8 whitespace_storm probe,
    pinned: Java's regex \\s includes vertical tab (\\x0B); RE2's does
    not — so every shared pattern spells the set explicitly
    (_WS_CLASS) instead of using \\s. Vertical tab must collapse like
    a space in the dedup normalization and count as whitespace (not a
    mark token) in the BPE pre-tokenizer, identically in both
    engines; NBSP is agreed NON-whitespace in both."""
    import duckdb

    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.queries.llmops import _BPE_PAT, _WS_CLASS, _casefold

    bodies = [
        "alpha\x0bbeta vertical\ttab",
        "nb\xa0sp\xa0stays",
        "multi   space\f\rrun",
    ]
    df = spark.createDataFrame([(i, b) for i, b in enumerate(bodies)], "i int, text string")
    norm = _casefold(F.trim(F.regexp_replace(F.col("text"), "[" + _WS_CLASS + "]+", " ")))
    cnt = F.size(F.regexp_extract_all(_casefold(F.col("text")), F.lit(_BPE_PAT), 0))
    got = {r.i: (r.n, r.c) for r in df.select("i", norm.alias("n"), cnt.alias("c")).collect()}
    con = duckdb.connect()
    for i, b in enumerate(bodies):
        dn = con.execute(
            "SELECT lower(trim(regexp_replace(?, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))", [b]
        ).fetchone()[0]
        dc = con.execute(
            f"SELECT len(regexp_extract_all(lower(?), '{_BPE_PAT}'))", [b]
        ).fetchone()[0]
        assert got[i] == (dn, dc), (b, got[i], (dn, dc))
    assert got[0][0] == "alpha beta vertical tab"
    assert "\xa0" in got[1][0]  # NBSP is not whitespace in either engine


def test_retrieval_duplicate_ingest_contract(spark, tmp_path):
    """Round-9 dup-identity pin for the retrieval postings family: the
    corpus is taken AS GIVEN (dedup is an explicit upstream operator,
    exact_dedup_documents — retrieval does not second-guess it), so

    - inverted_index_postings is INVARIANT under a byte-identical
      re-ingest: df counts distinct documents and posting heads are
      doc_id sets by construction (the groupBy(tok, doc_id) head
      collapses the copies);
    - bm25_topk_search is COUNT-SENSITIVE: a re-ingested copy doubles
      its term frequencies and counts in N — deterministically, with
      no join explosion (nothing joins back on doc_id).
    Both behaviors are cross-engine (the dup_docs sweep batch runs both
    queries on the duplicated fixture against DuckDB)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    src = "/root/testdata/sf0.001"
    out = tmp_path / "dup"
    out.mkdir()
    for t in ("region nation customer supplier part orders lineitem "
              "events embeddings").split():
        (out / f"{t}.parquet").symlink_to(f"{src}/{t}.parquet")
    docs = pq_mod.read_table(f"{src}/documents.parquet")
    ndup = docs.num_rows // 7 or 1
    pq_mod.write_table(
        pa.concat_tables([docs, docs.slice(0, ndup)]), str(out / "documents.parquet")
    )
    dup_ids = set(docs.column("doc_id").to_pylist()[:ndup])

    inv = REGISTRY["inverted_index_postings"].fn
    clean = sorted(map(tuple, inv(spark, src).collect()))
    duped = sorted(map(tuple, inv(spark, str(out)).collect()))
    assert clean == duped  # identity semantics: re-delivery changes nothing

    bm25 = REGISTRY["bm25_topk_search"].fn
    clean_rows = bm25(spark, src).collect()
    dup_rows = bm25(spark, str(out)).collect()
    # no explosion: still a top-<=10, one row per doc identity
    assert len(dup_rows) <= 10
    assert len({r.doc_id for r in dup_rows}) == len(dup_rows)
    # count-sensitivity: the duplicated corpus shifts the fixed-point
    # scores (tf doubles for re-ingested docs, N counts deliveries) —
    # the ranking is of a different corpus, not a corrupted one
    assert {(r.doc_id, r.score_fp) for r in dup_rows} != {
        (r.doc_id, r.score_fp) for r in clean_rows
    }
    assert dup_ids  # the mutation actually duplicated something


def test_identity_collision_contract(spark, tmp_path):
    """Identity-collision contract (the id_collision_docs sweep batch):
    when the SAME doc_id carries DIFFERENT bytes (two ingest shards
    minting one id), identity-grain pipelines resolve ONE deterministic
    winner per doc_id (lexicographically smallest payload, NULLS FIRST)
    identically in both engines. Without the contract, four pipelines
    split cross-engine: minhash unioned both texts' shingles into one
    signature while the oracle kept two rows; packing's (md5(id), id)
    ordering tied; curation's survivor semi-join resurrected both
    contents; boilerplate merged two documents' lines. Pin: on a
    fixture with collisions injected, pack + boilerplate agree
    bit-for-bit cross-engine and emit exactly one row per doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import compare_query, duck_views, write_fixture

    doc = pq.read_table(f"{SF_DIR}/documents.parquet")
    ids = doc.column("doc_id").to_pylist()
    collided = set()
    for i in range(29, len(ids), 29):
        ids[i] = ids[i - 1]
        collided.add(ids[i])
    assert collided
    doc = doc.set_column(
        doc.column_names.index("doc_id"), "doc_id",
        pa.array(ids, doc.schema.field("doc_id").type),
    )
    out = write_fixture(tmp_path / "collide", documents=doc)
    with duck_views(out) as con:
        for name in ("pack_training_sequences", "boilerplate_line_removal"):
            q = REGISTRY[name]
            rows = compare_query(con, q, q.fn(spark, out))
            # one row per doc_id — the winner rule collapsed the collisions
            got_ids = [r.doc_id for r in rows]
            assert len(got_ids) == len(set(got_ids)), name


def test_ann_recall_selfcheck_floor_and_values(spark):
    """The data-DEPENDENT half of ann_recall_selfcheck's contract (the
    data-independent nprobe-monotone gate is oracle-pinned): on the
    fixture corpus the 1-probe IVF macro recall@3 must beat 5x the
    random-draw baseline 3/(N-1), and the deterministic fixture values
    are pinned so a silent recall regression in the served IVF paths
    is caught even while monotonicity still holds. Runs at sf0.01
    (not this file's sf0.001): with only 20 vectors the random baseline
    3/19 exceeds any cell-pruned recall and the floor is meaningless —
    exactly why the oracle-pinned gate is the monotone one."""
    rows = REGISTRY["ann_recall_selfcheck"].fn(spark, "/root/testdata/sf0.01").collect()
    assert sorted(r.query_id for r in rows) == list(range(8))
    assert all(r.n_exact == 3 for r in rows)
    assert all(r.nprobe_monotone for r in rows)
    n = 200  # sf0.01 embeddings corpus size (all vectors valid)
    random_baseline = 3.0 / (n - 1)
    macro1 = sum(r.recall_nprobe1 for r in rows) / len(rows)
    macro2 = sum(r.recall_nprobe2 for r in rows) / len(rows)
    assert macro1 >= 5 * random_baseline
    assert macro2 >= macro1
    # deterministic fixture pins (measured round 12)
    assert sum(r.n_hits_nprobe1 for r in rows) == 6
    assert sum(r.n_hits_nprobe2 for r in rows) == 11


def _reference_bpe(word_freqs, n_merges):
    """Textbook BPE (Sennrich et al. 2016 get_stats/merge_vocab),
    including overlapping pair statistics and the greedy left-to-right
    non-overlap merge — the semantics bpe_merge_training pins."""
    from collections import Counter

    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for it in range(n_merges):
        stats = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += f
        if not stats:
            break
        (a, b), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
        n_syms = len({s for syms in vocab for s in syms})
        merges.append((it + 1, a, b, cnt, n_syms))
    return merges


def test_bpe_matches_textbook_reference(spark):
    """The full pipeline against an independent pure-Python
    implementation of the published algorithm (not just the DuckDB
    twin, which shares the SQL formulation): same pre-tokenizer, same
    overlapping pair stats, same greedy merge, same tiebreak."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from crm_etl_pipeline_spark.queries.llmops import _WS_CLASS

    texts = pq.read_table(SF_DIR + "/documents.parquet").to_pydict()["text"]
    wf = Counter()
    for t in texts:
        if t is None:
            continue
        for w in re.split("[" + _WS_CLASS + "]+", t):  # the query's pinned class
            if re.fullmatch(r"[a-z0-9]{2,16}", w):
                wf[w] += 1
    expected = _reference_bpe(wf, 3)
    got = sorted(tuple(r) for r in _rows(spark, "bpe_merge_training"))
    assert got == expected


def test_bpe_greedy_overlap_runs(spark, tmp_path):
    """The gaps-and-islands merge must reproduce the classic greedy
    left-to-right scan on overlapping candidate runs: 'aaaa' under
    merge (a,a) -> ('aa','aa'), 'aaa' -> ('aa','a') — never ('a','aa')
    and never a triple merge."""
    rows = [(1, "en", "aaaa aaaa aaa zz")]
    d = str(tmp_path / "bpe")
    spark.createDataFrame(rows, "doc_id long, lang string, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    out = sorted(tuple(r) for r in REGISTRY["bpe_merge_training"].fn(spark, d).collect())
    # iter 1: pairs (a,a) count = 3+3+2=... per word 'aaaa' has 3
    # overlapping (a,a), 'aaa' has 2, both words appear once except
    # 'aaaa' twice -> 3+3+2 = 8; (z,z) count 1. best = (a,a) 8.
    # after merge: 'aa','aa' / 'aa','aa' / 'aa','a' / 'zz' unchanged
    # -> syms {aa, a, z} = 3.
    assert out[0] == (1, "a", "a", 8, 3)
    # iter 2: pairs now (aa,aa) 2, (aa,a) 1, (z,z) 1 -> best (aa,aa) 2
    # -> words 'aaaa'->('aaaa'), 'aaa'->('aa','a'), syms {aaaa, aa, a, z}
    assert out[1] == (2, "aa", "aa", 2, 4)
    expected = _reference_bpe({"aaaa": 2, "aaa": 1, "zz": 1}, 3)
    assert out == expected


def test_bigram_lm_matches_reference_scoring(spark):
    """bigram_lm_quality_filter vs an independent pure-Python
    implementation of the add-one-smoothed bigram scoring (same
    pre-tokenizer, same 1e6 fixed-point integer division), including
    the below-corpus-mean flag."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from crm_etl_pipeline_spark.queries.llmops import _WS_CLASS

    tbl = pq.read_table(SF_DIR + "/documents.parquet").to_pydict()
    doc_toks = []
    for did, t in zip(tbl["doc_id"], tbl["text"]):
        if t is None:
            continue
        ws = [
            w
            for w in re.split("[" + _WS_CLASS + "]+", t)
            if re.fullmatch(r"[a-z0-9]{2,16}", w)
        ]
        doc_toks.append((did, ws))
    bi, uni, vocab = Counter(), Counter(), set()
    for _, ws in doc_toks:
        vocab.update(ws)
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] += 1
            uni[a] += 1
    V = len(vocab)
    per_doc = {}
    for did, ws in doc_toks:
        pqs = [((bi[(a, b)] + 1) * 1_000_000) // (uni[a] + V) for a, b in zip(ws, ws[1:])]
        if pqs:
            n, s = per_doc.get(did, (0, 0))
            per_doc[did] = (n + len(pqs), s + sum(pqs))
    corpus_mean = sum(s for _, s in per_doc.values()) / sum(n for n, _ in per_doc.values())
    expected = sorted(
        (did, n, s / n, (s / n) < corpus_mean) for did, (n, s) in per_doc.items()
    )
    got = sorted(tuple(r) for r in _rows(spark, "bigram_lm_quality_filter"))
    assert got == expected


def _reference_bpe_encode(word, merges):
    """Replay learned merges in order on one word — the published
    encode step (Sennrich et al. 2016 §3), greedy left-to-right per
    merge rule, same as _reference_bpe's merge_vocab pass."""
    syms = list(word)
    for _, a, b, _, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_matches_textbook_reference(spark):
    """bpe_encode vs an independent pure-Python train-then-encode:
    train merges with _reference_bpe on the full-corpus word
    frequencies, replay them per word, aggregate per doc."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from crm_etl_pipeline_spark.queries.llmops import _WS_CLASS

    tbl = pq.read_table(SF_DIR + "/documents.parquet").to_pydict()
    wf = Counter()
    doc_toks = {}
    for did, t in zip(tbl["doc_id"], tbl["text"]):
        if t is None:
            continue
        ws = [
            w
            for w in re.split("[" + _WS_CLASS + "]+", t)
            if re.fullmatch(r"[a-z0-9]{2,16}", w)
        ]
        wf.update(ws)
        if ws:
            doc_toks.setdefault(did, []).extend(ws)
    merges = _reference_bpe(wf, 3)
    enc = {w: _reference_bpe_encode(w, merges) for w in wf}
    expected = sorted(
        (
            did,
            len(ws),
            sum(len(w) for w in ws),
            sum(len(enc[w]) for w in ws),
            sum(sum(1 for s in enc[w] if len(s) > 1) for w in ws),
        )
        for did, ws in doc_toks.items()
    )
    got = sorted(tuple(r) for r in _rows(spark, "bpe_encode"))
    assert got == expected
    # the encode must COMPRESS: merges strictly reduce symbol counts
    # wherever they apply, and the corpus has applied merges
    assert sum(r.n_subwords for r in _rows(spark, "bpe_encode")) < sum(
        r.n_chars for r in _rows(spark, "bpe_encode")
    )


def test_bpe_encode_tiny_corpus_by_hand(spark, tmp_path):
    """Hand-checkable corpus. Word freqs: aaaa x3, aaa x1, zz x3.
    Learned merges: (a,a) cnt 3*3+2*1=11, then (aa,aa) cnt 3 (beats
    the (z,z) tie on the a,b tiebreak), then (z,z) cnt 3 (beats
    (aa,a) cnt 1). Encodings: aaaa->[aaaa], aaa->[aa,a], zz->[zz]."""
    rows = [(1, "en", "aaaa aaaa aaa zz"), (2, "en", "aaaa zz zz")]
    d = str(tmp_path / "bpe_enc")
    spark.createDataFrame(rows, "doc_id long, lang string, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    out = {r.doc_id: r for r in REGISTRY["bpe_encode"].fn(spark, d).collect()}
    # doc1 = aaaa aaaa aaa zz: subwords 1+1+2+1, merged syms 1+1+1+1
    assert tuple(out[1]) == (1, 4, 13, 5, 4)
    # doc2 = aaaa zz zz: subwords 1+1+1, merged syms 1+1+1
    assert tuple(out[2]) == (2, 3, 8, 3, 3)
    # cross-check the hand math against the pure-Python reference
    wf = {"aaaa": 3, "aaa": 1, "zz": 3}
    merges = _reference_bpe(wf, 3)
    assert [(a, b) for _, a, b, _, _ in merges] == [("a", "a"), ("aa", "aa"), ("z", "z")]
    assert _reference_bpe_encode("aaa", merges) == ["aa", "a"]


def test_pack_bpe_matches_reference_layout(spark):
    """pack_bpe_sequences vs a pure-Python recompute: per-doc subword
    sizes from the reference encode, md5 lay-down order per lang, 2048
    cuts — the full train->encode->pack loop independently."""
    import hashlib
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from crm_etl_pipeline_spark.queries.llmops import _WS_CLASS

    tbl = pq.read_table(SF_DIR + "/documents.parquet").to_pydict()
    wf = Counter()
    docs = []
    for did, lang, t in zip(tbl["doc_id"], tbl["lang"], tbl["text"]):
        if t is None:
            continue
        ws = [
            w
            for w in re.split("[" + _WS_CLASS + "]+", t)
            if re.fullmatch(r"[a-z0-9]{2,16}", w)
        ]
        wf.update(ws)
        if ws:
            docs.append((did, lang, ws))
    merges = _reference_bpe(wf, 3)
    enc = {w: _reference_bpe_encode(w, merges) for w in wf}
    sized = [
        (did, lang, sum(len(enc[w]) for w in ws),
         hashlib.md5(str(did).encode()).hexdigest())
        for did, lang, ws in docs
    ]
    expected = []
    for lang in sorted({lg for _, lg, _, _ in sized}):
        cum = 0
        for did, lg, n, _h in sorted(
            (s for s in sized if s[1] == lang), key=lambda s: (s[3], s[0])
        ):
            start = cum
            cum += n
            expected.append(
                (did, lg, n, start // 2048, (cum - 1) // 2048, start % 2048)
            )
    got = sorted(tuple(r) for r in _rows(spark, "pack_bpe_sequences"))
    assert got == sorted(expected)


def test_bpe_subword_vocab_matches_reference(spark):
    """bpe_subword_vocab vs the pure-Python train+encode: per-subword
    corpus frequency (word freq x positions) and containing-word
    count over the encoded vocabulary."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from crm_etl_pipeline_spark.queries.llmops import _WS_CLASS

    texts = pq.read_table(SF_DIR + "/documents.parquet").to_pydict()["text"]
    wf = Counter()
    for t in texts:
        if t is None:
            continue
        for w in re.split("[" + _WS_CLASS + "]+", t):
            if re.fullmatch(r"[a-z0-9]{2,16}", w):
                wf[w] += 1
    merges = _reference_bpe(wf, 3)
    freq, nwords = Counter(), Counter()
    for w, f in wf.items():
        enc = _reference_bpe_encode(w, merges)
        for s in enc:
            freq[s] += f
        for s in set(enc):
            nwords[s] += 1
    expected = sorted((s, freq[s], nwords[s], len(s) > 1) for s in freq)
    got = sorted(tuple(r) for r in _rows(spark, "bpe_subword_vocab"))
    assert got == expected
    # the merged units learned by the trainer appear in the vocabulary
    assert any(m for *_rest, m in got)


# --- semantic_dedup (round 14) ---------------------------------------


def test_kmeans_core_sql_rendering_pinned():
    """_kmeans_core_sql("emb") must render embedding_kmeans's oracle
    byte-identical to the certified form — the round-14
    parameterization (for semantic_dedup's clone-augmented corpus) is a
    pure extraction, not a semantic change. Re-pinned in round 15 when
    the family-wide ragged-dimension guard (`len(embedding) = 64`)
    joined every embedding oracle scan (the r10 pin was
    ed8ebb80376e7976f253bbfa91295935; the guard is the ONLY text
    delta, verified by diff at the re-pin)."""
    import hashlib

    assert (
        hashlib.md5(REGISTRY["embedding_kmeans"].oracle.encode()).hexdigest()
        == "016ee3bd4d8ed1639ef2abfdfdad553c"
    )


def test_semantic_dedup_invariants(spark):
    """SemDeDup keep/drop contract: (1) coverage — exactly one verdict
    per corpus identity (deduped base + fabricated clones), never a
    silent drop of a row; (2) each cell's minimum vec_id is kept with
    no earlier-member similarity (it HAS no earlier member); (3) the
    verdict is exactly the threshold rule; (4) every fabricated clone
    that shares its original's learned cell is dropped (cosine ≈ 0.999
    to an earlier member), and on this fixture that is most of them —
    the drop path is genuinely exercised."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.queries.embeddings_q import (
        _SEM_THRESHOLD,
        _emb,
        _one_per_vec,
    )

    rows = _rows(spark, "semantic_dedup")
    base_ids = {
        r.vec_id
        for r in _one_per_vec(
            _emb(spark, SF_DIR)
            .filter(F.col("vec_id").isNotNull())
            .select("vec_id", F.col("embedding").alias("vd"))
        )
        .select("vec_id")
        .collect()
    }
    clone_ids = {v + 100000 for v in base_ids if v % 6 == 0}
    assert {r.vec_id for r in rows} == base_ids | clone_ids
    assert len(rows) == len(base_ids) + len(clone_ids)

    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for members in by_cell.values():
        anchor = min(members, key=lambda r: r.vec_id)
        assert anchor.kept and anchor.best_earlier_sim is None

    for r in rows:
        assert r.kept == (
            r.best_earlier_sim is None or r.best_earlier_sim < _SEM_THRESHOLD
        )

    cell_of = {r.vec_id: r.cell for r in rows}
    kept_of = {r.vec_id: r.kept for r in rows}
    shared = [c for c in clone_ids if cell_of[c] == cell_of[c - 100000]]
    assert len(shared) >= len(clone_ids) // 2, "perturbation flipped most cells"
    # a clone in its original's cell has an earlier ≈0.999 neighbor
    assert all(not kept_of[c] for c in shared)


def test_hybrid_fusion_lexical_arm_is_bm25(spark):
    """The fusion's lexical arm is bm25_topk_search's scoring tree
    VERBATIM (the docstring's pin): every fused row carrying a
    lex_rank <= 10 must name exactly the document bm25_topk_search
    ranks at that position (bm25's output is ordered by
    (score_fp DESC, doc_id) and limited to 10, so position = rank)."""
    bm25_docs = [r.doc_id for r in _rows(spark, "bm25_topk_search")]
    fused = _rows(spark, "hybrid_rank_fusion")
    checked = 0
    for r in fused:
        if r.lex_rank is not None and r.lex_rank <= len(bm25_docs):
            assert bm25_docs[r.lex_rank - 1] == r.doc_id, (
                f"lex_rank {r.lex_rank}: fusion says {r.doc_id}, "
                f"bm25 says {bm25_docs[r.lex_rank - 1]}"
            )
            checked += 1
    assert checked >= 1, "fused top-10 never met the bm25 top-10 — vacuous pin"


def test_hybrid_fusion_rrf_arithmetic_and_order(spark):
    """rrf_fp is exactly Σ floor(1e9/(60+rank)) over the arms present
    (integer arithmetic — recomputable in pure Python), rows arrive in
    (rrf_fp DESC, doc_id) order, both arms contribute somewhere in the
    top-10, and a row with NO arm cannot exist."""
    rows = _rows(spark, "hybrid_rank_fusion")
    assert rows, "fixture corpus must produce a fused top-10"
    for r in rows:
        expect = 0
        if r.lex_rank is not None:
            expect += 10**9 // (60 + r.lex_rank)
        if r.dense_rank is not None:
            expect += 10**9 // (60 + r.dense_rank)
        assert r.lex_rank is not None or r.dense_rank is not None
        assert r.rrf_fp == expect, (r.doc_id, r.lex_rank, r.dense_rank, r.rrf_fp)
    keys = [(-r.rrf_fp, r.doc_id) for r in rows]
    assert keys == sorted(keys), "output must be (rrf_fp DESC, doc_id) ordered"
    assert any(r.lex_rank is not None for r in rows)
    assert any(r.dense_rank is not None for r in rows)


def test_hybrid_ctes_rendering_pinned():
    """The round-15 extraction of hybrid_rank_fusion's oracle CTE chain
    into _HYBRID_CTES (so rerank_fused_topk can embed the SAME two-arm
    fusion chain) must render the registered oracle byte-identical to
    the certified pre-extraction form (md5 taken at the extraction,
    AFTER the round-15 ragged-dimension guard joined the emb_ok scan —
    the _kmeans_core_sql / _CHUNKS_SQL precedent)."""
    import hashlib

    assert (
        hashlib.md5(REGISTRY["hybrid_rank_fusion"].oracle.encode()).hexdigest()
        == "cf32a3ab39283ca1d95a09f7c2222698"
    )


def test_chunk_bm25_ctes_rendering_pinned():
    """The round-15 extraction of chunk_bm25_retrieval's oracle CTE
    chain into _CHUNK_BM25_CTES (so chunk_hybrid_retrieval can embed
    the SAME chunk-grain scoring chain) must render the registered
    oracle byte-identical to the r14-certified form."""
    import hashlib

    assert (
        hashlib.md5(REGISTRY["chunk_bm25_retrieval"].oracle.encode()).hexdigest()
        == "73aad9c88a9a57aef7eb09be62d35185"
    )


def test_hybrid_lexical_arm_null_id_stats(spark, tmp_path):
    """The round-14 ADVICE pin: hybrid's lexical arm computes its
    corpus stats (n_docs/avgdl) over the NON-NULL-doc_id population
    (the fusion's id-keyed join excludes NULL ids up front), while
    bm25_topk_search computes stats over ALL documents. The intended
    relationship on a NULL-id corpus: the arm equals bm25 run on the
    NULL-STRIPPED corpus — not bm25 on the full corpus. Build both
    fixtures from the same documents table and assert the arm's top-10
    matches the stripped-corpus bm25 exactly, value for value."""
    import shutil

    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.io import table
    from crm_etl_pipeline_spark.queries.llmops import _hybrid_arm_frames

    src = SF_DIR
    docs = table(spark, src, "documents")
    with_nulls = docs.withColumn(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.lit(None)).otherwise(F.col("doc_id")),
    )
    stripped = with_nulls.filter(F.col("doc_id").isNotNull())
    for name, frame in (("nullids", with_nulls), ("stripped", stripped)):
        d = tmp_path / name
        d.mkdir()
        frame.coalesce(1).write.parquet(str(d / "documents.parquet"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            shutil.copy(f"{src}/{t}.parquet", d / f"{t}.parquet")

    arm, _dense = _hybrid_arm_frames(spark, str(tmp_path / "nullids"))
    arm_top = (
        arm.orderBy(F.col("score_fp").desc(), "doc_id").limit(10).collect()
    )
    bm25_top = (
        REGISTRY["bm25_topk_search"].fn(spark, str(tmp_path / "stripped")).collect()
    )
    assert arm_top, "NULL-id corpus must still score lexical candidates"
    assert [(r.doc_id, r.score_fp) for r in arm_top] == [
        (r.doc_id, r.score_fp) for r in bm25_top
    ], "arm-vs-stripped-bm25 drift: the stats-population contract broke"


def test_doc_quality_sql_rendering_pinned():
    """The round-15 extraction of doc_quality_score's oracle into
    _DOC_QUALITY_SQL (so rerank_fused_topk can embed the certified
    quality gate as a subquery) must render the registered oracle
    byte-identical to the certified inline form."""
    import hashlib

    assert (
        hashlib.md5(REGISTRY["doc_quality_score"].oracle.encode()).hexdigest()
        == "51a490335244526559d4c202fb4eae55"
    )


def test_rerank_arithmetic_and_candidate_set(spark):
    """rerank_fused_topk contract: (1) its candidate set IS
    hybrid_rank_fusion's fused top-10 (same ids, same provenance
    columns — the composition pin); (2) rerank_fp is exactly
    quality_mult * (6*lex_frac + 4*dense_frac), recomputable in pure
    Python from the output row; (3) final_rank is the dense
    (rerank_fp DESC, doc_id) order with no gaps; (4) fracs live in
    [0, 1e4] and quality_mult in {1, 2, 4}; (5) on this corpus the
    normalization is non-degenerate — some candidate hits the full
    quantum on each feature and some sits strictly inside."""
    fused = {r.doc_id: (r.lex_rank, r.dense_rank, r.rrf_fp)
             for r in _rows(spark, "hybrid_rank_fusion")}
    rows = _rows(spark, "rerank_fused_topk")
    assert {r.doc_id for r in rows} == set(fused), "candidate set drifted"
    for r in rows:
        assert (r.lex_rank, r.dense_rank, r.rrf_fp) == fused[r.doc_id]
        assert r.rerank_fp == r.quality_mult * (
            6 * r.lex_frac_fp + 4 * r.dense_frac_fp
        )
        assert 0 <= r.lex_frac_fp <= 10_000 and 0 <= r.dense_frac_fp <= 10_000
        assert r.quality_mult in (1, 2, 4)
    ranks = sorted(r.final_rank for r in rows)
    assert ranks == list(range(1, len(rows) + 1)), "final_rank must be dense"
    order = sorted(rows, key=lambda r: (-r.rerank_fp, r.doc_id))
    assert [r.doc_id for r in sorted(rows, key=lambda r: r.final_rank)] == [
        r.doc_id for r in order
    ]
    assert any(r.lex_frac_fp == 10_000 for r in rows)
    assert any(r.dense_frac_fp == 10_000 for r in rows)
    assert any(0 < r.lex_frac_fp < 10_000 for r in rows)


def test_chunk_hybrid_bm25_arm_pinned(spark):
    """chunk_hybrid_retrieval's lexical arm is chunk_bm25_retrieval's
    scoring chain VERBATIM (the _CHUNK_BM25_CTES embed): on the
    NULL-free fixture every fused row carrying bm25_rank <= 10 must
    name exactly the (doc_id, chunk_id) chunk_bm25_retrieval ranks at
    that position."""
    bm = [(r.doc_id, r.chunk_id) for r in _rows(spark, "chunk_bm25_retrieval")]
    rows = _rows(spark, "chunk_hybrid_retrieval")
    checked = 0
    for r in rows:
        if r.bm25_rank is not None and r.bm25_rank <= len(bm):
            assert bm[r.bm25_rank - 1] == (r.doc_id, r.chunk_id), (
                f"bm25_rank {r.bm25_rank}: fusion says "
                f"{(r.doc_id, r.chunk_id)}, chunk_bm25 says {bm[r.bm25_rank - 1]}"
            )
            checked += 1
    assert checked >= 1, "fused top-10 never met the chunk-bm25 top-10 — vacuous pin"


def test_chunk_hybrid_rrf_arithmetic_and_order(spark):
    """rrf_fp is exactly Σ floor(1e9/(60+rank)) over the arms present,
    rows arrive in (rrf_fp DESC, doc_id, chunk_id) order, both arms
    contribute somewhere in the top-10, and a row with NO arm cannot
    exist."""
    rows = _rows(spark, "chunk_hybrid_retrieval")
    assert rows, "fixture corpus must produce a fused top-10"
    for r in rows:
        expect = 0
        if r.bm25_rank is not None:
            expect += 10**9 // (60 + r.bm25_rank)
        if r.dense_rank is not None:
            expect += 10**9 // (60 + r.dense_rank)
        assert r.bm25_rank is not None or r.dense_rank is not None
        assert r.rrf_fp == expect
    keys = [(-r.rrf_fp, r.doc_id, r.chunk_id) for r in rows]
    assert keys == sorted(keys)
    assert any(r.bm25_rank is not None for r in rows)
    assert any(r.dense_rank is not None for r in rows)


def test_dsir_resample_draw_count_and_target_skew(spark):
    """DSIR contract: (1) the systematic walk draws EXACTLY K=50 total
    hits whenever any weight is positive (SUM(n_hits) == K by the
    prefix-sum construction); (2) every selected doc exists in the
    corpus with non-NULL text; (3) the selection skews toward the
    target slice — the mean importance weight of selected 'en'
    documents exceeds the mean weight of selected non-'en' documents
    (the likelihood ratio is what the stage exists to compute)."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.io import table
    from crm_etl_pipeline_spark.queries.llmops import _DSIR_K

    rows = _rows(spark, "dsir_importance_resample")
    assert sum(r.n_hits for r in rows) == _DSIR_K
    assert all(r.n_hits >= 1 and r.mean_lr_fp >= 0 and r.n_feat >= 1 for r in rows)

    docs = {
        r.doc_id: r.lang
        for r in table(spark, SF_DIR, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang")
        .collect()
    }
    assert all(r.doc_id in docs for r in rows)
    en = [r.mean_lr_fp for r in rows if docs[r.doc_id] == "en"]
    other = [r.mean_lr_fp for r in rows if docs[r.doc_id] != "en"]
    assert en, "the target slice must appear in its own importance sample"
    if other:
        assert sum(en) / len(en) > sum(other) / len(other)


def test_components_ctes_rendering_pinned():
    """The round-14 extraction of dedup_components' oracle CTE chain
    into _COMPONENTS_CTES (so dedup_cluster_keep_best can embed the
    SAME chain) must render the registered oracle byte-identical to the
    r11-certified inline form — the _kmeans_core_sql precedent."""
    import hashlib

    assert (
        hashlib.md5(REGISTRY["dedup_components"].oracle.encode()).hexdigest()
        == "a999ddacc27637aa1414cb023aa3445a"
    )


def test_keep_best_selects_longest_member(spark):
    """Keep-best contract: (1) one winner per component, and the winner
    IS a member of that component; (2) the winner maximizes
    (n_tokens, n_distinct, -doc_id) over its members; (3) the rule
    genuinely diverges from dedup_components' keep-smallest-id on this
    corpus — a fabricated near-clone (+1 token) beats its base, so at
    least one winner differs from its component id."""
    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.queries.llmops import _near_corpus

    comp = {(r.doc_id): r.component for r in _rows(spark, "dedup_components")}
    stats = {
        r.doc_id: (r.n_tokens, r.n_distinct)
        for r in _near_corpus(spark, SF_DIR)
        .select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_tokens"),
            F.size(F.array_distinct(F.split("text", " "))).alias("n_distinct"),
        )
        .collect()
    }
    winners = _rows(spark, "dedup_cluster_keep_best")
    by_comp: dict = {}
    for d, c in comp.items():
        by_comp.setdefault(c, []).append(d)
    assert {r.component for r in winners} == set(by_comp)
    for r in winners:
        members = by_comp[r.component]
        assert r.keep_doc_id in members
        assert r.n_members == len(members)
        best = min(members, key=lambda d: (-stats[d][0], -stats[d][1], d))
        assert r.keep_doc_id == best
        assert r.kept_n_tokens == stats[r.keep_doc_id][0]
    assert any(r.keep_doc_id != r.component for r in winners), (
        "keep-longest never diverged from keep-smallest-id — vacuous rule"
    )


def test_chunks_sql_rendering_pinned():
    """The round-14 extraction of chunk_documents' oracle into
    _CHUNKS_SQL (so chunk_bm25_retrieval can embed the SAME chunker)
    must render the registered oracle byte-identical to the certified
    inline form — the _COMPONENTS_CTES precedent."""
    import hashlib

    assert (
        hashlib.md5(REGISTRY["chunk_documents"].oracle.encode()).hexdigest()
        == "7f207f675a25279a900120feb17f5588"
    )


def test_chunk_retrieval_provenance_and_scoring(spark):
    """Chunk-grain BM25 contract: (1) every retrieved (doc_id, chunk_id)
    exists in chunk_documents' output and its hit terms genuinely occur
    in that chunk's text; (2) scores are positive with n_terms_hit >= 1
    and rows arrive in (score_fp DESC, doc_id, chunk_id) order; (3) the
    retrieval is genuinely passage-level — some retrieved doc
    contributes a chunk_id > 0 OR two chunks of one doc both rank
    (chunk grain differs from doc grain on this corpus)."""
    from crm_etl_pipeline_spark.queries.llmops import _BM25_TERMS

    chunks = {
        (r.doc_id, r.chunk_id): r.chunk_text
        for r in _rows(spark, "chunk_documents")
    }
    rows = _rows(spark, "chunk_bm25_retrieval")
    assert rows
    for r in rows:
        assert (r.doc_id, r.chunk_id) in chunks
        toks = set(chunks[(r.doc_id, r.chunk_id)].split(" "))
        assert r.n_terms_hit >= 1 and r.score_fp > 0
        assert len(toks & set(_BM25_TERMS)) == r.n_terms_hit
    keys = [(-r.score_fp, r.doc_id, r.chunk_id) for r in rows]
    assert keys == sorted(keys)
    docs = [r.doc_id for r in rows]
    assert any(r.chunk_id > 0 for r in rows) or len(set(docs)) < len(docs)


def test_chunk_retrieval_scoring_matches_bm25_tree(spark, tmp_path):
    """The cross-query pin the chunk oracle's comment promises: on a
    corpus where every document fits in ONE chunk (<= CHUNK_W tokens),
    chunk grain degenerates to doc grain — n_chunks == n_docs, chunk
    dl == doc dl — so chunk_bm25_retrieval's scores must equal
    bm25_topk_search's EXACTLY, value for value. This guards the third
    copy of the BM25 expression tree against drift (the triplication
    is deliberate: re-rendering the certified bm25/hybrid bytes around
    a shared helper was judged riskier than pinned duplication)."""
    import shutil

    from pyspark.sql import functions as F

    from crm_etl_pipeline_spark.io import table
    from crm_etl_pipeline_spark.queries.llmops import CHUNK_W

    src = SF_DIR
    out = tmp_path / "one_chunk_corpus"
    out.mkdir()
    for t in ("documents",):
        trunc = table(spark, src, t).select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(F.split("text", " "), 1, CHUNK_W)
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        trunc.coalesce(1).write.parquet(str(out / f"{t}.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copy(f"{src}/{t}.parquet", out / f"{t}.parquet")

    doc_rows = {
        r.doc_id: (r.score_fp, r.n_terms_hit)
        for r in REGISTRY["bm25_topk_search"].fn(spark, str(out)).collect()
    }
    chunk_rows = REGISTRY["chunk_bm25_retrieval"].fn(spark, str(out)).collect()
    assert doc_rows, "truncated corpus must still match BM25 terms"
    assert len(chunk_rows) == len(doc_rows)
    for r in chunk_rows:
        assert r.chunk_id == 0, "every doc must be a single chunk"
        assert (r.score_fp, r.n_terms_hit) == doc_rows[r.doc_id], (
            f"chunk tree diverged from bm25 tree at doc {r.doc_id}"
        )


def test_bpe_train_empty_merge_noop(spark):
    """Round-15 ADVICE guard: an iteration that finds ZERO pairs (every
    word already collapsed to one symbol) must keep the symbol table —
    the oracle's tok{k} CTE LEFT JOINs merge{k} — not empty it (the old
    inner-join attach dropped every row). One 2-char word: merge 1
    fuses it to a single symbol, merges 2-3 find no pairs."""
    from crm_etl_pipeline_spark.queries.llmops import _bpe_train

    words = spark.createDataFrame([("ab", 5)], "word string, f long")
    tok_arr, outs = _bpe_train(words)
    rows = tok_arr.collect()
    assert [(r.word, r.f, r.syms) for r in rows] == [("ab", 5, ["ab"])]
    it1 = outs[0].collect()
    assert len(it1) == 1 and (it1[0].merge_a, it1[0].merge_b) == ("a", "b")
    assert outs[1].count() == 0 and outs[2].count() == 0
