"""Property / recall tests for the LLM-pipeline operators, beyond the
registry's value-hash oracles: MinHash-LSH is checked against the exact
n-gram-Jaccard ground truth, hyperplane-LSH and IVF kNN against brute
force, connected components against a driver-side union-find, and the
multimodal mapInPandas stage against its declared schema/shape contract.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, started_jobs


@pytest.fixture(scope="module")
def docs(spark):
    from randas_spark.queries import t

    return t(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    from randas_spark.queries import t

    return t(spark, SF_DIR, "embeddings").cache()


# -- MinHash-LSH vs exact Jaccard ------------------------------------------


def test_minhash_lsh_recall_and_precision(docs):
    from randas_spark.operators.dedup import (
        minhash_lsh_pairs_portable,
        ngram_jaccard_pairs,
    )

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.6).collect()
    }
    mh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs_portable(
            docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.6
        ).collect()
    }
    assert exact, "fixture must contain near-duplicate pairs for this test to bite"
    # precision 1.0: every LSH-surfaced pair is verified with exact Jaccard
    # on the same shingle sets, so it must appear in the ground truth with
    # the same score.
    for pair, j in mh.items():
        assert pair in exact
        assert abs(j - exact[pair]) < 1e-9
    # recall: bands=16/rows=4 → P(candidate) ≈ 1-(1-j^4)^16 ≥ 0.97 at j=0.6
    recall = len(mh) / len(exact)
    assert recall >= 0.8, f"MinHash recall {recall:.2f} below bound (exact={len(exact)})"


def test_ppjoin_equals_plain_jaccard_join(docs):
    """Prefix filtering must be LOSSLESS: ppjoin_pairs (candidates only
    from rarest-first prefixes, then verified) returns exactly the
    pairs+scores of the full shingle self-join at the same threshold —
    recall 1.0 and precision 1.0, not an approximation. Checked at two
    thresholds to exercise different prefix lengths."""
    from randas_spark.operators.dedup import ngram_jaccard_pairs, ppjoin_pairs

    for th in (0.3, 0.6):
        exact = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", k=5, threshold=th
            ).collect()
        }
        pp = {
            (r.id_a, r.id_b): r.jaccard
            for r in ppjoin_pairs(docs, "doc_id", "text", k=5, threshold=th).collect()
        }
        assert exact, "fixture must contain qualifying pairs"
        assert set(pp) == set(exact)
        for pair, j in pp.items():
            assert abs(j - exact[pair]) < 1e-12


@pytest.fixture(scope="module")
def boilerplate_corpus(spark):
    """40 byte-identical boilerplate docs (every shingle / band bucket is
    a 40-doc hot key) + a 3-doc cluster of genuinely unique near-dups."""
    boiler = "all rights reserved terms of service apply contact the webmaster for details"
    uniq = "the quick brown fox jumps over the lazy dog near the riverbank at dawn"
    rows = [(i, boiler) for i in range(40)]
    rows += [(100, uniq), (101, uniq + " today"), (102, uniq + " quietly")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_bucket_cap_bounds_candidates(boilerplate_corpus):
    from randas_spark.operators.dedup import minhash_lsh_pairs_portable

    kw = dict(num_perm=64, bands=16, threshold=0.6)
    uncapped = minhash_lsh_pairs_portable(
        boilerplate_corpus, "doc_id", "text", **kw
    ).count()
    capped_df = minhash_lsh_pairs_portable(
        boilerplate_corpus, "doc_id", "text", max_bucket_size=10, **kw
    )
    capped = capped_df.collect()
    # uncapped: the 40 identical docs alone contribute C(40,2)=780 pairs
    assert uncapped >= 780
    # capped: every boilerplate band bucket has 40 > 10 members → dropped;
    # the unique 3-doc cluster's buckets (size ≤ 3) survive and still pair.
    capped_ids = {i for r in capped for i in (r.id_a, r.id_b)}
    assert len(capped) <= 3
    assert capped_ids <= {100, 101, 102}
    assert (100, 101) in {(r.id_a, r.id_b) for r in capped}


def test_malformed_shingle_arrays_fail_fast_without_a_job(spark, docs):
    """Every operator accepting a caller-supplied shingle_arrays frame
    raises ValueError when it lacks doc_id, when its sh column is not
    array<string>, or when sh's metadata lacks the operator's k or
    records another — from the schema alone, before any Spark job."""
    from randas_spark.operators.dedup import (
        minhash_lsh_pairs_portable,
        ngram_jaccard_pairs,
        portable_banded_signatures,
    )

    no_k = spark.createDataFrame([(1, ["a b c d e"])], "doc_id long, sh array<string>")
    bad = [
        (spark.createDataFrame([(1, ["a b c"])], "id long, sh array<string>"), "doc_id"),
        (spark.createDataFrame([(1, [7])], "doc_id long, sh array<bigint>"), "array<bigint>"),
        (spark.createDataFrame([(1, "a b c")], "doc_id long, text string"), "no sh column"),
        (no_k, "no k metadata"),
        (no_k.select("doc_id", F.col("sh").alias("sh", metadata={"k": 3})), "got k=3"),
    ]
    with started_jobs(spark, "shingle-arrays-check") as jobs:
        for fn in (ngram_jaccard_pairs, portable_banded_signatures, minhash_lsh_pairs_portable):
            for frame, msg in bad:
                with pytest.raises(ValueError, match=msg):
                    fn(docs, "doc_id", "text", shingle_arrays=frame)
    assert jobs == []


def test_overlap_surfaces_each_legs_failure():
    """overlap() waits for both legs and never drops a failure: a
    failing side leg raises although the main leg succeeded, a failing
    main leg raises only after the side leg finished, and when both fail
    the first failure is raised with the other attached as a note."""
    import threading
    import time

    from randas_spark.operators.dedup import overlap

    assert overlap(lambda: 1, lambda: 2) == (1, 2)

    def fail(exc):
        def leg():
            raise exc
        return leg

    with pytest.raises(RuntimeError, match="side leg"):
        overlap(fail(RuntimeError("side leg")), lambda: 2)

    side_done = threading.Event()

    def slow_side():
        time.sleep(0.2)
        side_done.set()
        return 1

    with pytest.raises(RuntimeError, match="main leg"):
        overlap(slow_side, fail(RuntimeError("main leg")))
    assert side_done.is_set()

    side_failed = threading.Event()

    def side_first():
        side_failed.set()
        raise ValueError("side first")

    def main_second():
        side_failed.wait(5)
        time.sleep(0.1)
        raise RuntimeError("main second")

    with pytest.raises(ValueError, match="side first") as info:
        overlap(side_first, main_second)
    assert any("main second" in n for n in info.value.__notes__)


def test_jaccard_shingle_cap_bounds_candidates(boilerplate_corpus, docs):
    from randas_spark.operators.dedup import ngram_jaccard_pairs

    capped = ngram_jaccard_pairs(
        boilerplate_corpus, "doc_id", "text", k=5, threshold=0.6,
        max_shingle_freq=10,
    ).collect()
    # boilerplate shingles (freq 40 > 10) never reach the self-join, so the
    # 780 hot-key pairs are gone; the unique cluster's shingles (freq ≤ 3)
    # survive and its near-dup pairs still surface.
    assert len(capped) <= 3
    assert {i for r in capped for i in (r.id_a, r.id_b)} <= {100, 101, 102}
    assert (100, 101) in {(r.id_a, r.id_b) for r in capped}
    # on a corpus with no shingle above the cap, capped ≡ uncapped exactly
    base = ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.6)
    hi = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=5, threshold=0.6, max_shingle_freq=10**9
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, hi.collect()))


def test_exact_dedup_keeps_min_id(spark):
    from randas_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "Same  TEXT"), (9, "unique")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(df, "doc_id", "text").collect())
    # fingerprint normalizes case/whitespace → {1,2,3} collapse to min id 1
    assert kept == [1, 9]


def test_feature_hashing_sign_cancellation_and_shape(spark):
    """Identical docs hash identically; a repeated token adds ±1 per
    occurrence in ONE bucket (so 'w w' has the same nnz as 'w' with
    double the magnitude); nnz never exceeds the token count; l2² equals
    the sum of squared cell values parsed back from the feats string."""
    from randas_spark.operators.retrieval import feature_hashing

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "word word"), (4, "word")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in feature_hashing(df, "doc_id", "text", 64).collect()}
    assert out[1].feats == out[2].feats and out[1].nnz == out[2].nnz
    assert out[3].nnz == out[4].nnz == 1
    b3, v3 = out[3].feats.split(":")
    b4, v4 = out[4].feats.split(":")
    assert b3 == b4 and int(v3) == 2 * int(v4)
    for r in out.values():
        cells = [int(c.split(":")[1]) for c in r.feats.split(",")]
        assert abs(r.l2 ** 2 - sum(v * v for v in cells)) < 1e-6


def test_segment_dedup_strips_shared_boilerplate(spark):
    """Three docs sharing a 4-token boilerplate prefix (seg_tokens=4):
    only the smallest doc keeps it; unique tails always survive; a doc
    whose EVERY segment is a repeat of earlier material keeps nothing
    (NULL kept_md5); partial trailing segments hash independently."""
    from randas_spark.operators.dedup import segment_dedup

    bp = "one two three four"
    df = spark.createDataFrame(
        [
            (1, bp + " alpha beta gamma delta"),
            (2, bp + " epsilon zeta eta theta"),
            (3, bp),  # pure boilerplate: everything removed
            (4, "iota kappa"),  # short partial segment, unique
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in segment_dedup(df, "doc_id", "text", 4).collect()}
    assert (out[1].n_segs, out[1].n_kept) == (2, 2)  # first occurrence keeps all
    assert (out[2].n_segs, out[2].n_kept) == (2, 1)  # boilerplate stripped
    assert (out[3].n_segs, out[3].n_kept) == (1, 0)
    assert out[3].kept_md5 is None
    assert (out[4].n_segs, out[4].n_kept) == (1, 1)
    assert out[1].kept_md5 != out[2].kept_md5  # different surviving text


def test_knn_graph_covers_every_vector_no_self_edges(spark):
    """Self-join kNN graph: every vector is a query, k<=5 neighbors
    each, never itself, ranks contiguous from 1."""
    from randas_spark.queries.llm import llm_knn_graph

    rows = llm_knn_graph(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        assert r.qid != r.cid
        by_q.setdefault(r.qid, []).append(r.rk)
    n_vecs = 500
    assert len(by_q) == n_vecs
    assert all(sorted(rks) == list(range(1, len(rks) + 1)) and len(rks) <= 5
               for rks in by_q.values())


def test_containment_is_directed_and_caps_bound(spark):
    """A short doc quoted inside a long one: containment short→long ≈ 1,
    long→short well below threshold, and Jaccard misses the pair entirely
    — the asymmetric case the operator exists for. Hot-shingle cap only
    removes pairs, never adds."""
    from randas_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " " + " ".join(f"filler{i} word{i} pad{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated text about nothing here")],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, "doc_id", "text", k=5, threshold=0.8).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.8
    assert (2, 1) not in pairs  # directed: long is NOT contained in short
    jac = ngram_jaccard_pairs(df, "doc_id", "text", k=5, threshold=0.6).collect()
    assert not jac  # symmetric Jaccard misses the quotation pair
    capped = {
        (r.id_a, r.id_b)
        for r in containment_pairs(
            df, "doc_id", "text", k=5, threshold=0.8, max_shingle_freq=1
        ).collect()
    }
    assert capped <= set(pairs)


def test_winnowing_density_and_shared_run_guarantee(spark, docs):
    """Winnowing invariants (Schleimer et al.): (1) per-doc fingerprint
    count is at most the number of selection windows and at least
    n_windows/w (each window picks one, a value can repeat at most w
    consecutive windows... lower-bounded loosely); (2) two docs sharing
    a planted run of >= w+k-1 tokens MUST share a fingerprint."""
    from pyspark.sql import functions as F

    from randas_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_shared_pairs,
    )

    k, w = 5, 4
    fps = winnowing_fingerprints(docs, "doc_id", "text", k=k, w=w)
    toks = docs.select(
        "doc_id", F.size(F.split(F.lower(F.col("text")), " ")).alias("n")
    )
    counts = {r.doc_id: r.c for r in fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c")).collect()}
    for r in toks.collect():
        n_windows = r.n - (k - 1) - (w - 1)
        if n_windows >= 1:
            assert 1 <= counts[r.doc_id] <= n_windows

    run = "zeta yota kappa lambda mu nu xi omicron pi rho"  # 10 tokens >= w+k-1
    planted = spark.createDataFrame(
        [
            (1, "alpha beta " + run + " gamma delta epsilon one two"),
            (2, "completely different prefix words here " + run + " and a different tail"),
            (3, "no shared content in this document at all whatsoever okay"),
        ],
        "doc_id long, text string",
    )
    pfps = winnowing_fingerprints(planted, "doc_id", "text", k=k, w=w)
    pairs = {
        (r.id_a, r.id_b)
        for r in winnowing_shared_pairs(pfps, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_incremental_near_dedup_consistent_with_full_corpus_pairs(spark, docs):
    """Batch-vs-ledger near-dup labels must agree exactly with the
    cross-split subset of the full-corpus portable MinHash pairs: same
    candidates (same band scheme), same verification, min-ledger-id
    match."""
    from pyspark.sql import functions as F

    from randas_spark.operators.dedup import (
        incremental_near_dedup,
        minhash_lsh_pairs_portable,
    )

    split = 400
    full = minhash_lsh_pairs_portable(docs, "doc_id", "text").collect()
    # cross pairs always have id_a (< split) in the ledger: ledger ids
    # are all below every batch id, and pairs are emitted id_a < id_b
    expect = {}
    for r in full:
        if r.id_a < split <= r.id_b:
            cur = expect.get(r.id_b)
            if cur is None or r.id_a < cur[0]:
                expect[r.id_b] = (r.id_a, r.jaccard)

    out = incremental_near_dedup(
        docs.filter(F.col("doc_id") >= split),
        docs.filter(F.col("doc_id") < split),
        "doc_id",
        "text",
    ).collect()
    assert len(out) == docs.filter(F.col("doc_id") >= split).count()
    for r in out:
        if r.status == "near_dup_vs_ledger":
            assert expect[r.doc_id][0] == r.match_id
            assert abs(expect[r.doc_id][1] - r.jaccard) < 1e-12
        else:
            assert r.doc_id not in expect and r.match_id is None


# -- SimHash ---------------------------------------------------------------


def test_simhash_deterministic_and_symmetric(spark, docs):
    """Identical text → identical portable fingerprint (bit-exactness
    against a hashlib recomputation is
    test_simhash_portable_matches_python_and_is_complete)."""
    from randas_spark.operators.dedup import simhash_portable_fps

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "entirely different words here")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.fp for r in simhash_portable_fps(df, "doc_id", "text", 32).collect()}
    assert rows[1] == rows[2]
    assert rows[3] != rows[1]


def test_simhash_banding_is_exhaustive(spark):
    """Pigeonhole guarantee: a pair at hamming <= max_hamming ALWAYS shares
    a band, so the banded join must find a hand-built near-duplicate."""
    from randas_spark.operators.dedup import simhash_portable_fps, simhash_portable_pairs

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
        "lima mike november oscar papa quebec romeo sierra tango uniform victor "
        "whiskey xray yankee zulu one two three four five six seven eight nine "
        "ten eleven twelve thirteen fourteen"
    )
    near = base + " appendix"  # measured hamming 1 at 32 bits — within the radius
    df = spark.createDataFrame([(1, base), (2, near)], "doc_id long, text string")
    fp = {r.doc_id: r.fp for r in simhash_portable_fps(df, "doc_id", "text", 32).collect()}
    dist = bin(fp[1] ^ fp[2]).count("1")
    assert 1 <= dist <= 3
    pairs = simhash_portable_pairs(
        df, "doc_id", "text", n_bits=32, bands=4, max_hamming=3
    ).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(1, 2, dist)]


def test_embedding_near_pairs_bucketed_subset_of_exact(emb):
    """The n_planes>0 scale path must return a subset of the exact
    all-pairs result with identical cosine scores (same-bucket pairs
    only), and the equi-join plan must key on the bucket."""
    from randas_spark.operators.dedup import embedding_near_pairs

    exact = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_pairs(emb, "vec_id", "embedding", threshold=0.3).collect()
    }
    bucketed = embedding_near_pairs(
        emb, "vec_id", "embedding", threshold=0.3, n_planes=2, dim=64
    )
    got = bucketed.collect()
    assert got, "2 planes / 4 buckets must surface some same-bucket pairs"
    assert len(got) <= len(exact)
    for r in got:
        assert abs(exact[(r.id_a, r.id_b)] - r.cos) < 1e-9
    assert "bucket" in bucketed._jdf.queryExecution().optimizedPlan().toString()


def test_embedding_near_pairs_planes_require_dim(emb):
    from randas_spark.operators.dedup import embedding_near_pairs

    with pytest.raises(ValueError):
        embedding_near_pairs(emb, "vec_id", "embedding", n_planes=2)


def test_adaptive_plane_count_engine_parity_and_mask_equivalence(emb):
    """The adaptive plane formula must agree with its DuckDB oracle twin
    (CEIL(LOG2(N/target)) clamped) for every feasible corpus size, and
    the oracle's realization — the full 16-plane bucket masked to the
    low P bits — must equal Spark's direct P-plane projection (plane p
    contributes bit 1<<p, so % 2^P IS the P-plane bucket)."""
    import duckdb

    from randas_spark.operators.similarity import (
        adaptive_plane_count,
        project_buckets,
    )

    ns = list(range(1, 3000, 17)) + [2**k for k in range(1, 25)] + [
        500, 2000, 20000, 50000, 200000, 2_000_000
    ]
    got = duckdb.sql(
        "SELECT n, LEAST(16, GREATEST(4, CAST(CEIL(LOG2(CAST(n AS DOUBLE)"
        " / 256.0)) AS INT))) FROM (SELECT unnest($ns) AS n)",
        params={"ns": ns},
    ).fetchall()
    for n, p_sql in got:
        assert adaptive_plane_count(n) == p_sql, n
    # clamps
    assert adaptive_plane_count(1) == 4
    assert adaptive_plane_count(10**9) == 16

    for p in (4, 7, 10):
        both = emb.select(
            (project_buckets("embedding", 64, 16) % (2**p)).alias("m"),
            project_buckets("embedding", 64, p).alias("d"),
        )
        assert both.filter(F.col("m") != F.col("d")).count() == 0


def test_embedding_near_pairs_bucket_cap_deterministic_and_accounted(emb):
    """The hot-bucket cap must (a) keep exactly the cap smallest ids per
    bucket — so capped pairs are the pair set of the kept subset, (b)
    fill the drop-accounting stats with the capped+dropped=uncapped
    identity, and (c) be a no-op (bit-identical pairs, zero drops) when
    no bucket exceeds the cap."""
    from randas_spark.operators.dedup import embedding_near_pairs
    from randas_spark.operators.similarity import project_buckets

    # cap=2 with 2 planes (4 buckets) is guaranteed to bind on fixtures
    stats: dict = {}
    capped = embedding_near_pairs(
        emb, "vec_id", "embedding", threshold=-1.0, n_planes=2, dim=64,
        bucket_cap=2, stats=stats,
    ).collect()
    assert stats["n_kept"] + stats["n_dropped_rows"] == stats["n_vectors"]
    assert stats["n_capped_buckets"] > 0 and stats["n_dropped_rows"] > 0
    # expected kept set: 2 smallest vec_ids per bucket, computed directly
    rows = emb.select(
        "vec_id", project_buckets("embedding", 64, 2).alias("b")
    ).collect()
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r.b, []).append(r.vec_id)
    kept = {i for ids in by_bucket.values() for i in sorted(ids)[:2]}
    assert stats["n_kept"] == len(kept)
    got_ids = {r.id_a for r in capped} | {r.id_b for r in capped}
    assert got_ids <= kept
    expect_pairs = {
        (a, b)
        for ids in by_bucket.values()
        for a in sorted(ids)[:2]
        for b in sorted(ids)[:2]
        if a < b
    }
    assert {(r.id_a, r.id_b) for r in capped} == expect_pairs

    # non-binding cap: identical to uncapped, zero drops
    stats2: dict = {}
    uncapped = embedding_near_pairs(
        emb, "vec_id", "embedding", threshold=-1.0, n_planes=2, dim=64
    ).collect()
    nocap = embedding_near_pairs(
        emb, "vec_id", "embedding", threshold=-1.0, n_planes=2, dim=64,
        bucket_cap=10**6, stats=stats2,
    ).collect()
    assert stats2["n_dropped_rows"] == 0 and stats2["n_capped_buckets"] == 0
    assert {(r.id_a, r.id_b) for r in nocap} == {
        (r.id_a, r.id_b) for r in uncapped
    }


# -- kNN: LSH vs brute force ----------------------------------------------


def test_knn_lsh_subset_of_bruteforce_scores(emb):
    """Every (qid,cid) the LSH path returns must carry the same cosine the
    exact path computes, and per-query results are ranked top-k."""
    from randas_spark.operators.similarity import knn_bruteforce, knn_lsh

    queries = emb.filter(F.col("vec_id") < 5)
    exact = knn_bruteforce(queries, emb, "vec_id", "vec_id", "embedding", top_k=10)
    approx = knn_lsh(
        queries, emb, "vec_id", "vec_id", "embedding", dim=64, top_k=10, n_planes=4
    )
    exact_all = knn_bruteforce(
        queries, emb, "vec_id", "vec_id", "embedding", top_k=10**9
    )
    truth = {(r.qid, r.cid): r.cos for r in exact_all.collect()}
    got = approx.collect()
    assert got, "LSH must return candidates on the fixture"
    for r in got:
        assert abs(truth[(r.qid, r.cid)] - r.cos) < 1e-9
        assert r.rk <= 10
    # recall vs exact top-10 (4 planes → 16 buckets over near-orthogonal
    # synthetic vectors: recall is modest by design; bound it > 0)
    top = {(r.qid, r.cid) for r in exact.collect()}
    hit = sum(1 for r in got if (r.qid, r.cid) in top)
    assert hit / len(top) > 0.05


def test_unigram_viterbi_exact_and_segmentation_reconstructs(spark):
    """Unigram-LM pins: (1) the integer Viterbi picks the provably
    cheapest segmentation on a crafted cost table, with the documented
    tie-break (cost, fewer pieces, longer final piece); (2) every
    corpus word's segmentation concatenates back to the word and uses
    only vocab pieces; (3) the learned freqs account for every word
    occurrence (sum over pieces of freq == sum over words of
    c * n_pieces)."""
    from randas_spark.operators.unigram import (
        _viterbi,
        unigram_learn,
        unigram_segment,
    )

    # crafted: "abab" with costs making ab+ab (20) beat a+b+a+b (24)
    cost = {"a": 6, "b": 6, "ab": 10, "aba": 25, "abab": 100}
    assert _viterbi("abab", cost, 4) == ["ab", "ab"]
    # tie on total cost: {'ab','ab'} vs {'a','bab'}? craft exact tie and
    # check the (n_pieces, longer-last) order: "aa" with a=5, aa=10 ties
    # 10 == 10 -> fewer pieces wins
    assert _viterbi("aa", {"a": 5, "aa": 10}, 4) == ["aa"]
    # OOV character (ADVICE r7): a descriptive error instead of a bare
    # "min() arg is an empty sequence" executor death
    import pytest

    with pytest.raises(ValueError, match="out-of-vocabulary"):
        _viterbi("axb", {"a": 5, "b": 5}, 4)

    rows = [(i, txt) for i, txt in enumerate(
        ["the quick brown fox", "the lazy dog", "quick quick fox"] * 5
    )]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    learned = {r.piece: (r.freq, r.cost_micro) for r in
               unigram_learn(df, "text").collect()}
    segs = unigram_segment(df, "text").collect()
    for r in segs:
        pieces = r.seg.split("|")
        assert "".join(pieces) == r.w
        assert len(pieces) == r.n_pieces
        assert all(p in learned for p in pieces)
    # conservation: learn's freqs are the E-step recount of round 2;
    # re-checked structurally: every freq non-negative, singles present
    assert all(f >= 0 for f, _ in learned.values())
    chars = {ch for _, txt in rows for ch in txt.replace(" ", "")}
    assert chars <= set(learned)


def test_pca_power_matches_numpy_eigvector(spark):
    """The distributed exact-integer PCA must agree with numpy's dense
    eigendecomposition of the SAME quantized, centered matrix: the power
    iteration's v aligns with the top eigenvector (|cos| -> 1 given a
    spread spectrum) and the explained ratio equals lambda_1/trace. Built
    on a synthetic corpus with a deliberately dominant direction so 12
    rounds converge far past the tolerance."""
    import numpy as np

    from randas_spark.operators.pca import pca_project, pca_topk

    rng = np.random.RandomState(7)
    d, n = 16, 400
    base = rng.randn(d); base /= np.linalg.norm(base)
    x = (rng.randn(n, 1) * 3.0) @ base[None, :] + rng.randn(n, d) * 0.3
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {r.dim_idx: (r.loading, r.explained_ratio) for r in
           pca_topk(df, "embedding", dim=d, k=1).collect()}
    v = np.array([out[i + 1][0] for i in range(d)])
    ratio = out[1][1]

    # numpy ground truth on the same quantization (float32 parquet-less
    # path: Spark casts to float; quantize the float32 rendering)
    q = np.floor(x.astype(np.float32).astype(np.float64) * 10_000 + 0.5)
    qc = q - q.mean(axis=0)
    cov = qc.T @ qc  # proportional to the op's M = n*S - s s^T (factor n)
    w_np, v_np = np.linalg.eigh(cov)
    top = v_np[:, -1]
    assert abs(abs(float(np.dot(v, top))) - 1.0) < 1e-9
    assert abs(ratio - float(w_np[-1] / w_np.sum())) < 1e-9
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-12  # unit loadings

    # projection parity: pc1 scores equal n * (qc @ v) up to the shared
    # factor (op projects n*q_j - s_j = n * centered component)
    proj = {r.vec_id: r.pc1 for r in
            pca_project(df, "vec_id", "embedding", dim=d).collect()}
    want = n * (qc @ v)
    got = np.array([proj[i] for i in range(n)])
    assert np.allclose(got, want, rtol=1e-12, atol=1e-6)

    # deflation: PC2 aligns with numpy's second eigenvector and is
    # orthogonal to PC1 (a second dominant direction is planted so the
    # deflated iteration converges decisively)
    rng2 = np.random.RandomState(11)
    b2 = rng2.randn(d); b2 -= b2 @ base * base; b2 /= np.linalg.norm(b2)
    x2 = x + (rng2.randn(n, 1) * 1.5) @ b2[None, :]
    df2 = spark.createDataFrame(
        [(i, [float(v_) for v_ in x2[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    rows2 = pca_topk(df2, "embedding", dim=d, k=2).collect()
    vs = {c: np.array([r.loading for r in sorted(
        (r for r in rows2 if r.component == c), key=lambda r: r.dim_idx)])
        for c in (1, 2)}
    q2 = np.floor(x2.astype(np.float32).astype(np.float64) * 10_000 + 0.5)
    qc2 = q2 - q2.mean(axis=0)
    w2, ev2 = np.linalg.eigh(qc2.T @ qc2)
    assert abs(abs(float(vs[1] @ ev2[:, -1])) - 1.0) < 1e-6
    assert abs(abs(float(vs[2] @ ev2[:, -2])) - 1.0) < 1e-6
    assert abs(float(vs[1] @ vs[2])) < 1e-6  # orthogonal components

    # 2-D projection: pc2 scores are n * (qc2 @ v2), the same centered
    # fold as pc1 on the deflated component
    proj2 = {r.vec_id: r.pc2 for r in
             pca_project(df2, "vec_id", "embedding", dim=d, k=2).collect()}
    got2 = np.array([proj2[i] for i in range(n)])
    assert np.allclose(got2, n * (qc2 @ vs[2]), rtol=1e-12, atol=1e-6)

    # top-k generalization: k=3's third component is orthogonal to both
    k3 = pca_topk(df2, "embedding", dim=d, k=3).collect()
    v3 = np.array([r.loading for r in sorted(
        (r for r in k3 if r.component == 3), key=lambda r: r.dim_idx)])
    assert abs(float(v3 @ vs[1])) < 1e-5 and abs(float(v3 @ vs[2])) < 1e-5
    assert abs(float(np.linalg.norm(v3)) - 1.0) < 1e-9


def test_pca_guards_fail_loudly(spark):
    """ADVICE r7: (1) empty input raises a named error, not a KeyError;
    (2) a zero-variance corpus raises instead of dividing by a zero norm;
    (3) the projection budget pre-flight rejects n*|q| bounds that would
    wrap int64 (Spark wraps silently with ANSI off; DuckDB errors — the
    silent-divergence class); (4) pca_topk and pca_project validate k."""
    import pytest

    from randas_spark.operators.pca import (
        _check_projection_budget,
        pca_project,
        pca_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        pca_topk(empty, "embedding", dim=4, k=1)

    const = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="zero-variance"):
        pca_project(const, "vec_id", "embedding", dim=4)

    # driver-side budget math on crafted moments: n * isqrt(S_jj) + |s_j|
    # over the 9e18 line must raise (pure-python check, no Spark job)
    with pytest.raises(ValueError, match="projection budget exceeded"):
        _check_projection_budget(10**6, [0], [[(10**13) ** 2]])
    _check_projection_budget(10**3, [10**6], [[(10**6) ** 2]])  # fine

    with pytest.raises(ValueError, match="1 <= k <= dim"):
        pca_topk(const, "embedding", dim=4, k=5)
    with pytest.raises(ValueError, match="1 <= k <= dim"):
        pca_project(const, "vec_id", "embedding", dim=4, k=0)


def test_cosine_matches_numpy(spark):
    import numpy as np

    from randas_spark.functions.vectors import cosine

    a = [0.1, -0.3, 0.5, 0.7]
    b = [0.4, 0.2, -0.1, 0.9]
    df = spark.createDataFrame([(a, b)], "va array<double>, vb array<double>")
    got = df.select(cosine(F.col("va"), F.col("vb")).alias("c")).first().c
    want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(got - want) < 1e-12


# -- multimodal plumbing ---------------------------------------------------


def test_multimodal_feature_contract(docs):
    from randas_spark.operators.multimodal import attach_fake_payload, extract_features

    n_docs = docs.count()
    out = extract_features(attach_fake_payload(docs, "doc_id", "text"), fake=True).cache()
    assert out.count() == n_docs  # one feature row per payload
    assert out.columns == ["doc_id", "modality", "n_bytes", "checksum", "feature"]
    row = out.first()
    assert row.modality == "image"
    assert len(row.feature) == 8
    assert all(0.0 <= v <= 1.0 for v in row.feature)


def test_multimodal_resize_contract(docs):
    """Resize stage: 1:1 rows, metadata rewritten to target dims, payload
    budget proportional to the target size, deterministic."""
    from randas_spark.operators.multimodal import attach_fake_payload, resize_images

    src = attach_fake_payload(docs.limit(20), "doc_id", "text")
    out = resize_images(src, width=32, height=32, fake=True).cache()
    assert out.count() == 20
    rows = out.collect()
    for r in rows:
        assert r.meta.width == 32 and r.meta.height == 32
        assert r.meta.n_bytes == len(r.payload) == (32 * 32) // 64
    again = {r.doc_id: bytes(r.payload) for r in resize_images(src, 32, 32, fake=True).collect()}
    assert {r.doc_id: bytes(r.payload) for r in rows} == again


def test_multimodal_frame_sampling_expands_rows(docs):
    """Frame sampler: row-expanding map bounded by max_frames, frame
    bytes slice the source payload in order."""
    from pyspark.sql import functions as F

    from randas_spark.operators.multimodal import attach_fake_payload, sample_frames

    src = attach_fake_payload(docs.limit(10), "doc_id", "text")
    out = sample_frames(src, frame_bytes=64, max_frames=4, fake=True).cache()
    per_doc = {r.doc_id: r.n for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_doc) == {r.doc_id for r in src.select("doc_id").collect()}
    assert all(1 <= n <= 4 for n in per_doc.values())
    payloads = {r.doc_id: bytes(r.payload) for r in src.collect()}
    for r in out.collect():
        src_bytes = payloads[r.doc_id]
        start = r.frame_idx * 64
        assert bytes(r.frame) == src_bytes[start : start + 64]


def test_multimodal_resize_and_frames_honest_boundary_without_fake(docs):
    """r13: resize and frame sampling are REAL for decodable formats
    (raster kernel / animated GIF), so the fake=False gate now fires
    in-kernel only for payloads past the codec boundary — here raw text
    bytes, which are neither a decodable image nor a GIF animation."""
    from randas_spark.operators.multimodal import (
        attach_fake_payload,
        resize_images,
        sample_frames,
    )

    src = attach_fake_payload(docs.limit(1), "doc_id", "text")
    with pytest.raises(Exception, match="video frame sampling requires"):
        # kernel raises on executors → surfaces as a Py4J/Python exception
        sample_frames(src, fake=False).collect()
    with pytest.raises(Exception):
        resize_images(src, 8, 8, fake=False).collect()


def test_multimodal_decode_real_for_png_stubbed_otherwise():
    from randas_spark.operators.multimodal import decode_image
    from randas_spark.operators.png import encode_png

    # formats with no stdlib codec (WebP) still require a library →
    # stub gate intact (JPEG now decodes for real via imagefmt.py, so a
    # malformed JPEG-magic stream is a ValueError, not a stub hit)
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 webp-ish", fake=False)
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish", fake=False)
    # deterministic fake: same payload → same feature
    assert decode_image(b"abc", fake=True) == decode_image(b"abc", fake=True)
    # PNG payloads decode FOR REAL (no fake flag needed): a solid-gray
    # 2x2 RGB image has mean 0.5 (127.5/255), std 0, min=max
    png = encode_png(bytes([127, 128] * 6), 2, 2, 3)
    feat = decode_image(png, fake=False)
    assert feat[0] == 2.0 and feat[1] == 2.0 and feat[2] == 3.0
    assert abs(feat[3] - 127.5 / 255.0) < 1e-12
    assert feat[5] == 127 / 255.0 and feat[6] == 128 / 255.0


def test_sniff_image_dims_jpeg_png_gif_and_garbage():
    """Header-only dimension sniffing (VERDICT r6 item 8): JPEG SOF0 and
    progressive SOF2 parse without decode, the C4/C8/CC non-frame markers
    are skipped (jpeg_header_bytes plants a DHT segment before the SOF),
    PNG reads IHDR, GIF reads the screen descriptor, and
    truncated/garbage payloads return None instead of raising."""
    from randas_spark.operators.multimodal import jpeg_header_bytes, sniff_image_dims
    from randas_spark.operators.png import encode_png

    _jpeg_header = jpeg_header_bytes
    assert sniff_image_dims(_jpeg_header(640, 480)) == ("image/jpeg", 640, 480)
    assert sniff_image_dims(_jpeg_header(31, 7, sof=0xC2)) == ("image/jpeg", 31, 7)
    png = encode_png(bytes(5 * 3 * 3), 5, 3, 3)
    assert sniff_image_dims(png) == ("image/png", 5, 3)
    gif = b"GIF89a" + (12).to_bytes(2, "little") + (34).to_bytes(2, "little") + b"\x00\x00\x00"
    assert sniff_image_dims(gif) == ("image/gif", 12, 34)
    # WebP (r12): all three first-chunk layouts, spec fixtures by hand
    vp8 = (
        b"RIFF" + (30).to_bytes(4, "little") + b"WEBP" + b"VP8 "
        + (10).to_bytes(4, "little") + b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + (320).to_bytes(2, "little") + (240).to_bytes(2, "little")
    )
    assert sniff_image_dims(vp8) == ("image/webp", 320, 240)
    vp8l = (
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBP" + b"VP8L"
        + (9).to_bytes(4, "little") + b"\x2f"
        + ((99) | (49 << 14)).to_bytes(4, "little")  # 100x50 minus-one
    )
    assert sniff_image_dims(vp8l) == ("image/webp", 100, 50)
    vp8x = (
        b"RIFF" + (26).to_bytes(4, "little") + b"WEBP" + b"VP8X"
        + (10).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (1919).to_bytes(3, "little") + (1079).to_bytes(3, "little")
    )
    assert sniff_image_dims(vp8x) == ("image/webp", 1920, 1080)
    # bad VP8 sync / truncated RIFF: None, no raise
    assert sniff_image_dims(vp8[:22]) is None
    assert sniff_image_dims(vp8.replace(b"\x9d\x01\x2a", b"\x00\x00\x00")) is None
    # truncation mid-chain, bare SOI, and non-image bytes: None, no raise
    assert sniff_image_dims(_jpeg_header(640, 480)[:6]) is None
    assert sniff_image_dims(b"\xff\xd8") is None
    assert sniff_image_dims(b"not an image at all") is None
    assert sniff_image_dims(b"") is None


def test_probe_image_meta_stage(docs):
    """The mapInPandas probe classifies real PNG payloads and leaves
    unknown payloads as null rows (corpus scans must not die on
    garbage)."""
    from pyspark.sql import Row

    from randas_spark.operators.multimodal import attach_png_payload, probe_image_meta

    src = attach_png_payload(docs.limit(3), "doc_id", "text", width=8, height=8)
    spark = src.sparkSession
    junk_meta = Row(mime="application/octet-stream", n_bytes=23, width=0, height=0)
    junk = spark.createDataFrame(
        [Row(doc_id=10**6, payload=b"definitely not an image", meta=junk_meta)],
        src.schema,
    )
    out = {r.doc_id: r for r in probe_image_meta(src.unionByName(junk)).collect()}
    assert len(out) == 4
    for doc_id, r in out.items():
        if doc_id == 10**6:
            assert r.mime is None and r.width is None and r.height is None
            assert r.n_bytes == len(b"definitely not an image")
        else:
            assert (r.mime, r.width, r.height) == ("image/png", 8, 8)


def test_multimodal_features_query_real_decode(spark):
    """The registered llm_multimodal_features query must produce, for a
    known document, exactly the feature that a driver-side encode→decode
    of the same text yields — proving the executors ran the real codec."""
    import hashlib

    from randas_spark.queries import queries
    from randas_spark.operators.png import decode_png, encode_png, pixel_features
    from randas_spark.queries import t as _t

    out = queries()["llm_multimodal_features"](spark, SF_DIR)
    row = out.filter(F.col("doc_id") == 0).collect()[0]
    text = _t(spark, SF_DIR, "documents").filter(F.col("doc_id") == 0).collect()[0].text
    seed = hashlib.md5(text.encode()).digest()
    pixels = (seed * (8 * 8 * 3 // 16 + 1))[: 8 * 8 * 3]
    expected = pixel_features(*decode_png(encode_png(pixels, 8, 8, 3)))

    def fr6(x: float) -> float:  # query applies fround(·, 6) to the stats
        import math

        return math.floor(x * 10**6 + 0.5) / 10**6

    got = [row.f_width, row.f_height, row.f_channels,
           row.f_mean, row.f_std, row.f_min, row.f_max, row.f_c0]
    assert got == expected[:3] + [fr6(v) for v in expected[3:]]
    assert row.modality == "image"


def _lev(a: str, b: str) -> int:
    """Reference Wagner-Fischer DP (row-rolling)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_levenshtein_near_pairs_blocked_and_exact(spark, docs):
    """Every pair respects the block predicates and its distance matches a
    driver-side DP; id_a < id_b canonical orientation."""
    from randas_spark.operators.dedup import levenshtein_near_pairs

    out = levenshtein_near_pairs(
        docs, "doc_id", "text", ["source", "lang"],
        max_len_diff=5, max_distance=250, len_col="n_chars",
    ).collect()
    rows = {r.doc_id: r for r in docs.collect()}
    assert out  # non-trivial on the fixture
    for r in out:
        a, b = rows[r.id_a], rows[r.id_b]
        assert r.id_a < r.id_b
        assert (a.source, a.lang) == (b.source, b.lang)
        assert abs(a.n_chars - b.n_chars) <= 5
        assert r.distance == _lev(a.text, b.text) <= 250


def test_inverted_index_postings_consistent(spark, docs):
    from randas_spark.operators.retrieval import inverted_index

    idx = inverted_index(docs, "doc_id", "text").collect()
    assert idx
    texts = {r.doc_id: set(r.text.lower().split(" ")) for r in docs.collect()}
    for r in idx:
        assert r.df == len(r.postings)
        assert r.postings == sorted(r.postings)
        assert all(r.term in texts[d] for d in r.postings)
    # max_df_frac drops the most common terms
    capped = inverted_index(docs, "doc_id", "text", max_df_frac=0.5)
    n_docs = docs.count()
    assert all(r.df <= n_docs * 0.5 for r in capped.collect())


def test_bm25_matches_reference_formula(spark, docs):
    import math

    from randas_spark.operators.retrieval import bm25_topk

    terms, k1, b = ["spark", "join"], 1.2, 0.75
    got = {r.doc_id: r.bm25 for r in bm25_topk(docs, "doc_id", "text", terms, k1, b, 5).collect()}
    rows = [(r.doc_id, r.text.lower().split(" ")) for r in docs.collect()]
    n = len(rows)
    avgdl = sum(len(t) for _, t in rows) / n
    df = {t: sum(1 for _, toks in rows if t in toks) for t in terms}
    scores = {}
    for doc_id, toks in rows:
        s = 0.0
        for term in terms:
            tf = toks.count(term)
            if tf:
                idf = math.log(1 + (n - df[term] + 0.5) / (df[term] + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if s:
            scores[doc_id] = s
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert set(got) == {d for d, _ in top}
    for d, s in top:
        assert got[d] == pytest.approx(s, abs=1e-6)


def test_bm25_oracle_matches_spark_on_irregular_whitespace(spark):
    """Runs of spaces and leading/trailing spaces split into '' tokens;
    bm25_topk drops them before dl/avgdl, and llm_bm25_topk's oracle
    must drop them too — the registry corpus has none, so only this
    fixture can tell the two apart."""
    import duckdb

    from randas_spark.operators.retrieval import bm25_topk
    from randas_spark.queries import REGISTRY, load_all

    rows = [
        (1, "spark  join   window"),
        (2, " spark join"),
        (3, "window join  "),
        (4, "  the spark is  a join of   joins "),
        (5, "no match here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in bm25_topk(df, "doc_id", "text", ["spark", "join", "window"], top_k=10)
        .select("doc_id", "bm25", "rk")
        .collect()
    )
    load_all()
    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{text}')" for i, text in rows)
    con.execute(
        f"CREATE TABLE documents AS SELECT * FROM (VALUES {vals}) v(doc_id, text)"
    )
    want = sorted(
        con.execute(
            f"SELECT doc_id, bm25, rk FROM ({REGISTRY['llm_bm25_topk'].oracle})"
        ).fetchall()
    )
    assert len(got) == 4
    assert got == want


def test_dedup_clusters_match_union_find(spark, docs):
    """dedup_cluster_assignments (star CC over the doc universe) ==
    driver-side union-find on the same edges; keep flags select exactly
    one doc (the min) per cluster."""
    from randas_spark.operators.dedup import (
        dedup_cluster_assignments,
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.2)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert edges, "fixture should produce at least one near-dup edge"

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    expected = {i: find(i) if i in parent else i for i in all_ids}
    # normalize: root = min of its tree (union keeps min as root already)
    expected = {i: find(i) if i in parent else i for i in all_ids}

    out = dedup_cluster_assignments(docs, pairs, "doc_id").collect()
    got = {r.doc_id: r.cluster for r in out}
    assert got == expected
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    for c, members in by_cluster.items():
        keeps = [r.doc_id for r in members if r.keep]
        assert keeps == [min(m.doc_id for m in members)] and keeps == [c]


def _uf_components(edges):
    """Driver-side union-find ground truth: node → min-id of component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_star_cc_matches_label_propagation_random_graphs(spark):
    """Star CC must produce the min-label labelling that label propagation
    converges to — each node's component minimum id, computed here by
    the union-find ground truth — on random graphs (2 seeds x 80 nodes,
    ~edge density 1.4). Star CC labels exactly the nodes with a
    non-self-loop edge."""
    import random

    from randas_spark.operators.dedup import connected_components_star

    for seed in (7, 1999):
        rng = random.Random(seed)
        edges = [
            (rng.randrange(80), rng.randrange(80)) for _ in range(110)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        want = _uf_components(edges)
        star = {
            r.node: r.comp
            for r in connected_components_star(df).collect()
        }
        assert star == want, f"star CC wrong on seed {seed}"


def test_star_cc_label_all_nodes_false_equals_default_after_coalesce(spark):
    """Star CC labels only nodes with a non-self-loop edge; the
    left-join + coalesce(comp, node) over the node universe, which is
    dedup_cluster_assignments, must then label every node with its
    union-find component (nodes in no edge, or only in self-loops, to
    themselves) and keep exactly each cluster's minimum id. Covers
    self-loop-only nodes, a node in no edge, a chain (multi-round
    convergence), and random graphs with self-loops kept."""
    import random

    from randas_spark.operators.dedup import (
        connected_components_star,
        dedup_cluster_assignments,
    )

    cases = [
        [(1, 2), (5, 5), (9, 9), (2, 3)],  # self-loop-only nodes
        [(i, i + 1) for i in range(40)],  # chain
    ]
    for seed in (7, 1999):
        rng = random.Random(seed)
        cases.append(
            [(rng.randrange(80), rng.randrange(80)) for _ in range(110)]
        )
    for edges in cases:
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        want = _uf_components([e for e in edges if e[0] != e[1]])
        universe = sorted({n for e in edges for n in e} | {1000})
        sparse = {
            r.node: r.comp for r in connected_components_star(df).collect()
        }
        assert sparse == want, f"star CC wrong on {edges[:4]}..."
        # the sparse result never labels a node outside the universe
        assert set(sparse) <= set(universe)
        ids = spark.createDataFrame([(n,) for n in universe], "doc_id long")
        got = {
            r.doc_id: (r.cluster, r.keep)
            for r in dedup_cluster_assignments(ids, df, "doc_id").collect()
        }
        # coalesce(comp, node) over the universe == the full labelling
        assert got == {
            n: (sparse.get(n, n), sparse.get(n, n) == n) for n in universe
        }


def test_star_cc_fewer_rounds_on_chain(spark):
    """High-diameter graph (a 48-node chain, diameter 47): label
    propagation would need O(diameter) rounds; star contraction must
    finish in O(log² n) — in practice single digits — with the correct
    single component."""
    from randas_spark.operators.dedup import connected_components_star

    n = 48
    chain = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")

    star_stats: dict = {}
    star = {
        r.node: r.comp
        for r in connected_components_star(df, stats=star_stats).collect()
    }
    assert star == {i: 0 for i in range(n)}
    assert star_stats["converged"], star_stats
    assert star_stats["rounds"] <= 8, star_stats


def test_star_cc_keeps_self_loop_only_nodes(spark):
    """A node that appears ONLY in self-loop edges is still a node: the
    star-CC cluster assignment must label it as its own singleton
    (regression: star CC derived its node universe from the
    self-loop-filtered edge set and dropped such nodes entirely). Star
    CC itself omits such nodes; the doc universe restores them."""
    from randas_spark.operators.dedup import (
        connected_components_star,
        dedup_cluster_assignments,
    )

    df = spark.createDataFrame(
        [(1, 2), (5, 5), (9, 9), (2, 3)], "id_a long, id_b long"
    )
    star = {r.node: r.comp for r in connected_components_star(df).collect()}
    assert star == {1: 1, 2: 1, 3: 1}
    ids = spark.createDataFrame([(n,) for n in (1, 2, 3, 5, 9)], "doc_id long")
    got = {
        r.doc_id: r.cluster
        for r in dedup_cluster_assignments(ids, df, "doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 9: 9}


def test_duplicated_spans_no_truncated_grams_on_short_docs(spark):
    """Docs shorter than k tokens must emit no spans (regression: the
    truncated single gram of a short doc matched another short doc and
    reported span_len = k, overstating a sub-k shared run), while genuine
    >= k-token duplication still surfaces."""
    from randas_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "x y z w"), (4, "x y z w")],
        "doc_id long, text string",
    )
    out = duplicated_spans(df, "doc_id", "text", k=3, min_span=3).collect()
    pairs = {(r.id_a, r.id_b): r.span_len for r in out}
    assert (1, 2) not in pairs  # 2-token docs: no 3-gram exists
    assert pairs.get((3, 4)) == 4  # full 4-token duplicate still found


def test_rrf_fuse_properties(spark):
    """RRF: doc in both lists beats equal-rank doc in one list; scores
    match the closed form; n_lists counts contributing rankings."""
    from randas_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rk long")
    b = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rk long")
    out = {r.doc_id: r for r in rrf_fuse([a, b], k=60, top_k=10).collect()}
    assert out[2].n_lists == 2 and out[1].n_lists == 1
    assert out[2].rrf == pytest.approx(1 / 62 + 1 / 61, abs=1e-9)
    assert out[1].rrf == pytest.approx(1 / 61, abs=1e-9)
    # rank 1 overall: doc 2 (two contributions)
    assert min(out.values(), key=lambda r: r.rk).doc_id == 2


def test_chunking_covers_and_overlaps(spark, docs):
    """Chunks tile the token stream: chunk 0 starts at token 1, strides
    advance by 20, the final chunk reaches the last token, and adjacent
    chunks overlap by chunk_size - stride."""
    from randas_spark.operators.chunking import chunk_documents

    out = chunk_documents(docs, "doc_id", "text", chunk_size=40, stride=20)
    rows = [(r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens) for r in out.collect()]
    texts = {r.doc_id: r.text.lower().split(" ") for r in docs.collect()}
    by_doc = {}
    for d, i, c, n in rows:
        by_doc.setdefault(d, {})[i] = (c, n)
    for d, chunks in by_doc.items():
        toks = texts[d]
        idxs = sorted(chunks)
        assert idxs == list(range(len(idxs)))
        for i in idxs:
            text_i, n_i = chunks[i]
            expect = toks[i * 20 : i * 20 + 40]
            assert text_i == " ".join(expect)
            assert n_i == min(len(toks) - i * 20, 40)
        # last chunk reaches the end of the doc
        last = idxs[-1]
        assert last * 20 + chunks[last][1] == len(toks)


def test_pack_sequences_formula_and_capacity(spark, docs):
    from randas_spark.operators.chunking import pack_sequences
    from pyspark.sql import functions as F
    from randas_spark.functions.text import tokens as tok_fn

    sized = docs.select("doc_id", F.size(tok_fn(F.col("text"))).alias("n"))
    out = pack_sequences(sized, "doc_id", "n", capacity=300).collect()
    rows = sorted(((r.id, r.n_tokens, r.bin) for r in out))
    cum = 0
    for i, (doc, n, b) in enumerate(rows):
        assert b == cum // 300
        cum += n
    # bin totals: every bin holds >= capacity only via its final doc
    by_bin = {}
    for doc, n, b in rows:
        by_bin.setdefault(b, []).append(n)
    for b, sizes in by_bin.items():
        if len(sizes) > 1:
            assert sum(sizes[:-1]) < 300


def test_chunking_validates_args(spark, docs):
    from randas_spark.operators.chunking import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(docs, "doc_id", "text", chunk_size=0)


def test_bigram_lm_matches_python_reference(spark, docs):
    """Smoothed bigram log-prob equals a driver-side replica; single-
    token docs produce no row."""
    import math
    from collections import Counter

    from randas_spark.operators.lm import bigram_lm_scores

    corpus = {r.doc_id: r.text.lower().split(" ") for r in docs.collect()}
    c1 = Counter(w for toks in corpus.values() for w in toks)
    c2 = Counter(
        f"{a} {b}" for toks in corpus.values() for a, b in zip(toks, toks[1:])
    )
    v = len(c1)
    got = {r.doc_id: r for r in bigram_lm_scores(docs, "doc_id", "text").collect()}
    for doc_id, toks in corpus.items():
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if not grams:
            assert doc_id not in got
            continue
        expect = sum(
            math.log((c2[g] + 1.0) / (c1[g.split(" ")[0]] + v)) for g in grams
        ) / len(grams)
        assert got[doc_id].n_bigrams == len(grams)
        assert got[doc_id].lm_score_raw == pytest.approx(expect, rel=1e-9)


def test_chunking_boundary_lengths(spark):
    """Adversarial lengths around the chunk/stride boundary: 0/1 token,
    exactly chunk_size, chunk_size+1, stride multiples."""
    from randas_spark.operators.chunking import chunk_documents

    docs = []
    for i, n in enumerate([1, 2, 19, 20, 21, 39, 40, 41, 60, 61, 100]):
        docs.append((i, " ".join(f"w{j}" for j in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_size=40, stride=20)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in docs:
        toks = text.split(" ")
        n = len(toks)
        expected_chunks = 1 + max(0, -(-(n - 40) // 20)) if n > 40 else 1
        got = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert len(got) == expected_chunks, (n, len(got))
        assert got[0].chunk_text.split(" ")[: min(n, 40)] == toks[:40]
        last = got[-1]
        assert last.chunk_idx * 20 + last.n_tokens == n  # reaches the end


def test_balance_classes_equal_counts(spark):
    from randas_spark.queries import queries
    from tests.conftest import SF_DIR

    out = queries()["llm_balance_classes"](spark, SF_DIR)
    counts = {r.label: r.n for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert len(set(counts.values())) == 1  # every class at the same size


def test_hard_negatives_label_disjoint(spark):
    from randas_spark.queries import queries
    from tests.conftest import SF_DIR
    from randas_spark.queries import t

    out = queries()["llm_hard_negatives"](spark, SF_DIR).collect()
    labels = {r.vec_id: r.label for r in t(spark, SF_DIR, "embeddings").collect()}
    assert out
    for r in out:
        assert labels[r.qid] != labels[r.cid]
        assert 1 <= r.rk <= 5


# -- PII scrub / n-gram stats / decontamination ----------------------------


def test_pii_scrub_categories_and_redaction(spark):
    """Every doc gets exactly one injected PII category (doc_id % 3) and
    the scrubbed text must not re-match any PII pattern."""
    import re

    from randas_spark.queries import queries

    rows = queries()["llm_pii_scrub"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        cat = r.doc_id % 3
        if cat == 0:
            assert r.n_emails >= 1
        elif cat == 1:
            assert r.n_ips >= 1
        else:
            assert r.n_longnums >= 1
    # independent redaction check: apply the same scrub in Python on one
    # doc and compare the md5
    import hashlib

    from randas_spark.queries import t as _t

    doc = _t(spark, SF_DIR, "documents").filter(F.col("doc_id") == 0).collect()[0]
    body = doc.text.lower() + " reach user0@example.com now"
    clean = re.sub(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>", body)
    clean = re.sub(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>", clean)
    clean = re.sub(r"[0-9]{9,}", "<NUM>", clean)
    got = {r.doc_id: r.scrub_md5 for r in rows}[0]
    assert got == hashlib.md5(clean.encode()).hexdigest()


def test_ngram_top20_matches_python_counts(spark):
    """Top-20 trigram table must equal a driver-side recount exactly
    (same multiset semantics, same (cnt desc, ngram) tiebreak)."""
    from collections import Counter

    from randas_spark.queries import queries, t as _t

    texts = [r.text for r in _t(spark, SF_DIR, "documents").collect()]
    counts = Counter()
    for txt in texts:
        toks = txt.lower().split(" ")
        n = max(len(toks) - 2, 1)
        for i in range(n):
            g = " ".join(toks[i : i + 3])
            if g:
                counts[g] += 1
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r.ngram, r.cnt)
        for r in sorted(
            queries()["llm_ngram_top20"](spark, SF_DIR).collect(), key=lambda r: r.rk
        )
    ]
    assert got == expected


def test_decontaminate_matches_python_ground_truth(spark):
    """Contamination flags must equal a driver-side 8-gram collision
    check against the %11 pseudo-benchmark."""
    from randas_spark.queries import queries, t as _t

    docs = {r.doc_id: r.text for r in _t(spark, SF_DIR, "documents").collect()}

    def grams(text):
        toks = text.lower().split(" ")
        n = max(len(toks) - 7, 1)
        return {" ".join(toks[i : i + 8]) for i in range(n)}

    bench = {i: grams(t) for i, t in docs.items() if i % 11 == 0}
    expected = {}
    for i, txt in docs.items():
        if i % 11 == 0:
            continue
        g = grams(txt)
        hit_docs = {b for b, bg in bench.items() if g & bg}
        if hit_docs:
            shared = set().union(*[g & bench[b] for b in hit_docs])
            expected[i] = (len(hit_docs), len(shared))
    got = {
        r.doc_id: (r.n_bench_docs, r.n_shared_ngrams)
        for r in queries()["llm_decontaminate"](spark, SF_DIR).collect()
    }
    assert got == expected


# --------------------------------------------------------------------------
# Corpus curation (operators/corpus.py)
# --------------------------------------------------------------------------


def test_domain_quota_cap_bites_and_is_partition_invariant(spark, docs):
    """Cap <= per-source count must bite; and the kept doc_id set must be
    identical after an adversarial repartition (determinism is from the
    data, not the physical layout)."""
    from randas_spark.operators.corpus import domain_quota_cap

    kept = domain_quota_cap(docs, "source", "doc_id", 5)
    per_src = kept.groupBy("source").count().collect()
    assert per_src and all(r["count"] <= 5 for r in per_src)
    ids = {r.doc_id for r in kept.collect()}
    ids2 = {
        r.doc_id
        for r in domain_quota_cap(docs.repartition(17), "source", "doc_id", 5).collect()
    }
    assert ids == ids2


def test_mixture_sample_matches_hashlib_ground_truth(spark, docs):
    """Spark's kept set must equal a driver-side recomputation of the
    md5-threshold mixture — bit-identical hashing, no RNG."""
    import hashlib

    from randas_spark.operators.corpus import mixture_sample

    rates = {"src0": 1.0, "src1": 0.5}
    default = 0.2

    def keeps(doc_id: int, source: str) -> bool:
        rate = rates.get(source, default)
        if rate >= 1.0:
            return True
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return h < format(int(rate * 16**8), "08x")

    rows = docs.select("doc_id", "source").collect()
    expected = {r.doc_id for r in rows if keeps(r.doc_id, r.source)}
    got = {
        r.doc_id
        for r in mixture_sample(docs, "source", "doc_id", rates, default).collect()
    }
    assert got == expected


def test_vocab_build_matches_counter(spark, docs):
    """(token, cnt, token_id) must equal a Counter recount with the
    (cnt desc, token) tiebreak."""
    from collections import Counter

    from randas_spark.operators.corpus import vocab_build

    counts = Counter()
    for r in docs.select("text").collect():
        for w in r.text.lower().split(" "):
            if w:
                counts[w] += 1
    expected = [
        (tok, cnt, i + 1)
        for i, (tok, cnt) in enumerate(
            sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        )
    ]
    got = [
        (r.token, r.cnt, r.token_id)
        for r in sorted(vocab_build(docs, "text", 10).collect(), key=lambda r: r.token_id)
    ]
    assert got == expected


def test_boilerplate_coverage_python_truth(spark, docs):
    """coverage must equal the driver-side shingle-df recount; drop flag
    consistent with the 0.5 threshold."""
    from randas_spark.operators.corpus import boilerplate_coverage

    texts = {r.doc_id: r.text for r in docs.collect()}

    dfreq = {}
    for s_set in map(_py_shingles, texts.values()):
        for s in s_set:
            dfreq[s] = dfreq.get(s, 0) + 1
    out = boilerplate_coverage(docs, "doc_id", "text", k=5, min_df=2).collect()
    assert len(out) == len(texts)
    for r in out:
        mine = _py_shingles(texts[r.doc_id])
        n_boiler = sum(1 for s in mine if dfreq[s] >= 2)
        assert (r.n_shingles, r.n_boiler) == (len(mine), n_boiler)
        assert r.drop == (n_boiler / len(mine) >= 0.5)


def test_quality_classifier_prob_matches_python_sigmoid(spark, docs):
    """Classifier prob must match a driver-side sigmoid over the same
    features to 1e-9 (exp may differ in the last ulp across libms)."""
    import math

    from randas_spark.functions.text import CLASSIFIER_WEIGHTS, quality_classifier_prob
    from randas_spark.functions.text import LANG_MARKERS

    w0, w1, w2, w3 = CLASSIFIER_WEIGHTS
    rows = docs.limit(20).select(
        "doc_id", "text", quality_classifier_prob(F.col("text")).alias("p")
    ).collect()
    en = set(LANG_MARKERS["en"])
    for r in rows:
        toks = r.text.lower().split(" ")
        n_tok = len(toks)
        sw = sum(1 for x in toks if x in en)
        alpha = sum(1 for c in r.text if c.isalpha() and c.isascii())
        logit = (
            min(n_tok / 100.0, 1.0) * w1
            + min(sw / n_tok * 5.0, 1.0) * w2
            + alpha / len(r.text) * w3
            + w0
        )
        assert abs(r.p - 1.0 / (1.0 + math.exp(-logit))) < 1e-9


def test_minhash_portable_precision_recall_and_determinism(spark, docs):
    """Portable-md5 MinHash pairs must (a) all truly exceed the Jaccard
    threshold (verification stage = perfect precision), (b) find every
    pair with exact Jaccard >= 0.9 (8 bands x 4 rows: catch prob
    ~1-1e-6 there), and (c) be invariant under repartition."""
    from randas_spark.operators.dedup import minhash_lsh_pairs_portable

    texts = {r.doc_id: r.text for r in docs.collect()}

    sets = {i: _py_shingles(t) for i, t in texts.items()}
    ids = sorted(sets)
    exact = {}
    for i_pos, a in enumerate(ids):
        for b in ids[i_pos + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if j >= 0.6:
                    exact[(a, b)] = j
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs_portable(docs, "doc_id", "text").collect()
    }
    assert set(got) <= set(exact)  # precision: only true near-dups
    must_find = {p for p, j in exact.items() if j >= 0.9}
    assert must_find <= set(got)  # recall at high similarity
    for p, j in got.items():
        assert abs(j - exact[p]) < 1e-9
    got2 = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs_portable(docs.repartition(13), "doc_id", "text").collect()
    }
    assert got2 == set(got)


def _py_shingles(text, k=5):
    """Pure-Python ``shingles()``: lowercased space tokens, distinct
    k-grams, the whole doc as one shingle below k tokens, none for NULL."""
    if text is None:
        return set()
    toks = text.lower().split(" ")
    return {" ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))}


def _py_jaccard(a, b):
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


#: (doc_id, text, side) — the adversarial corpus for the shared
#: verifier; ``side`` is the ledger/batch split for the incremental form
_ADVERSARIAL = (
    # 30 verbatim copies of one text: 435 J=1 pairs through one bucket
    [(i, "the quick brown fox jumps over the lazy dog again and again", i % 2) for i in range(30)]
    + [
        # one distinct shingle each ("a a a a a"): J=1 although the
        # first doc has three k-gram positions
        (100, "a a a a a a a", 0),
        (101, "a a a a a", 1),
        # shorter than k: the whole doc is the one shingle
        (102, "x y", 0),
        (103, "x y", 1),
        # NULL and empty texts: no shingle a real doc can share
        (104, None, 0),
        (105, None, 1),
        (106, "", 1),
        # 4 shingles each, 3 shared: J = 3/5, exactly the threshold
        (107, "p1 p2 p3 p4 p5 p6 p7 p8", 0),
        (108, "p2 p3 p4 p5 p6 p7 p8 p9", 1),
        # unrelated filler
        (109, "one two three four five six seven eight nine", 0),
        (110, "ten eleven twelve thirteen fourteen fifteen", 1),
    ]
)


@pytest.fixture(scope="module")
def adversarial(spark):
    return spark.createDataFrame(
        _ADVERSARIAL, "doc_id long, text string, side int"
    ).cache()


def test_jaccard_verifier_exact_on_adversarial_corpus(spark, adversarial):
    """The one verifier behind ppjoin, MinHash-LSH and incremental
    near-dedup, differentially against pure-Python shingle sets: every
    emitted Jaccard equals the Python fraction with ``==``, the J = 3/5
    pair passes a 0.6 threshold exactly, every J >= 0.9 pair is found,
    no NULL or empty doc is ever paired, and both operators return the
    same rows on 1 and on 7 input partitions."""
    from randas_spark.operators.dedup import (
        _jaccard_verify,
        incremental_near_dedup,
        minhash_lsh_pairs_portable,
        shingle_checkpoint,
    )

    sets = {i: _py_shingles(t) for i, t, _ in _ADVERSARIAL}
    side = {i: s for i, _, s in _ADVERSARIAL}
    blank = {i for i, t, _ in _ADVERSARIAL if not t}
    exact = {
        (a, b): _py_jaccard(sets[a], sets[b])
        for a in sets
        for b in sets
        if a < b and sets[a] and sets[b] and sets[a] & sets[b]
    }
    assert exact[(107, 108)] == 0.6 and exact[(100, 101)] == 1.0

    # the verifier alone, fed every pair: its threshold cut is exact
    sh = shingle_checkpoint(adversarial, "doc_id", "text", 5)
    ids = sh.select("doc_id")
    every = ids.alias("x").crossJoin(ids.alias("y")).select(
        F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
    ).filter("id_a < id_b")
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in _jaccard_verify(sh, sh, every, 0.6).collect()
    }
    assert verified == {p: j for p, j in exact.items() if j >= 0.6}

    def lsh(parts):
        return sorted(
            minhash_lsh_pairs_portable(
                adversarial.repartition(parts), "doc_id", "text", threshold=0.6
            ).collect()
        )

    pairs = lsh(1)
    assert pairs == lsh(7)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    for p, j in got.items():
        assert j == exact[p], p
    assert {p for p, j in exact.items() if j >= 0.9} <= set(got)
    assert not blank & {i for p in got for i in p}

    def incremental(parts):
        return sorted(
            incremental_near_dedup(
                adversarial.filter("side = 1").repartition(parts),
                adversarial.filter("side = 0").repartition(parts),
                "doc_id",
                "text",
                threshold=0.6,
            ).collect()
        )

    out = incremental(1)
    assert out == incremental(7)
    assert len(out) == sum(side.values())
    for r in out:
        near = [
            led
            for led in sets
            if side[led] == 0 and sets[led] and sets[r.doc_id]
            and _py_jaccard(sets[r.doc_id], sets[led]) >= 0.9
        ]
        if r.status == "near_dup_vs_ledger":
            assert r.jaccard == _py_jaccard(sets[r.doc_id], sets[r.match_id])
            assert r.jaccard >= 0.6 and side[r.match_id] == 0
            assert r.match_id not in blank and r.doc_id not in blank
            assert not near or r.match_id <= min(near)
        else:
            assert not near and r.match_id is None, r


#: jobs started while each query is constructed (its plan built, before
#: any action), measured at the suite's sf0.001 after one warm build —
#: the eager checkpoints each dedup and graph composition pays up front,
#: the Gram-cell collect each PCA fit runs on the driver, and the
#: packed-prefix total the incremental pack reads as its base offset,
#: the md5 centroid collect of the in-memory IVF search, the index
#: builds and appends the persisted k-NN queries start, and 0 for the
#: lazy k-NN and sketch plans (k-core and BFS counts follow the graph's
#: peel and hop depth, so they differ per scale: 26 and 30 at sf0.01).
#: The hybrid dedup's embedding leg runs on ``overlap``'s second driver
#: thread; its jobs count only if that thread joins the caller's group.
_CONSTRUCT_JOBS = {
    "llm_pca_power": 2,
    "llm_pca_project": 2,
    "llm_pca_project2": 2,
    "llm_pca_top2": 2,
    "llm_pca_topk": 2,
    "llm_sequence_pack_incremental": 2,
    "llm_dedup_minhash_det": 2,
    "llm_minhash_recall_audit": 2,
    "llm_dedup_incremental_near": 4,
    "llm_dedup_minhash_clusters": 14,
    "llm_dedup_hybrid": 18,
    "llm_dedup_rate_report": 18,
    "llm_graph_rank": 6,
    "rel_pagerank": 7,
    "rel_triangle_count": 8,
    "rel_kcore_copurchase": 11,
    "rel_graph_bfs_hops": 23,
    "llm_knn_bruteforce": 0,
    "llm_knn_lsh": 0,
    "llm_knn_ivf_det": 1,
    "llm_knn_ivf_persisted": 0,
    "llm_knn_ivf_append": 2,
    "llm_knn_filtered": 0,
    "llm_knn_graph": 4,
    "llm_ann_recall_audit": 5,
    "llm_knn_pq_rerank": 0,
    "llm_knn_ivfpq_rerank": 0,
    "stream_ivf_ingest": 2,
    "stream_ann_enrich": 2,
    "stream_countmin_cells": 0,
    "stream_hll_cells": 0,
}


@pytest.mark.parametrize("name", sorted(_CONSTRUCT_JOBS))
def test_dedup_construction_jobs_pinned(spark, name):
    """Eager construction jobs are the largest construction cost in the
    registry; a query growing one (a new checkpoint, a count, a collect
    while building the plan) fails here instead of only in a bench."""
    from randas_spark.queries import REGISTRY, load_all

    load_all()
    # a cached input (this module's ``emb`` fixture) changes the plan:
    # the hybrid dedup's embedding leg starts 2 more jobs over it
    spark.catalog.clearCache()
    REGISTRY[name].fn(spark, SF_DIR)
    with started_jobs(spark, f"construct-{name}") as jobs:
        REGISTRY[name].fn(spark, SF_DIR)
    assert len(jobs) == _CONSTRUCT_JOBS[name], (name, len(jobs))


def test_embedding_quantize_bounds_and_fidelity(spark, emb):
    """int8 range respected, reconstruction error <= scale/2 per element,
    and cosine fidelity near 1 — the invariants that make the 4x-smaller
    representation safe for ANN shortlists."""
    from randas_spark.queries import queries
    from tests.conftest import SF_DIR

    import json

    out = queries()["llm_embedding_quantize"](spark, SF_DIR).collect()
    origs = {r.vec_id: r.embedding for r in emb.collect()}
    assert out
    for r in out:
        q = json.loads(r.q)  # query ships the array as JSON (driver canon)
        assert all(-127 <= v <= 127 for v in q)
        assert r.cos_fidelity > 0.995
        x = origs[r.vec_id]
        assert len(q) == len(x)
        for xi, qi in zip(x, q):
            if abs(qi) < 127:  # inside the clamp, error is at most scale/2
                assert abs(xi - qi * r.scale) <= r.scale / 2 + 1e-9


def test_knn_quantized_tracks_exact_bruteforce(spark, emb):
    """Quantized scores must track exact cosine within int8 error, and
    the quantized top-10 must heavily overlap the exact top-10 (the
    fidelity an int8 ANN inner loop needs to be usable)."""
    from randas_spark.operators.similarity import knn_bruteforce, knn_quantized

    qs = emb.filter(F.col("vec_id") < 5)
    exact = knn_bruteforce(qs, emb, "vec_id", "vec_id", "embedding", top_k=10).collect()
    quant = knn_quantized(qs, emb, "vec_id", "vec_id", "embedding", top_k=10).collect()
    exact_cos = {(r.qid, r.cid): r.cos for r in exact}
    quant_cos = {(r.qid, r.cid): r.qcos for r in quant}
    # per-query overlap >= 8/10
    for qid in {r.qid for r in exact}:
        e_set = {r.cid for r in exact if r.qid == qid}
        q_set = {r.cid for r in quant if r.qid == qid}
        assert len(e_set & q_set) >= 8, (qid, e_set, q_set)
    # scores agree to int8 resolution on the common pairs
    for p in set(exact_cos) & set(quant_cos):
        assert abs(exact_cos[p] - quant_cos[p]) < 0.02


def test_embedding_lsh_pairs_subset_of_exact_with_same_scores(spark, emb):
    """Bucketed pairs must be a subset of the exact all-pairs result
    with bit-identical cosines (the equi-join changes candidates, never
    scores), and same-bucket filtering must actually prune."""
    from randas_spark.operators.dedup import embedding_near_pairs

    exact = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_pairs(emb, "vec_id", "embedding", threshold=0.3).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_pairs(
            emb, "vec_id", "embedding", threshold=0.3, n_planes=4, dim=64
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert len(lsh) < len(exact)  # 16 buckets prune some candidate pairs
    for p, c in lsh.items():
        assert c == exact[p]


def test_duplicated_spans_finds_exact_positions(spark):
    """A planted 25-token shared span (different offsets in each doc)
    must come back with exact start positions and length; unrelated
    text must produce nothing."""
    from randas_spark.operators.dedup import duplicated_spans

    span = " ".join(f"s{i}" for i in range(25))
    pre_a = " ".join(f"a{i}" for i in range(7))
    pre_b = " ".join(f"b{i}" for i in range(13))
    post = " ".join(f"p{i}" for i in range(11))
    df = spark.createDataFrame(
        [
            (1, f"{pre_a} {span} {post}"),
            (2, f"{pre_b} {span}"),
            (3, " ".join(f"z{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    out = duplicated_spans(df, "doc_id", "text", k=10, min_span=20).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert (r.start_a, r.start_b, r.span_len) == (7, 13, 25)

    # below min_span: same corpus, min_span raised past the span length
    assert not duplicated_spans(df, "doc_id", "text", k=10, min_span=26).collect()


def test_simhash_portable_matches_python_and_is_complete(spark, docs):
    """Portable-SimHash fingerprints must equal a hashlib recomputation
    bit-for-bit, and the banded pair set must equal ALL pairs at
    hamming <= 3 (pigeonhole blocking loses nothing below bands)."""
    import hashlib

    from randas_spark.operators.dedup import simhash_portable_fps, simhash_portable_pairs

    def py_fp(text: str, n_bits: int = 32) -> int:
        toks = list(dict.fromkeys(text.lower().split(" ")))
        hs = [hashlib.md5(t.encode()).hexdigest() for t in toks]
        fp = 0
        for b in range(n_bits):
            pos, shift = b // 4, 3 - (b % 4)
            w = sum((((int(h[pos], 16) >> shift) % 2) * 2 - 1) for h in hs)
            if w >= 0:
                fp |= 1 << b
        return fp

    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    fps = {
        r.doc_id: r.fp
        for r in simhash_portable_fps(docs, "doc_id", "text", 32).collect()
    }
    assert set(fps) == set(texts)  # every doc fingerprinted
    for doc_id, fp in fps.items():
        assert fp == py_fp(texts[doc_id]), doc_id

    ids = sorted(fps)
    expected = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_portable_pairs(
            docs, "doc_id", "text", n_bits=32, bands=4, max_hamming=3
        ).collect()
    }
    assert got == expected


def test_knn_ivf_det_exact_at_full_probe_and_subset_below(spark, emb):
    """n_probe = n_cells must reproduce brute force exactly (the IVF
    recall dial's endpoint); below it, results are a subset of the
    scored universe with bit-identical cosines."""
    from randas_spark.operators.similarity import knn_bruteforce, knn_ivf_det

    qs = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.qid, r.cid): (r.cos, r.rk)
        for r in knn_bruteforce(qs, emb, "vec_id", "vec_id", "embedding", top_k=10).collect()
    }
    full = {
        (r.qid, r.cid): (r.cos, r.rk)
        for r in knn_ivf_det(
            qs, emb, "vec_id", "vec_id", "embedding", n_cells=8, n_probe=8, top_k=10
        ).collect()
    }
    assert full == exact
    part = knn_ivf_det(
        qs, emb, "vec_id", "vec_id", "embedding", n_cells=8, n_probe=2, top_k=10
    ).collect()
    exact_cos = {
        (r.qid, r.cid): r.cos
        for r in knn_bruteforce(qs, emb, "vec_id", "vec_id", "embedding", top_k=10**9).collect()
    }
    for r in part:
        assert exact_cos[(r.qid, r.cid)] == r.cos


def test_duplicated_spans_gram_cap_bounds_candidates(spark):
    """On a boilerplate-heavy corpus (one 10-gram repeated across many
    docs), the hot-gram cap must prune the quadratic fan-out while
    leaving genuinely-duplicated long spans intact."""
    from randas_spark.operators.dedup import duplicated_spans

    boiler = " ".join(f"b{i}" for i in range(10))
    span = " ".join(f"s{i}" for i in range(30))
    rows = [(i, f"{boiler} " + " ".join(f"u{i}_{j}" for j in range(20))) for i in range(40)]
    rows += [(100, f"x0 {span}"), (101, f"y0 y1 {span}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = duplicated_spans(df, "doc_id", "text", k=10, min_span=10).collect()
    capped = duplicated_spans(
        df, "doc_id", "text", k=10, min_span=10, max_gram_freq=5
    ).collect()
    # boilerplate pairs: 40*39/2 spans uncapped, all gone under the cap
    assert len(uncapped) > 700
    capped_pairs = {(r.id_a, r.id_b) for r in capped}
    assert capped_pairs == {(100, 101)}
    r = [x for x in capped if (x.id_a, x.id_b) == (100, 101)][0]
    assert (r.start_a, r.start_b, r.span_len) == (1, 2, 30)


def test_wav_roundtrip_and_audio_features_golden(spark):
    """encode→decode must round-trip PCM16 exactly (mono and stereo),
    and the Spark audio pipeline's features must equal a driver-side
    decode of identical bytes."""
    import hashlib
    import math

    from randas_spark.operators.wav import audio_features, decode_wav, encode_wav
    from randas_spark.operators.multimodal import attach_wav_payload, extract_audio_features

    samples = [int(20000 * math.sin(i / 5)) for i in range(200)]
    dec, rate = decode_wav(encode_wav(samples, 8000))
    assert rate == 8000
    assert [int(s * 32768) for s in dec] == samples

    df = spark.createDataFrame([(1, "hello world"), (2, "other text")], "doc_id long, text string")
    out = {r.doc_id: r for r in extract_audio_features(
        attach_wav_payload(df, "doc_id", "text"), fake=False
    ).collect()}
    assert set(out) == {1, 2}
    for doc_id, text in [(1, "hello world"), (2, "other text")]:
        seed = hashlib.md5(text.encode()).digest()
        freq = 100 + seed[0] * 8
        phase = seed[1] / 255.0 * 2 * math.pi
        expected_samples = [
            int(30000 * math.sin(2 * math.pi * freq * i / 8000 + phase)) for i in range(512)
        ]
        exp = audio_features([s / 32768.0 for s in expected_samples], 8000)
        got = out[doc_id]
        assert got.modality == "audio" and got.sample_rate == 8000
        assert list(got.feature) == exp


def test_decode_audio_rejects_compressed_without_fake(spark):
    import pytest as _pytest

    from randas_spark.operators.multimodal import decode_audio

    with _pytest.raises(NotImplementedError):
        decode_audio(b"\xff\xfbMP3DATA...", fake=False)
    s, r = decode_audio(b"\xff\xfbMP3DATA...", fake=True)
    assert r == 8000 and len(s) == 16


def test_g711_spec_values_and_encoder_inverse():
    """G.711 expansion must hit the CCITT reference decoder's values
    (spot constants + sign symmetry) and the nearest-expansion encoders
    must invert decode exactly on every reachable level."""
    from randas_spark.operators.wav import (
        alaw_to_linear,
        linear_to_alaw,
        linear_to_mulaw,
        mulaw_to_linear,
    )

    # spec constants: 0xFF/0x7F are μ-law zero; A-law ±8 at 0x55/0xD5;
    # overload points 32124 (μ) and 32256 (A)
    assert mulaw_to_linear(0xFF) == 0 and mulaw_to_linear(0x7F) == 0
    assert alaw_to_linear(0x55) == -8 and alaw_to_linear(0xD5) == 8
    assert max(mulaw_to_linear(b) for b in range(256)) == 32124
    assert max(alaw_to_linear(b) for b in range(256)) == 32256
    for b in range(128):
        assert mulaw_to_linear(b) == -mulaw_to_linear(b | 0x80) or mulaw_to_linear(b) == 0
        assert alaw_to_linear(b ^ 0x80) == -alaw_to_linear(b) or alaw_to_linear(b) == 0
    for b in range(256):
        assert mulaw_to_linear(linear_to_mulaw(mulaw_to_linear(b))) == mulaw_to_linear(b)
        assert alaw_to_linear(linear_to_alaw(alaw_to_linear(b))) == alaw_to_linear(b)


def test_ima_adpcm_wav_roundtrip():
    """IMA ADPCM encode→decode: exact sample count (including a partial
    final block trimmed by the fact chunk), >20 dB SNR on a smooth tone,
    and the first sample of every block carried verbatim."""
    import math

    from randas_spark.operators.wav import decode_wav, encode_wav_ima_adpcm

    samples = [int(20000 * math.sin(2 * math.pi * 7 * i / 505)) for i in range(1010)]
    dec, rate = decode_wav(encode_wav_ima_adpcm(samples, 8000))
    assert rate == 8000 and len(dec) == 1010
    sig = sum((s / 32768.0) ** 2 for s in samples)
    err = sum((s / 32768.0 - d) ** 2 for s, d in zip(samples, dec))
    assert 10 * math.log10(sig / (err + 1e-30)) > 20
    # block-leading samples are stored verbatim in the block header
    assert int(dec[0] * 32768) == samples[0]
    assert int(dec[505] * 32768) == samples[505]
    # partial final block: fact chunk trims the pad nibbles
    dec2, _ = decode_wav(encode_wav_ima_adpcm(samples[:600], 8000))
    assert len(dec2) == 600


def test_g711_wav_container_and_spark_pipeline(spark):
    """encode_wav_g711 containers decode back to the exact expansion
    table on both laws, and the Spark G.711 pipeline's features equal a
    driver-side decode of identical bytes (the llm_multimodal_audio_g711
    fixture shape: digest tiled 8×, μ-law even / A-law odd doc_id)."""
    import hashlib

    from randas_spark.operators.multimodal import (
        attach_g711_payload,
        extract_audio_features,
    )
    from randas_spark.operators.wav import (
        alaw_to_linear,
        audio_features,
        decode_wav,
        encode_wav_g711,
        mulaw_to_linear,
    )

    data = bytes(range(256))
    for law, table in (("mulaw", mulaw_to_linear), ("alaw", alaw_to_linear)):
        s, rate = decode_wav(encode_wav_g711(data, law=law, sample_rate=8000))
        assert rate == 8000
        assert s == [table(b) / 32768.0 for b in data]

    df = spark.createDataFrame(
        [(2, "hello world"), (3, "other text")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in extract_audio_features(
        attach_g711_payload(df, "doc_id", "text"), fake=False
    ).collect()}
    assert set(out) == {2, 3}
    for doc_id, text in [(2, "hello world"), (3, "other text")]:
        codes = hashlib.md5(text.encode()).digest() * 8
        table = mulaw_to_linear if doc_id % 2 == 0 else alaw_to_linear
        exp = audio_features([table(b) / 32768.0 for b in codes], 8000)
        got = out[doc_id]
        assert got.modality == "audio" and got.sample_rate == 8000
        assert got.n_bytes == 186
        assert list(got.feature) == exp


def test_adpcm_spark_pipeline_golden(spark):
    """The ADPCM fixture pipeline's features must equal a driver-side
    decode of identical bytes (digest-derived block header + nibble
    stream, the llm_multimodal_audio_adpcm shape)."""
    import hashlib
    import struct as _struct

    from randas_spark.operators.multimodal import (
        attach_adpcm_payload,
        extract_audio_features,
    )
    from randas_spark.operators.wav import audio_features, decode_wav, wrap_ima_adpcm

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "other text")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in extract_audio_features(
        attach_adpcm_payload(df, "doc_id", "text"), fake=False
    ).collect()}
    assert set(out) == {1, 2}
    for doc_id, text in [(1, "hello world"), (2, "other text")]:
        dg = hashlib.md5(text.encode()).digest()
        data = _struct.pack("<hBB", _struct.unpack("<h", dg[:2])[0], dg[2] % 89, 0) + dg * 4
        samples, rate = decode_wav(wrap_ima_adpcm(data, 129, 8000, 68, 129))
        assert rate == 8000 and len(samples) == 129
        got = out[doc_id]
        assert got.modality == "audio" and got.n_bytes == 128
        assert list(got.feature) == audio_features(samples, 8000)


def test_sample_frames_real_gif_path_and_video_boundary(spark):
    """sample_frames(fake=False) decodes REAL animated GIFs (composited
    canvases as PNG rows, even stride) and extract_frame_features
    reproduces a driver-side decode; non-GIF motion payloads still hit
    the honest video-codec boundary."""
    import hashlib

    import pytest as _pytest

    from randas_spark.operators.multimodal import (
        attach_gif_payload,
        extract_frame_features,
        sample_frames,
    )
    from randas_spark.operators.png import pixel_features

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "other text")], "doc_id long, text string"
    )
    frames = sample_frames(
        attach_gif_payload(df, "doc_id", "text", n_frames=4), max_frames=2, fake=False
    )
    feats = {(r.doc_id, r.frame_idx): r for r in extract_frame_features(
        frames, fake=False
    ).collect()}
    assert set(feats) == {(1, 0), (1, 1), (2, 0), (2, 1)}
    pal = [(i, 255 - i, (i * 7 + 3) % 256) for i in range(256)]
    for doc_id, text in [(1, "hello world"), (2, "other text")]:
        dg = hashlib.md5(text.encode()).digest()
        for i, src in [(0, 0), (1, 2)]:  # k=2 over n=4 → frames 0 and 2
            rgb = b"".join(
                bytes(pal[dg[(j + 5 * src) % 16]]) for j in range(64)
            )
            exp = pixel_features(8, 8, 3, rgb)
            got = feats[(doc_id, i)]
            assert got.modality == "image"
            assert list(got.feature) == exp

    # non-GIF payload with fake=False → honest boundary, in-kernel
    from randas_spark.operators.multimodal import _sample_gif_frames  # noqa: F401

    mp4ish = spark.createDataFrame(
        [(9, bytearray(b"\x00\x00\x00 ftypmp42 not a gif"), {"mime": "video/mp4", "n_bytes": 24, "width": 0, "height": 0})],
        "doc_id long, payload binary, meta struct<mime:string, n_bytes:bigint, width:bigint, height:bigint>",
    )
    with _pytest.raises(Exception, match="video frame sampling requires"):
        sample_frames(mp4ish, max_frames=2, fake=False).collect()


def test_length_buckets_padding_waste_recount(spark, docs):
    """Bucket populations and padding-waste must equal a driver-side
    recount of the BPE-ish token estimate."""
    import math
    from collections import defaultdict

    from randas_spark.queries import queries
    from tests.conftest import SF_DIR

    def n_tok(text: str) -> int:
        return sum(max(1, math.ceil(len(w) / 4)) for w in text.lower().split(" "))

    buckets = defaultdict(list)
    for r in docs.select("text").collect():
        n = n_tok(r.text)
        buckets[int(math.floor(math.log(max(n, 1)) / math.log(2)))].append(n)
    got = {r.bucket: r for r in queries()["llm_length_buckets"](spark, SF_DIR).collect()}
    assert set(got) == set(buckets)
    for b, toks in buckets.items():
        r = got[b]
        assert (r.n_docs, r.sum_tok, r.max_tok) == (len(toks), sum(toks), max(toks))
        # query output is fround(6)-truncated → 5e-7 resolution
        assert abs(r.padding_waste - (1.0 - sum(toks) / (max(toks) * len(toks)))) < 1e-6


# -- text normalization ----------------------------------------------------


def test_clean_text_and_nfc_normalize(spark):
    """clean_text strips controls/zero-width and collapses whitespace
    JVM-side; nfc_normalize composes combining sequences so visually
    identical strings fingerprint identically. Golden values computed
    independently with Python unicodedata."""
    import unicodedata

    from pyspark.sql import functions as F

    from randas_spark.functions.text import clean_text
    from randas_spark.functions.udfs import nfc_normalize

    decomposed = "cafe\u0301 du\x00mp\u200b  a\tb"
    df = spark.createDataFrame([(decomposed,), (None,)], ["s"])
    out = df.select(
        nfc_normalize(clean_text(F.col("s"))).alias("n")
    ).collect()
    # independent spelling of the same pipeline: control/zero-width ->
    # space, collapse, trim, then NFC (which composes e+U+0301 -> U+00E9)
    assert out[0].n == unicodedata.normalize("NFC", "cafe\u0301 du mp a b")
    assert out[0].n.startswith("caf\u00e9")  # composed single code point
    assert "\u0301" not in out[0].n
    assert out[1].n is None


def test_text_normalize_query_changed_flags(spark):
    """Injected dirty docs (doc_id % 3 == 0) must always flag changed;
    n_chars shrinks relative to the dirty body (zero-width + composition
    both shorten)."""
    from randas_spark.queries import queries

    rows = queries()["llm_text_normalize"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r.doc_id % 3 == 0:
            assert r.changed
        assert len(r.norm_fp) == 32 and r.n_chars > 0


def test_incremental_dedup_ledger_evolution(spark):
    """Feeding batch N's new_ledger into batch N+1 suppresses everything
    already kept; statuses partition the batch."""
    from pyspark.sql import functions as F

    from randas_spark.operators.dedup import incremental_dedup

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma"),
         (5, "beta"), (6, "delta"), (7, "delta")],
        ["doc_id", "text"],
    )
    empty_ledger = spark.createDataFrame([], "fp string, doc_id long")
    b1 = docs.filter(F.col("doc_id") <= 4)
    lab1, led1 = incremental_dedup(b1, empty_ledger, "doc_id", "text")
    s1 = {r.doc_id: r.status for r in lab1.collect()}
    assert s1 == {1: "kept", 2: "kept", 3: "dup_in_batch", 4: "kept"}
    assert led1.count() == 3  # alpha, beta, gamma

    b2 = docs.filter(F.col("doc_id") > 4)
    lab2, led2 = incremental_dedup(b2, led1, "doc_id", "text")
    s2 = {r.doc_id: r.status for r in lab2.collect()}
    assert s2 == {5: "dup_vs_ledger", 6: "kept", 7: "dup_in_batch"}
    assert led2.count() == 4  # + delta
    # replaying batch 2 against its own output ledger kills everything
    lab3, _ = incremental_dedup(b2, led2, "doc_id", "text")
    assert {r.status for r in lab3.collect()} == {"dup_vs_ledger"}


def test_bpe_learn_matches_python_reference(spark):
    """bpe_learn must reproduce the textbook greedy BPE merge sequence:
    most-frequent adjacent symbol pair per round (freq-weighted over
    distinct words, ties by pair lexicographically), merges applied
    leftmost-non-overlapping — verified against an independent pure-
    Python implementation on a corpus exercising ties and the a==b
    self-overlap case ("aaa" -> ["aa","a"])."""
    import re
    from collections import Counter

    from randas_spark.operators.corpus import bpe_learn

    texts = [
        "the theme thesis",
        "aaa aaaa the",
        "banana bandana the theme",
        "no pair! 42 the",
    ]

    def py_bpe(texts, n_merges):
        words = Counter()
        for t in texts:
            for w in re.split(r"[^a-z]+", t.lower()):
                if w:
                    words[w] += 1
        state = {w: tuple(w) for w in words}
        out = []
        for k in range(1, n_merges + 1):
            pairs = Counter()
            for w, syms in state.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += words[w]
            if not pairs:
                break
            (a, b), freq = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((k, a, b, a + b, freq))
            for w, syms in state.items():
                merged, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                state[w] = tuple(merged)
        return out

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.merge_rank, r.lhs, r.rhs, r.merged, r.freq)
        for r in bpe_learn(df, "text", n_merges=8).orderBy("merge_rank").collect()
    ]
    assert got == py_bpe(texts, 8)


def test_url_canonicalize_rules(spark):
    """Canonicalizer edge cases: default-port strip (only for the
    matching scheme), case only on scheme/host, tracking-param removal
    preserving other params in order, trailing-slash and fragment strip,
    non-URL passthrough. Spark and the DuckDB twin must agree char-for-
    char on every case."""
    import duckdb

    from randas_spark.functions.text import sql_url_canonicalize, url_canonicalize

    cases = [
        ("HTTPS://WWW.Example.COM:443/A/B/", "https://www.example.com/A/B"),
        ("http://host.com:80/x", "http://host.com/x"),
        ("http://host.com:443/x", "http://host.com:443/x"),  # not http default
        ("https://host.com:8080/x/", "https://host.com:8080/x"),
        (
            "https://h.com/p?utm_source=a&id=7&fbclid=zz&page=2#frag",
            "https://h.com/p?id=7&page=2",
        ),
        ("https://h.com/p?utm_source=a&utm_medium=b", "https://h.com/p"),
        ("https://h.com/", "https://h.com"),
        ("https://h.com/CaseKept/Path", "https://h.com/CaseKept/Path"),
        ("not a url#frag", "not a url"),
        ("ftp://Weird.Host/Dir/", "ftp://weird.host/Dir"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {
        r.url: r.canon
        for r in df.select("url", url_canonicalize(F.col("url")).alias("canon")).collect()
    }
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)
    con = duckdb.connect()
    vals = ", ".join("('{}')".format(u.replace("'", "''")) for u, _ in cases)
    dd = dict(
        con.execute(
            f"SELECT url, {sql_url_canonicalize('url')} AS c"
            f" FROM (VALUES {vals}) t(url)"
        ).fetchall()
    )
    for u, want in cases:
        assert dd[u] == want, (u, dd[u], want)


def test_bpe_apply_counts_and_scan_side_plan(spark):
    """bpe_apply invariants: zero merges -> n_subwords == n_chars (every
    char its own symbol); each applied merge only shrinks the subword
    count; counts match a hand-check; and the plan is pure scan-side
    (no Exchange, no BatchEvalPython — the merge list folds in as
    literals)."""
    from randas_spark.operators.corpus import bpe_apply

    df = spark.createDataFrame(
        [(1, "the theme"), (2, "aaa"), (3, "42 !")], "doc_id long, text string"
    )
    base = {r.doc_id: r for r in bpe_apply(df, "doc_id", "text", []).collect()}
    assert (base[1].n_words, base[1].n_chars, base[1].n_subwords) == (2, 8, 8)
    assert (base[2].n_words, base[2].n_chars, base[2].n_subwords) == (1, 3, 3)
    assert (base[3].n_words, base[3].n_chars, base[3].n_subwords) == (0, 0, 0)

    merged = {
        r.doc_id: r
        for r in bpe_apply(
            df, "doc_id", "text", [("t", "h"), ("th", "e"), ("a", "a")]
        ).collect()
    }
    # "the"->[the], "theme"->[the,m,e]; "aaa"->[aa,a] (greedy, no overlap)
    assert merged[1].n_subwords == 1 + 3
    assert merged[2].n_subwords == 2
    for d in (1, 2, 3):
        assert merged[d].n_subwords <= base[d].n_subwords
        assert merged[d].n_chars == base[d].n_chars

    plan = (
        bpe_apply(df, "doc_id", "text", [("t", "h")])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # no key shuffle and no Python boundary; fan_out's round-robin
    # repartition of single-split local inputs is the one allowed
    # exchange (a no-op on many-split cluster scans)
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_kmeans_det_matches_numpy_replay(spark):
    """kmeans_lloyd_det must be bit-deterministic: an independent numpy
    replay of the same spec (md5-low seeding, integer-quantized coords,
    squared-L2 argmin with (dist, cluster) tie-break, exact-integer-sum
    centroid means) must produce the identical labels, and distances
    equal to float tolerance (numpy's vectorized sum order differs from
    the engines' index-order fold, so ulp slack is expected HERE while
    the DuckDB oracle — same fold order — stays hash-exact)."""
    import hashlib

    import numpy as np

    from randas_spark.operators.cluster import kmeans_lloyd_det
    from randas_spark.queries import t

    K, NITER, SCALE = 8, 4, 512.0
    out = (
        kmeans_lloyd_det(
            t(spark, SF_DIR, "embeddings"), "vec_id", "embedding", k=K, n_iter=NITER
        )
        .orderBy("vec_id")
        .collect()
    )

    emb = sorted(
        t(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in emb])
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    qx = np.floor(X * SCALE + 0.5).astype(np.int64)
    md5 = np.array([hashlib.md5(str(i).encode()).hexdigest() for i in ids])
    seed_ids = ids[np.lexsort((ids, md5))][:K]
    cents = {int(i): qx[ids == i][0].astype(np.float64) for i in seed_ids}
    order = sorted(cents)
    lab = dmin = None
    for it in range(1, NITER + 1):
        C = np.stack([cents[c] for c in order])
        D = ((qx[:, None, :].astype(np.float64) - C[None, :, :]) ** 2).sum(axis=2)
        lab = np.array([order[j] for j in D.argmin(axis=1)])
        dmin = D.min(axis=1)
        if it < NITER:
            for c in order:
                m = lab == c
                if m.sum():
                    cents[c] = qx[m].sum(axis=0).astype(np.float64) / m.sum()

    assert [r["cluster"] for r in out] == lab.tolist()
    assert np.allclose([r["dist"] for r in out], dmin, rtol=1e-12)
    # every seed cluster should survive on real data (k=8 over the corpus)
    assert len({r["cluster"] for r in out}) == K


def test_kmeans_assignment_is_shuffle_free(spark):
    """The assignment stage must be a zero-exchange projection: centroids
    enter as broadcast literals, so the ONLY exchanges in the final plan
    belong to the (cluster, pos) update aggregations of EARLIER
    iterations, never to the assignment itself — the property that makes
    each Lloyd round one narrow shuffle at 100 TB."""
    from randas_spark.operators.cluster import kmeans_lloyd_det
    from randas_spark.queries import t

    out = kmeans_lloyd_det(
        t(spark, SF_DIR, "embeddings"), "vec_id", "embedding", k=4, n_iter=1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_kmeans_kernel_dist_bit_exact_vs_catalyst_fold(spark):
    """r13 optimization pin: the Arrow-kernel assignment's strict
    per-dimension fold must be BIT-EXACT (== on doubles, not allclose)
    against the retired F.aggregate(zip_with(...)) Catalyst fold it
    replaced, on the same centroids — the property that keeps the
    DuckDB oracle's list_reduce replay hash-exact. Also pins the plan:
    assignment is ONE MapInPandas (the kernel), zero Python row UDFs,
    and still zero Exchange."""
    from randas_spark.operators.cluster import kmeans_lloyd_det
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings")
    stats: dict = {}
    out = kmeans_lloyd_det(
        emb, "vec_id", "embedding", k=5, n_iter=3, scale=512.0, stats=stats
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan

    got = {r["vec_id"]: (r["cluster"], r["dist"]) for r in out.collect()}

    # Catalyst-fold replay of the FINAL assignment on the kernel's own
    # final centroids (stats["centroids"]): identical (dist, cluster)
    # per vector, dist compared with strict equality.
    cents = sorted(stats["centroids"].items())
    v = emb.select(
        F.col("vec_id").alias("vid"),
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(512.0) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qx"),
    )

    def dist_to(carr):
        lit = F.array(*[F.lit(m) for m in carr])
        return F.aggregate(
            F.zip_with(
                F.col("qx"),
                lit,
                lambda x, m: (x.cast("double") - m) * (x.cast("double") - m),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    structs = [
        F.struct(dist_to(carr).alias("d"), F.lit(c).alias("c")) for c, carr in cents
    ]
    ref = v.withColumn("best", F.least(*structs)).select(
        "vid", F.col("best.c").alias("cluster"), F.col("best.d").alias("dist")
    )
    want = {r["vid"]: (r["cluster"], r["dist"]) for r in ref.collect()}
    assert got == want  # bit-exact: labels AND double dists


def test_leakage_safe_split_never_straddles_clusters(spark, docs):
    """The defining property: no near-dup pair may straddle splits —
    every edge's endpoints carry the same split label — while doc-level
    train_test_split on the same corpus is ALLOWED to leak (that's the
    operator's reason to exist). Also: labels exhaustive, assignment a
    pure function of cluster id."""
    from randas_spark.operators.dedup import ngram_jaccard_pairs
    from randas_spark.operators.sampling import leakage_safe_split

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.3)
    out = leakage_safe_split(docs, pairs, "doc_id")
    lab = {r["doc_id"]: (r["cluster"], r["split"]) for r in out.collect()}

    edges = pairs.collect()
    assert edges, "fixture corpus must contain near-dup pairs"
    for e in edges:
        a, b = e["id_a"], e["id_b"]
        assert lab[a][1] == lab[b][1], f"pair ({a},{b}) straddles splits"
        assert lab[a][0] == lab[b][0]

    assert set(s for _, s in lab.values()) <= {"train", "val", "test"}
    assert len(lab) == docs.count()
    # same cluster id -> same split everywhere (split is md5(cluster))
    by_cluster: dict = {}
    for c, s in lab.values():
        assert by_cluster.setdefault(c, s) == s


def test_importance_resample_tilts_toward_weight_and_is_partition_invariant(spark, docs):
    """Kept set must (a) approximate the target fraction, (b) have a
    higher mean weight than the corpus (the whole point of importance
    resampling), and (c) be EXACTLY the same set under a different
    partitioning — selection is a pure function of (id, weight sums),
    never of shuffle order."""
    from randas_spark.functions.text import quality_score
    from randas_spark.operators.sampling import importance_resample

    kept = importance_resample(
        docs, "doc_id", quality_score(F.col("text")), target_frac=0.3
    )
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    n = docs.count()
    assert 0.15 * n <= len(ids) <= 0.45 * n

    corpus_w = docs.select(
        F.avg(quality_score(F.col("text"))).alias("w")
    ).collect()[0]["w"]
    kept_w = kept.select(
        F.avg(quality_score(F.col("text"))).alias("w")
    ).collect()[0]["w"]
    assert kept_w > corpus_w

    ids2 = sorted(
        r["doc_id"]
        for r in importance_resample(
            docs.repartition(7), "doc_id", quality_score(F.col("text")), target_frac=0.3
        )
        .select("doc_id")
        .collect()
    )
    assert ids == ids2


def test_cluster_diverse_sample_covers_all_clusters_equally(spark):
    """The sample must take the SAME quota from every surviving cluster
    (that's the diversity property) and never exceed it, with ranks
    contiguous from 1 — a uniform sample would instead mirror cluster
    mass."""
    from randas_spark.operators.cluster import kmeans_lloyd_det
    from randas_spark.operators.sampling import _md5_hex
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings")
    lab = kmeans_lloyd_det(emb, "vec_id", "embedding", k=8, n_iter=4)
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster").orderBy(_md5_hex(F.col("vec_id")), F.col("vec_id"))
    samp = lab.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 10)
    per = {r["cluster"]: r["n"] for r in samp.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["cluster"]: r["n"] for r in lab.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(per) == set(sizes)
    for c, n in per.items():
        assert n == min(10, sizes[c])


def test_minhash_recall_audit_bands_are_consistent(spark, docs):
    """Audit invariants: n_found <= n_true per band, recall ==
    n_found/n_true, bands only at >= 6 (true pairs are thresholded at
    0.6), and the top band (exact duplicates, j=1.0 -> band 10) must
    have recall 1.0 — identical signatures always share every band
    bucket, so LSH can only miss NEAR-misses, never exact dups."""
    from randas_spark.queries.llm import llm_minhash_recall_audit
    from tests.conftest import SF_DIR

    rows = llm_minhash_recall_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["band"] >= 6
        assert 0 <= r["n_found"] <= r["n_true"]
        assert abs(r["recall"] - r["n_found"] / r["n_true"]) < 1e-6
        if r["band"] == 10:
            assert r["recall"] == 1.0


def test_embedding_drift_invariants(spark):
    """Per-label centroid cosines are bounded, label sizes sum to the
    corpus, and a label's centroid can't be MORE aligned than identical
    (cos <= 1 + ulp). Sanity floor: real clustered labels should all
    stay positively aligned with the corpus mean."""
    from randas_spark.queries.llm import llm_embedding_drift
    from randas_spark.queries import t

    rows = llm_embedding_drift(spark, SF_DIR).collect()
    n_corpus = t(spark, SF_DIR, "embeddings").count()
    assert sum(r["n"] for r in rows) == n_corpus
    assert len(rows) == t(spark, SF_DIR, "embeddings").select("label").distinct().count()
    for r in rows:
        assert -1.0 - 1e-9 <= r["cos_to_corpus"] <= 1.0 + 1e-9


def test_hybrid_dedup_merges_cross_signal_clusters(spark):
    """Hybrid clusters must refine BOTH inputs: every text-pair and
    every embedding-pair lands in one hybrid cluster (edge union can
    only merge, never split), and there must exist a hybrid cluster
    bigger than its text-only counterpart — the cross-signal merges the
    operator exists for — unless the fixtures happen to have disjoint
    signals (assert the containment either way)."""
    from randas_spark.operators.dedup import (
        embedding_near_pairs,
        minhash_lsh_pairs_portable,
    )
    from randas_spark.queries import t
    from randas_spark.queries.llm import llm_dedup_hybrid

    lab = {r["doc_id"]: r["cluster"] for r in llm_dedup_hybrid(spark, SF_DIR).collect()}
    d = t(spark, SF_DIR, "documents")
    e = t(spark, SF_DIR, "embeddings")
    tp = minhash_lsh_pairs_portable(d, "doc_id", "text").select("id_a", "id_b").collect()
    ep = (
        embedding_near_pairs(e, "vec_id", "embedding", threshold=0.35, n_planes=4, dim=64)
        .select("id_a", "id_b")
        .collect()
    )
    assert tp and ep
    for r in list(tp) + list(ep):
        assert lab[r["id_a"]] == lab[r["id_b"]]


def test_minhash_clusters_refine_ngram_clusters(spark):
    """Minhash-LSH pairs are a SUBSET of the exact candidate pairs at
    the same (k, threshold) — verification is the same exact-Jaccard
    gate, LSH can only miss candidates. So every minhash cluster must
    be contained in one ngram-Jaccard-0.6 cluster (the LSH clustering
    refines the exact one), and keep counts can only grow."""
    from randas_spark.queries.llm import llm_dedup_minhash_clusters
    from randas_spark.operators.dedup import (
        connected_components_star,
        ngram_jaccard_pairs,
    )
    from randas_spark.queries import t

    d = t(spark, SF_DIR, "documents")
    lsh = {r["doc_id"]: r["cluster"] for r in llm_dedup_minhash_clusters(spark, SF_DIR).collect()}
    exact_pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.6)
    comp = connected_components_star(exact_pairs)
    exact = {r["node"]: r["comp"] for r in comp.collect()}
    for doc, c in lsh.items():
        a = exact.get(doc, doc)
        b = exact.get(c, c)
        assert a == b, f"doc {doc}: lsh cluster {c} crosses exact clusters"


def test_dedup_rate_report_accounts_for_every_doc(spark):
    """Report must partition the corpus: Σn_docs == |documents|,
    n_kept <= n_docs, dup_rate == 1 - kept/docs."""
    from randas_spark.queries.llm import llm_dedup_rate_report
    from randas_spark.queries import t

    rows = llm_dedup_rate_report(spark, SF_DIR).collect()
    total = t(spark, SF_DIR, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total
    for r in rows:
        assert 0 < r["n_kept"] <= r["n_docs"]
        assert abs(r["dup_rate"] - (1 - r["n_kept"] / r["n_docs"])) < 1e-6


def test_cluster_topics_covers_every_cluster_with_five_discriminative_terms(spark):
    """Every surviving k-means cluster gets exactly 5 terms (vocab is
    far larger than 5 here), scores are positive (a term appearing in
    every document has IDF 0 and can never rank), and no term-score
    pair repeats within a cluster."""
    from randas_spark.queries.llm import llm_cluster_topics, llm_kmeans_det

    rows = llm_cluster_topics(spark, SF_DIR).collect()
    clusters = {r["cluster"] for r in llm_kmeans_det(spark, SF_DIR).collect()}
    per: dict = {}
    for r in rows:
        per.setdefault(r["cluster"], []).append((r["term"], r["score"]))
        assert r["score"] > 0
    assert set(per) == clusters
    for c, terms in per.items():
        assert len(terms) == 5
        assert len({t for t, _ in terms}) == 5


def test_star_cc_correct_when_contraction_spans_partitions(spark):
    """Soundness regression for the check-first exit: with AQE partition
    coalescing DISABLED, the contracted forest keeps 32 shuffle splits,
    so a node's edges scatter and the local union-find emits the same
    child with DIFFERENT local roots from different partitions — the
    shape where the naive 'no parent is a child' certificate would
    falsely exit with split components. The sound certificate (adds:
    every child has exactly one parent) must keep results equal to a
    driver-side union-find on random graphs."""
    import random

    from randas_spark.operators.dedup import connected_components_star

    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        # Deterministic kill-shot: 10 independent "cherries" (x, 2i) +
        # (x, 2i+1) — after contraction each child x carries one local
        # root PER PARTITION its edges landed in, parents are all roots
        # (never children), so the naive chain-only certificate passes
        # at round 0 while any split cherry labels {2i} and {2i+1, x}
        # apart. The sound certificate's single-parent condition
        # catches it.
        cherries = [(100 + i, 2 * i) for i in range(10)] + [
            (100 + i, 2 * i + 1) for i in range(10)
        ]
        df = spark.createDataFrame(cherries, "id_a long, id_b long")
        got = {
            r["node"]: r["comp"]
            for r in __import__(
                "randas_spark.operators.dedup", fromlist=["connected_components_star"]
            ).connected_components_star(df).collect()
        }
        want = {}
        for i in range(10):
            for node in (2 * i, 2 * i + 1, 100 + i):
                want[node] = 2 * i
        assert got == want

        for seed in (11, 23, 47):
            rng = random.Random(seed)
            n = 80
            edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(70)})
            df = spark.createDataFrame(edges, "id_a long, id_b long")

            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            nodes = set()
            for a, b in edges:
                nodes.update((a, b))
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            want = {x: find(x) for x in nodes}
            got = {
                r["node"]: r["comp"]
                for r in connected_components_star(df).collect()
            }
            assert got == want, f"seed {seed}"
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def test_kmeans_handles_string_ids_and_k1(spark):
    """Review-driven edges: (a) cluster labels keep the seed id's
    natural type — string-keyed corpora must get real labels, not
    cast-to-long NULLs; (b) k=1 must return the trivial single-cluster
    assignment instead of crashing F.least; (c) n_iter<1 raises."""
    import pytest as _pytest

    from randas_spark.operators.cluster import kmeans_lloyd_det

    rows = [(f"doc_{i}", [float((i * 7 + j * 3) % 11) for j in range(4)]) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id string, emb array<double>")
    out = kmeans_lloyd_det(df, "doc_id", "emb", k=3, n_iter=2, scale=8.0).collect()
    assert len(out) == 20
    labels = {r["cluster"] for r in out}
    assert all(isinstance(next(iter(labels)), str) for _ in [0])
    assert labels <= {f"doc_{i}" for i in range(20)}
    assert all(r["cluster"] is not None for r in out)

    k1 = kmeans_lloyd_det(df, "doc_id", "emb", k=1, n_iter=1, scale=8.0).collect()
    assert len({r["cluster"] for r in k1}) == 1

    with _pytest.raises(ValueError):
        kmeans_lloyd_det(df, "doc_id", "emb", k=2, n_iter=0)


def test_quantile_bands_ties_share_band_and_repartition_invariant(spark):
    """band = 1 + floor(n·|{score < mine}|/N): all ties land in ONE band
    (unlike ntile), and the assignment is identical under any input
    partitioning — the reproducibility contract of llm_curriculum_order."""
    from randas_spark.operators.corpus import quantile_bands

    rows = [(i, s) for i, s in enumerate([1, 1, 1, 1, 2, 3, 3, 9])]
    df = spark.createDataFrame(rows, "id long, score long")
    out = {r.id: r.band for r in quantile_bands(df, "score", 4).collect()}
    # score 1: cum 0 -> band 1; score 2: cum 4 -> 3; score 3: cum 5 -> 3
    # (ties share); score 9: cum 7 -> 4
    assert out == {0: 1, 1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3, 7: 4}

    out2 = {
        r.id: r.band
        for r in quantile_bands(df.repartition(7, "id"), "score", 4).collect()
    }
    assert out2 == out


def test_pq_persisted_index_query_matches_fused(spark, tmp_path):
    """The fit/query split (pq_build_index + knn_pq_query, VERDICT r8
    order #2) must be BIT-identical to the fused knn_pq_adc — the
    deterministic fit plus parquet's exact round-trip of doubles/longs
    makes the persistence layer lossless, and this identity is the
    proof. Also pins the marker protocol (no _INDEX_OK => not ready)."""
    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import (
        index_ready,
        knn_pq_adc,
        knn_pq_query,
        pq_build_index,
    )
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "pqidx")
    assert not index_ready(idx)
    pq_build_index(emb, "vec_id", "embedding", idx)
    assert index_ready(idx)
    fused = sorted(
        tuple(r) for r in knn_pq_adc(emb, "vec_id", "embedding").collect()
    )
    split = sorted(
        tuple(r)
        for r in knn_pq_query(
            emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", idx
        ).collect()
    )
    assert fused == split  # includes exact adc_dist doubles


def test_index_integrity_param_mismatch_raises(spark, tmp_path):
    """VERDICT r9 #2(a): a query whose dim/m/scale disagree with the
    marker's recorded build params must RAISE — a scale mismatch would
    otherwise return silently wrong distances (codebook-length
    mismatches raise on their own; scale never would)."""
    import pytest

    from randas_spark.operators.similarity import knn_pq_query, pq_build_index
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "pqidx")
    pq_build_index(emb, "vec_id", "embedding", idx, fingerprint="fp-a")
    with pytest.raises(ValueError, match="param mismatch.*scale"):
        knn_pq_query(emb, "vec_id", "embedding", idx, scale=256.0).collect()
    with pytest.raises(ValueError, match="param mismatch.*dim"):
        knn_pq_query(emb, "vec_id", "embedding", idx, dim=32, m=4).collect()


def test_index_integrity_marker_and_fingerprint(spark, tmp_path):
    """Marker protocol: no marker / legacy plain-text marker => not
    ready AND queries fail fast; fingerprint mismatch => not ready and
    the query raises 'stale'; matching everything => ready and the
    query runs. Covers both PQ and IVF sides."""
    import os

    import pytest

    from randas_spark.operators.similarity import (
        index_ready,
        ivf_build_index,
        knn_ivf_query,
        knn_pq_query,
        pq_build_index,
    )
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings")

    # uncommitted dir: fail fast (the r9 ADVICE low on knn_pq_query)
    with pytest.raises(ValueError, match="no committed index"):
        knn_pq_query(emb, "vec_id", "embedding", str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="no committed index"):
        knn_ivf_query(emb, "vec_id", "embedding", str(tmp_path / "nope"))

    # legacy r9 plain-text marker: unknown provenance => not ready
    legacy = tmp_path / "legacy"
    legacy.mkdir()
    (legacy / "_INDEX_OK").write_text("ok\n")
    assert not index_ready(str(legacy))

    pq = str(tmp_path / "pq")
    pq_build_index(emb, "vec_id", "embedding", pq, fingerprint="fp-a")
    assert index_ready(pq, kind="pq", fingerprint="fp-a")
    assert index_ready(pq, params={"m": 4, "scale": 512.0})
    assert not index_ready(pq, kind="ivf")
    assert not index_ready(pq, fingerprint="fp-b")
    assert not index_ready(pq, params={"m": 8})
    with pytest.raises(ValueError, match="stale index"):
        knn_pq_query(emb, "vec_id", "embedding", pq, fingerprint="fp-b")
    assert (
        knn_pq_query(emb, "vec_id", "embedding", pq, fingerprint="fp-a").count()
        > 0
    )

    ivf = str(tmp_path / "ivf")
    ivf_build_index(emb, "vec_id", "embedding", ivf, n_cells=8, fingerprint="fp-a")
    assert index_ready(ivf, kind="ivf", params={"n_cells": 8}, fingerprint="fp-a")
    assert not index_ready(ivf, params={"n_cells": 16})
    with pytest.raises(ValueError, match="stale index"):
        knn_ivf_query(emb, "vec_id", "embedding", ivf, fingerprint="fp-b")

    # fingerprint helper: stable on an unchanged file, moves on rewrite
    from randas_spark.operators.similarity import parquet_fingerprint

    src = os.path.join(SF_DIR, "embeddings.parquet")
    assert parquet_fingerprint(src) == parquet_fingerprint(src)
    f = tmp_path / "data.parquet"
    f.write_bytes(b"aaaa")
    fp1 = parquet_fingerprint(str(f))
    f.write_bytes(b"bbbbbb")
    assert parquet_fingerprint(str(f)) != fp1


def test_persisted_index_rebuilds_on_corpus_mutation(spark):
    """VERDICT r9 #2(b), end-to-end through the REGISTRY query: corrupt
    the committed marker's corpus fingerprint (what a regenerated
    sf_dir looks like to index_ready) and the next llm_knn_ivf_persisted
    call must REBUILD — marker restored with the true fingerprint —
    and return the same rows, not serve the 'stale' index."""
    import json
    import os

    from randas_spark.operators.similarity import (
        parquet_fingerprint,
        read_index_marker,
    )
    from randas_spark.queries.llm import llm_knn_ivf_persisted

    first = sorted(tuple(r) for r in llm_knn_ivf_persisted(spark, SF_DIR).collect())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    idx = os.path.join(
        root, "benchdata", "ivf_index", f"{os.path.basename(SF_DIR)}_adaptive_v2"
    )
    marker = read_index_marker(idx)
    true_fp = parquet_fingerprint(os.path.join(SF_DIR, "embeddings.parquet"))
    assert marker["fingerprint"] == true_fp
    marker["fingerprint"] = "deadbeefdeadbeef"
    with open(os.path.join(idx, "_INDEX_OK"), "w") as fh:
        json.dump(marker, fh)
    again = sorted(tuple(r) for r in llm_knn_ivf_persisted(spark, SF_DIR).collect())
    assert read_index_marker(idx)["fingerprint"] == true_fp  # rebuilt
    assert again == first


def test_index_append_batch_invariants(spark, tmp_path):
    """Incremental index maintenance (VERDICT r9 #4): appending a batch
    adds exactly the batch's rows (base rows untouched), the marker's
    fingerprint is only rewritten by the append, both append fns fail
    fast on an uncommitted dir, and a satisfied index_ready means the
    registry query never double-appends."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import (
        index_ready,
        ivf_append_batch,
        ivf_build_index,
        pq_build_index,
        pq_encode_batch,
        read_index_marker,
    )
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    batch = emb.filter(F.col("vec_id") % 10 == 9)
    n_emb, n_base = emb.count(), base.count()

    with pytest.raises(ValueError, match="no committed IVF index"):
        ivf_append_batch(batch, "vec_id", "embedding", str(tmp_path / "no"))
    with pytest.raises(ValueError, match="no committed PQ index"):
        pq_encode_batch(batch, "vec_id", "embedding", str(tmp_path / "no"))

    ivf = str(tmp_path / "ivf")
    ivf_build_index(base, "vec_id", "embedding", ivf, n_cells=8)
    a = spark.read.parquet(os.path.join(ivf, "assignments.parquet"))
    base_rows = sorted(r["cid"] for r in a.select("cid").collect())
    assert len(base_rows) == n_base
    ivf_append_batch(batch, "vec_id", "embedding", ivf, fingerprint="post")
    a2 = spark.read.parquet(os.path.join(ivf, "assignments.parquet"))
    assert a2.count() == n_emb
    # base rows byte-survived the append (append never rewrites them)
    still = sorted(
        r["cid"] for r in a2.filter(F.col("cid") % 10 != 9).select("cid").collect()
    )
    assert still == base_rows
    assert read_index_marker(ivf)["fingerprint"] == "post"
    assert index_ready(ivf, kind="ivf", params={"n_cells": 8}, fingerprint="post")

    pq = str(tmp_path / "pq")
    pq_build_index(base, "vec_id", "embedding", pq)
    pq_encode_batch(batch, "vec_id", "embedding", pq, fingerprint="post")
    codes = spark.read.parquet(os.path.join(pq, "codes.parquet"))
    assert codes.count() == n_emb
    assert codes.select("cid").distinct().count() == n_emb  # no double rows
    assert read_index_marker(pq)["fingerprint"] == "post"


def test_knn_pq_adc_matches_numpy_replay(spark):
    """Independent numpy replay of the full PQ pipeline — per-subspace
    md5-seeded quantized Lloyd, code assignment, query LUT, fixed-order
    ADC sum, (dist, cid) top-k — must reproduce the identical neighbor
    ranking; distances to float tolerance (numpy's vectorized sums vs
    the engines' index-order fold)."""
    import hashlib

    import numpy as np

    from randas_spark.operators.similarity import knn_pq_adc
    from randas_spark.queries import t

    M, SUB, K, NITER, SCALE, NQ, TOPK = 4, 16, 8, 2, 512.0, 5, 10
    out = (
        knn_pq_adc(t(spark, SF_DIR, "embeddings"), "vec_id", "embedding")
        .orderBy("qid", "rk")
        .collect()
    )

    emb = sorted(
        t(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in emb])
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    qx = np.floor(X * SCALE + 0.5).astype(np.int64)
    md5 = np.array([hashlib.md5(str(i).encode()).hexdigest() for i in ids])
    seed_ids = ids[np.lexsort((ids, md5))][:K]

    codes = np.zeros((len(ids), M), dtype=np.int64)
    luts = []  # per subspace: {qid: {code: d}}
    for j in range(M):
        S = qx[:, j * SUB : (j + 1) * SUB]
        cents = {int(i): S[ids == i][0].astype(np.float64) for i in seed_ids}
        order = sorted(cents)
        lab = None
        for it in range(1, NITER + 1):
            C = np.stack([cents[c] for c in order])
            D = ((S[:, None, :].astype(np.float64) - C[None, :, :]) ** 2).sum(axis=2)
            lab = np.array([order[idx] for idx in D.argmin(axis=1)])
            if it < NITER:
                for c in order:
                    msk = lab == c
                    if msk.sum():
                        cents[c] = S[msk].sum(axis=0).astype(np.float64) / msk.sum()
        codes[:, j] = lab
        C = np.stack([cents[c] for c in order])
        lut = {}
        for qi in range(NQ):
            qv = S[ids == qi][0].astype(np.float64)
            lut[qi] = {
                order[ci]: float(((qv - C[ci]) ** 2).sum()) for ci in range(K)
            }
        luts.append(lut)

    expected = []
    for qi in range(NQ):
        scored = []
        for pos, cid in enumerate(ids):
            if cid == qi:
                continue
            d = sum(luts[j][qi][int(codes[pos, j])] for j in range(M))
            scored.append((d, int(cid)))
        scored.sort()
        expected.extend(
            (qi, cid, d, rk + 1) for rk, (d, cid) in enumerate(scored[:TOPK])
        )

    assert [(r.qid, r.cid, r.rk) for r in out] == [
        (q, c, rk) for q, c, _, rk in expected
    ]
    assert np.allclose(
        [r.adc_dist for r in out], [d for _, _, d, _ in expected], rtol=1e-12
    )


def test_span_corruption_rate_and_span_stats(spark):
    """Mask-rate sanity on the real corpus: ~8.2% starts × mean span 2
    ≈ 15% corruption before overlap merging — assert the aggregate rate
    lands in a generous band, spans never exceed masked positions, and
    nothing is masked beyond the token count (the regenerate-anywhere
    determinism is covered by the cross-engine oracle)."""
    from randas_spark.queries import REGISTRY, load_all
    from tests.conftest import SF_DIR

    load_all()
    rows = REGISTRY["llm_span_corruption"].fn(spark, SF_DIR).collect()
    tot_tok = sum(r.n_tokens for r in rows)
    tot_mask = sum(r.n_masked for r in rows)
    assert 0.08 < tot_mask / tot_tok < 0.22
    for r in rows:
        assert 0 <= r.n_masked <= r.n_tokens
        assert (r.n_spans == 0) == (r.n_masked == 0)
        assert r.n_spans <= r.n_masked


def test_quantile_bands_null_scores_get_null_band(spark):
    """NULL-score rows must survive with a NULL band and must not shift
    anyone else's band (excluded from N and from cumulative counts)."""
    from randas_spark.operators.corpus import quantile_bands

    rows = [(0, None), (1, None), (2, 1), (3, 1), (4, 2), (5, 9)]
    df = spark.createDataFrame(rows, "id long, score long")
    out = {r.id: r.band for r in quantile_bands(df, "score", 4).collect()}
    # non-null N = 4: score 1 -> cum 0 -> band 1; 2 -> cum 2 -> 3; 9 -> cum 3 -> 4
    assert out == {0: None, 1: None, 2: 1, 3: 1, 4: 3, 5: 4}


def test_weighted_sampling_biases_toward_long_docs(spark):
    """The A-ES weighted draw must actually tilt: the mean length of
    the 100 selected docs exceeds the corpus mean (weights = n_chars),
    and the stratified variant returns exactly 10 per source with the
    same tilt direction per stratum on average."""
    from pyspark.sql import functions as F

    from randas_spark.queries import REGISTRY, load_all, t
    from tests.conftest import SF_DIR

    load_all()
    d = t(spark, SF_DIR, "documents").filter(F.col("n_chars") > 0)
    mean_all = d.agg(F.avg("n_chars")).collect()[0][0]

    sel = REGISTRY["llm_sample_weighted"].fn(spark, SF_DIR).collect()
    assert len(sel) == 100
    mean_sel = sum(r.n_chars for r in sel) / len(sel)
    assert mean_sel > mean_all  # the whole point of weighting

    strat = REGISTRY["llm_sample_weighted_stratified"].fn(spark, SF_DIR).collect()
    per_src = {}
    for r in strat:
        per_src.setdefault(r.source, []).append(r.n_chars)
    n_sources = d.select("source").distinct().count()
    assert len(per_src) == n_sources
    assert all(len(v) == 10 for v in per_src.values())
    mean_strat = sum(sum(v) for v in per_src.values()) / sum(
        len(v) for v in per_src.values()
    )
    assert mean_strat > mean_all


def test_pmi_collocations_match_pandas_recompute(spark):
    """Spot-check: every (w1, w2) row's count and PMI must equal an
    independent pandas/python recomputation over the same corpus, and
    no pair below the min-count floor may appear."""
    import math

    from collections import Counter

    from randas_spark.queries import queries, t

    docs = t(spark, SF_DIR, "documents").select("text").toPandas()["text"]
    uni: Counter = Counter()
    big: Counter = Counter()
    for text in docs:
        toks = [w for w in text.lower().split(" ") if w != ""]
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    nu, nb = float(sum(uni.values())), float(sum(big.values()))

    rows = queries()["llm_pmi_collocations"](spark, SF_DIR).collect()
    assert len(rows) > 0
    got = {(r.w1, r.w2): r for r in rows}
    expected = {k: c for k, c in big.items() if c >= 5}
    assert set(got) == set(expected)
    for (w1, w2), c in expected.items():
        pmi = math.log2((c / nb) / ((uni[w1] / nu) * (uni[w2] / nu)))
        assert got[(w1, w2)].cb == c
        assert got[(w1, w2)].pmi == pytest.approx(pmi, abs=1e-3)


def test_nb_lang_confusion_matches_python_replay(spark):
    """The declarative NB train/score/eval plan must match an
    independent pure-Python replay of the identical quantized algorithm
    (Laplace log-probs on the 1e-6 grid, argmax with class tie-break)."""
    import math

    from collections import Counter, defaultdict

    from randas_spark.queries import queries, t

    pdf = t(spark, SF_DIR, "documents").select("doc_id", "lang", "text").toPandas()
    train = pdf[pdf["doc_id"] % 11 != 0]
    test = pdf[pdf["doc_id"] % 11 == 0]

    def toks(s):
        return [w for w in s.lower().split(" ") if w != ""]

    cw: dict = defaultdict(Counter)
    ct: Counter = Counter()
    docs_per_lang: Counter = Counter()
    vocab = set()
    for _, r in train.iterrows():
        ws = toks(r["text"])
        cw[r["lang"]].update(ws)
        ct[r["lang"]] += len(ws)
        docs_per_lang[r["lang"]] += 1
        vocab.update(ws)
    v, n_total = len(vocab), sum(docs_per_lang.values())

    def q(x):
        return math.floor(x * 1e6 + 0.5)

    expected: Counter = Counter()
    for _, r in test.iterrows():
        scores = {}
        for lang in docs_per_lang:
            s = q(math.log(docs_per_lang[lang] / n_total))
            for w in toks(r["text"]):
                c = cw[lang].get(w, 0)
                s += q(math.log((c + 1) / (ct[lang] + v)))
            scores[lang] = s
        # tie-break: highest score, then lexicographically smallest lang
        best = max(scores.values())
        pred = sorted(L for L in scores if scores[L] == best)[0]
        expected[(r["lang"], pred)] += 1

    got = {
        (r.actual_lang, r.predicted_lang): r.n
        for r in queries()["llm_nb_lang_confusion"](spark, SF_DIR).collect()
    }
    assert got == dict(expected)


def test_ppjoin_threshold_and_length_filter_boundaries(spark):
    """Crafted boundary cases for ppjoin_pairs (k=1 so shingle sets are
    just distinct-token sets): (1) a containment pair at EXACTLY
    J = t must be found — it also sits exactly on the length-filter
    equality edge (n_a = t * n_b), so an off-by-one/strict-inequality
    bug in either bound would drop it; (2) a pair just below t is
    excluded; (3) disjoint docs never pair; results equal the plain
    self-join at the same threshold."""
    from randas_spark.operators.dedup import ngram_jaccard_pairs, ppjoin_pairs

    rows = [
        (1, "w1 w2"),                 # subset of doc 2: J(1,2) = 2/4 = 0.5 exactly
        (2, "w1 w2 w3 w4"),
        (3, "w1 w5 w6 w7 w8"),        # J(3,2) = 1/8, J(3,1) = 1/6 — below t
        (4, "x1 x2 x3"),              # disjoint from everything
        (5, "w1 w2 w3"),              # J(5,2) = 3/4, J(5,1) = 2/3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ppjoin_pairs(df, "doc_id", "text", k=1, threshold=0.5).collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", k=1, threshold=0.5).collect()
    }
    assert got == want
    assert (1, 2) in got and abs(got[(1, 2)] - 0.5) < 1e-15  # the boundary pair
    assert (2, 5) in got or (5, 2) in got
    assert all(4 not in pair for pair in got)
    assert all(3 not in pair for pair in got)


def test_ppjoin_ieee_ceil_boundary_pair_not_dropped(spark):
    """r8 ADVICE regression: t=0.07 is one of the ~290 (t, n) pairs where
    the IEEE product t*n rounds ABOVE the exact integer (0.07*100 =
    7.000000000000001, so ceil gives 8 vs exact 7). A containment pair
    |A|=7 ⊂ |B|=100 sits exactly at J = 7/100 = t and broke BOTH
    pre-filters before the conservative-epsilon fix: B's prefix came out
    one short (93 — excluding B's first shared shingle at sorted
    position 94), and the SSJoin length filter pruned on
    7.0 >= 7.000000000000001. Verified failing against the old bounds;
    the verify leg makes the looser bounds lossless in the other
    direction."""
    from randas_spark.operators.dedup import ngram_jaccard_pairs, ppjoin_pairs

    rows = [
        (1, " ".join(f"s{i:03d}" for i in range(7))),            # A ⊂ B
        (2, " ".join(f"s{i:03d}" for i in range(7))
            + " " + " ".join(f"u{i:03d}" for i in range(93))),    # |B| = 100
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ppjoin_pairs(df, "doc_id", "text", k=1, threshold=0.07).collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", k=1, threshold=0.07).collect()
    }
    assert (1, 2) in got and abs(got[(1, 2)] - 0.07) < 1e-15
    assert got == want


def test_ppjoin_rejects_invalid_threshold(spark):
    """r8 ADVICE: threshold > 1 used to fail deep in an executor (F.slice
    on a non-positive length); threshold <= 0 silently under-returned.
    Both now raise loudly at entry, matching the pca_topk/webdataset
    guard convention."""
    import pytest as _pytest

    from randas_spark.operators.dedup import ppjoin_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0.0, -0.3, 1.0001, 7.0):
        with _pytest.raises(ValueError, match="threshold"):
            ppjoin_pairs(df, "doc_id", "text", k=1, threshold=bad)
    # threshold == 1.0 is legal (exact-duplicate join)
    assert ppjoin_pairs(df, "doc_id", "text", k=1, threshold=1.0).count() == 0


def test_sequence_pack_tiles_the_stream_exactly(spark):
    """sequence_pack invariants on a crafted corpus (pack_len=10): the
    segments of each doc are contiguous and cover [0, n_tok); every
    pack except the last is EXACTLY full; pack offsets tile each pack
    left-to-right with no gaps or overlaps; zero-token docs are absent;
    and the whole layout equals a Python replay of the md5-interleave
    concat-and-chop."""
    import hashlib

    from randas_spark.operators.corpus import sequence_pack

    rows = [(i, n) for i, n in [(1, 7), (2, 13), (3, 0), (4, 25), (5, 3), (6, 2)]]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    segs = sequence_pack(df, "doc_id", "n_tok", 10).collect()

    # python replay
    order = sorted(
        [r for r in rows if r[1] > 0],
        key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
    )
    want, start = [], 0
    for doc, n in order:
        for p in range(start // 10, (start + n - 1) // 10 + 1):
            g0, g1 = max(start, p * 10), min(start + n, (p + 1) * 10)
            want.append((doc, p, start, g0 - start, g1 - g0, g0 - p * 10))
        start += n
    assert sorted(tuple(r) for r in segs) == sorted(want)

    total = sum(n for _, n in order)
    per_pack = {}
    for r in segs:
        per_pack[r.pack_id] = per_pack.get(r.pack_id, 0) + r.seg_len
    last = max(per_pack)
    assert all(v == 10 for p, v in per_pack.items() if p != last)
    assert per_pack[last] == total - 10 * last
    assert all(r.doc_id != 3 for r in segs)


def test_sequence_pack_rejects_bad_pack_len(spark):
    import pytest as _pytest

    from randas_spark.operators.corpus import sequence_pack

    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tok long")
    with _pytest.raises(ValueError, match="pack_len"):
        sequence_pack(df, "doc_id", "n_tok", 0)


def test_ivf_persisted_index_query_matches_fused(spark, tmp_path):
    """ivf_build_index + knn_ivf_query must be BIT-identical to the
    fused knn_ivf_det (persisted norms => same fold inputs), and the
    assignments parquet must be physically partitioned by cell (the
    layout that makes probing scan only the probed fraction). Also pins
    the marker protocol: querying an uncommitted dir raises."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import (
        ivf_build_index,
        knn_ivf_det,
        knn_ivf_query,
    )
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivfidx")
    with _pytest.raises(ValueError, match="no committed index"):
        knn_ivf_query(emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", idx)
    ivf_build_index(emb, "vec_id", "embedding", idx, n_cells=16)
    assert any(
        d.startswith("cell=")
        for d in os.listdir(os.path.join(idx, "assignments.parquet"))
    )
    qs = emb.filter(F.col("vec_id") < 5)
    fused = sorted(
        tuple(r)
        for r in knn_ivf_det(
            qs, emb, "vec_id", "vec_id", "embedding", n_cells=16, n_probe=4, top_k=10
        ).collect()
    )
    split = sorted(
        tuple(r)
        for r in knn_ivf_query(
            qs, "vec_id", "embedding", idx, n_probe=4, top_k=10
        ).collect()
    )
    assert fused == split


def test_sequence_pack_base_offset_continues_stream(spark):
    """base_offset=7 with pack_len=10: the batch's first doc must start
    mid-pack (topping up the prior corpus's tail pack), and the whole
    layout must equal the unshifted layout with every global quantity
    re-derived from start+7 — i.e. packing is translation-equivariant."""
    from randas_spark.operators.corpus import sequence_pack

    rows = [(1, 5), (2, 12)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    plain = sorted(
        tuple(r) for r in sequence_pack(df, "doc_id", "n_tok", 10).collect()
    )
    shifted = sorted(
        tuple(r)
        for r in sequence_pack(df, "doc_id", "n_tok", 10, base_offset=7).collect()
    )
    # doc starts translate exactly by the offset
    assert sorted({(r[0], r[2]) for r in shifted}) == sorted(
        {(p[0], p[2] + 7) for p in plain}
    )
    # segment boundaries can differ from plain (cuts move with the
    # offset), so check the invariants: per-doc coverage and pack math
    cover = {}
    for doc, pack, start, seg_start, seg_len, off in shifted:
        cover.setdefault(doc, 0)
        cover[doc] += seg_len
        assert off == (start + seg_start) % 10
        assert pack == (start + seg_start) // 10
    assert cover == {1: 5, 2: 12}
    # first doc in md5 order starts exactly at offset 7
    assert min(r[2] for r in shifted) == 7


def test_bitext_mine_mutuality_and_margin_invariants(spark):
    """Mutual top-1 means each side appears at most once in the pair
    set; margins are the top-2 gap so they are never negative; parity
    split is respected; and every emitted cosine is a valid cosine."""
    from randas_spark.queries.llm import llm_bitext_mine

    rows = llm_bitext_mine(spark, SF_DIR).collect()
    assert rows, "expected some mutual pairs on the fixture corpus"
    lids = [r.lid for r in rows]
    rids = [r.rid for r in rows]
    assert len(lids) == len(set(lids))  # a left matched at most once
    assert len(rids) == len(set(rids))  # a right matched at most once
    for r in rows:
        assert r.lid % 2 == 0 and r.rid % 2 == 1
        assert -1.0 - 1e-9 <= r.cos <= 1.0 + 1e-9
        assert r.margin >= -1e-12
        assert r.margin <= r.cos + 1.0 + 1e-9


def test_kanonymity_classes_partition_customers(spark):
    """Equivalence classes partition the customer table exactly; the
    violation flag is literally class_size < k; l-diversity is bounded
    by the 5 TPC-H order priorities and zero only for classes none of
    whose members ever ordered."""
    from randas_spark.queries import t
    from randas_spark.queries.relational import rel_kanonymity

    out = rel_kanonymity(spark, SF_DIR)
    rows = out.collect()
    n_cust = t(spark, SF_DIR, "customer").count()
    assert sum(r.class_size for r in rows) == n_cust
    for r in rows:
        assert r.k_violation == (r.class_size < 5)
        assert 0 <= r.l_div <= 5
    # cross-check one zero-l_div class really has no ordering member
    zero = [r for r in rows if r.l_div == 0]
    if zero:
        r0 = zero[0]
        c = t(spark, SF_DIR, "customer")
        o = t(spark, SF_DIR, "orders")
        members = c.filter(
            (F.col("c_nationkey") == r0.c_nationkey)
            & (F.col("c_mktsegment") == r0.c_mktsegment)
            & (F.floor(F.col("c_acctbal") / 1000.0).cast("long") == r0.bal_bucket)
        ).select("c_custkey")
        assert (
            members.join(o, members.c_custkey == o.o_custkey, "inner").count() == 0
        )


def test_ann_recall_audit_and_pq_rerank_improve_or_match(spark, tmp_path):
    """Recall rows are well-formed fractions over a 10-deep truth set,
    and the two-stage PQ rerank can only improve (or match) the plain
    ADC top-10 against brute-force truth — re-scoring a superset of the
    candidates exactly can never do worse."""
    from pyspark.sql import functions as F

    from randas_spark.queries.llm import llm_ann_recall_audit, llm_knn_pq_rerank
    from randas_spark.operators.similarity import knn_bruteforce, knn_pq_adc
    from randas_spark.queries import t

    rows = llm_ann_recall_audit(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_true == 10
        assert 0 <= r.n_found <= r.n_true
        assert abs(r.recall - r.n_found / r.n_true) < 1e-12

    emb = t(spark, SF_DIR, "embeddings")
    truth = {
        (r.qid, r.cid)
        for r in knn_bruteforce(
            emb.filter(F.col("vec_id") < 5), emb, "vec_id", "vec_id", "embedding"
        ).collect()
    }
    adc = {(r.qid, r.cid) for r in knn_pq_adc(emb, "vec_id", "embedding").collect()}
    rerank = {(r.qid, r.cid) for r in llm_knn_pq_rerank(spark, SF_DIR).collect()}
    assert len(rerank & truth) >= len(adc & truth)


def test_corpus_scorecard_identities(spark):
    """The scorecard's ratios are internally consistent and the lang
    entropy is bounded by log2(#langs)."""
    import math

    from randas_spark.queries import t
    from randas_spark.queries.llm import llm_corpus_scorecard

    r = llm_corpus_scorecard(spark, SF_DIR).collect()[0]
    assert r.n_unique <= r.n_docs
    assert abs(r.dup_rate - round(1.0 - r.n_unique / r.n_docs, 6)) < 1e-9
    assert 0.0 <= r.pct_short <= 1.0
    n_langs = t(spark, SF_DIR, "documents").select("lang").distinct().count()
    assert 0.0 <= r.lang_entropy <= math.log2(max(2, n_langs)) + 1e-6
    assert 0.0 < r.source_top_share <= 1.0


def test_pq_compact_codes_invisible_to_queries(spark, tmp_path):
    """Compacting the PQ codes table (generation rewrite + atomic marker
    flip) must not change a single served row, must survive a further
    append (which follows the new pointer), and a second compaction
    chains generations."""
    import os

    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import (
        knn_pq_query,
        pq_build_index,
        pq_compact_codes,
        pq_encode_batch,
        read_index_marker,
    )
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    batch = emb.filter(F.col("vec_id") % 10 == 9)
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "pq")
    pq_build_index(base, "vec_id", "embedding", idx)
    pq_encode_batch(batch, "vec_id", "embedding", idx)

    def q():
        df = knn_pq_query(queries, "vec_id", "embedding", idx, top_k=10)
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    before = q()
    out = pq_compact_codes(spark, idx)
    assert out["generation"] == "codes_g1.parquet"
    assert out["n_rows"] == emb.count()
    assert read_index_marker(idx)["codes_dir"] == "codes_g1.parquet"
    assert not os.path.exists(os.path.join(idx, "codes.parquet"))
    assert q() == before

    # appends follow the generation pointer; re-compaction chains
    pq_encode_batch(batch.limit(0), "vec_id", "embedding", idx)
    assert q() == before
    assert pq_compact_codes(spark, idx)["generation"] == "codes_g2.parquet"
    assert q() == before


def test_filtered_knn_and_index_stats_invariants(spark):
    """Filtered search returns only predicate-satisfying candidates
    with contiguous 1-based ranks; the balance report's fields cohere."""
    from randas_spark.queries.llm import llm_ann_index_stats, llm_knn_filtered

    rows = llm_knn_filtered(spark, SF_DIR).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r.cid % 3 == 0
        by_q.setdefault(r.qid, []).append(r.rk)
    for rks in by_q.values():
        assert sorted(rks) == list(range(1, len(rks) + 1))

    s = llm_ann_index_stats(spark, SF_DIR).collect()[0]
    assert 0 < s.n_nonempty_cells <= s.n_cells
    assert s.max_cell <= s.n_vectors
    assert abs(
        s.balance_ratio - round(s.max_cell * s.n_nonempty_cells / s.n_vectors, 4)
    ) < 1e-9


def test_pq_compact_codes_ceiling_file_sizing(spark, tmp_path, monkeypatch):
    """ADVICE r10 #3: compaction sizes output files by CEILING division
    of the row count over the per-file target, so a table just over the
    target splits into two at-target files instead of one ~2x file
    (exercised by shrinking the module target, not by writing 4M rows)."""
    import glob
    import os

    from pyspark.sql import functions as F

    import randas_spark.operators.similarity as sim
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "pq")
    sim.pq_build_index(emb, "vec_id", "embedding", idx)
    n = emb.count()
    assert n > 1
    # target just UNDER the row count: floor division would say 1 file,
    # ceiling correctly says 2
    monkeypatch.setattr(sim, "PQ_CODES_ROWS_PER_FILE", n - 1)
    out = sim.pq_compact_codes(spark, idx)
    files = glob.glob(os.path.join(idx, out["generation"], "part-*.parquet"))
    assert len(files) == 2


def test_ivfpq_full_probe_equals_flat_pq_and_integrity_raises(spark, tmp_path):
    """Composite-index correctness frame: with n_probe >= n_cells the
    coarse pruning admits every cell, so knn_ivfpq_query must return
    EXACTLY knn_pq_query's flat-ADC top-k (same codebooks, same fixed-
    order sum — the by_residual=false design makes the two plans differ
    only in which code rows they scan). Plus the integrity contract:
    param mismatch and stale fingerprint raise, wrong-kind dir raises."""
    import pytest
    from pyspark.sql import functions as F

    from randas_spark.operators.similarity import (
        ivfpq_build_index,
        knn_ivfpq_query,
        knn_pq_query,
        pq_build_index,
    )
    from randas_spark.queries import t

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    n_cells = 8

    flat = str(tmp_path / "pq")
    pq_build_index(emb, "vec_id", "embedding", flat, fingerprint="fp1")
    comp = str(tmp_path / "ivfpq")
    ivfpq_build_index(
        emb, "vec_id", "embedding", comp, n_cells=n_cells, fingerprint="fp1"
    )

    def rows(df):
        return sorted(
            (r["qid"], r["cid"], r["adc_dist"], r["rk"]) for r in df.collect()
        )

    want = rows(knn_pq_query(queries, "vec_id", "embedding", flat, top_k=10))
    got = rows(
        knn_ivfpq_query(
            queries, "vec_id", "embedding", comp, n_probe=n_cells, top_k=10
        )
    )
    assert got == want

    # pruning changes WHICH rows are scanned, never a score: every
    # 1-probe result's (qid, cid, adc_dist) appears verbatim in the
    # flat index's full scored set, and 1 probe of 8 cells really did
    # drop candidates somewhere (result sets differ)
    one = rows(
        knn_ivfpq_query(queries, "vec_id", "embedding", comp, n_probe=1, top_k=10)
    )
    all_flat = {
        (q, c, d)
        for q, c, d, _ in rows(
            knn_pq_query(queries, "vec_id", "embedding", flat, top_k=10**6)
        )
    }
    assert {(q, c, d) for q, c, d, _ in one} <= all_flat
    assert one != want

    with pytest.raises(ValueError, match="param mismatch"):
        knn_ivfpq_query(queries, "vec_id", "embedding", comp, scale=256.0)
    with pytest.raises(ValueError, match="stale index"):
        knn_ivfpq_query(queries, "vec_id", "embedding", comp, fingerprint="fp2")
    with pytest.raises(ValueError, match="no committed IVFPQ index"):
        knn_ivfpq_query(queries, "vec_id", "embedding", flat)


def test_knn_graph_ivf_zero_norm_vectors_excluded(spark, emb):
    """ADVICE r12 pin: a zero-norm vector has no cosine direction, and
    its NaN cosines diverge between the Arrow kernel (numpy drops NaN)
    and the declarative twin (Spark's NaN sorts FIRST under cos DESC) —
    so knn_graph_ivf excludes zero vectors at the boundary. Adding one
    to the corpus must change nothing, and it appears in no edge."""
    from randas_spark.operators.similarity import knn_graph_ivf

    small = emb.select("vec_id", "embedding").limit(40)
    dim = len(small.select("embedding").first()[0])
    zero = spark.createDataFrame([(10**9, [0.0] * dim)], schema=small.schema)
    base = {
        (r.qid, r.cid, r.rk)
        for r in knn_graph_ivf(small, "vec_id", "embedding", n_cells=8, top_k=3).collect()
    }
    with_zero = {
        (r.qid, r.cid, r.rk)
        for r in knn_graph_ivf(
            small.unionByName(zero), "vec_id", "embedding", n_cells=8, top_k=3
        ).collect()
    }
    assert with_zero == base
    assert not any(q == 10**9 or c == 10**9 for q, c, _ in with_zero)


def test_assign_topk_cells_empty_centroid_frame(spark, emb):
    """ADVICE r12 pin: an empty centroid panel (empty corpus) must
    degrade to an empty typed frame, as the retired crossJoin form did,
    not crash np.stack inside the kernel."""
    from randas_spark.operators.similarity import assign_topk_cells

    cent = (
        emb.select(
            F.col("vec_id").alias("cell"),
            F.col("embedding").alias("center"),
            F.lit(1.0).alias("center_nrm"),
        )
        .filter(F.lit(False))
    )
    out = assign_topk_cells(emb.limit(5), "vec_id", "embedding", cent, 2)
    assert [f.name for f in out.schema.fields] == ["vid", "cell", "rn"]
    assert out.count() == 0


def test_panel_and_corpus_cell_rankers_agree(spark, emb):
    """The two IVF cell rankers — assign_topk_cells (the Arrow kernel,
    corpus-sized inputs) and _ivf_probes (the window, query panels) —
    give the same (vid, cell, rn) as a pure-Python (ccos DESC, cell ASC)
    replay. Twin centroids (one vector under two cell ids) tie exactly
    for every row, so the cell tie-break decides at every twin pair;
    n_probe >= n_cells ranks every cell."""
    import math

    from randas_spark.functions.vectors import norm
    from randas_spark.operators.similarity import _ivf_probes, assign_topk_cells

    seeds = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("center"),
        norm(F.col("embedding")).alias("center_nrm"),
    )
    cent = seeds.unionByName(seeds.withColumn("cell", F.col("cell") + 1000))
    cent_rows = cent.collect()
    n_cells = len(cent_rows)
    rows = emb.filter(F.col("vec_id") < 40)

    def fold(a, b):  # the zip_with/aggregate left fold, in doubles
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    expect = set()
    for r in rows.collect():
        qn = math.sqrt(fold(r.embedding, r.embedding))
        ranked = sorted(
            cent_rows,
            key=lambda c: (-(fold(r.embedding, c.center) / (qn * c.center_nrm)), c.cell),
        )
        expect |= {(r.vec_id, c.cell, rn) for rn, c in enumerate(ranked, 1)}
    assert len(expect) == 40 * n_cells

    kernel = assign_topk_cells(rows, "vec_id", "embedding", cent, n_cells + 2)
    assert {(r.vid, r.cell, r.rn) for r in kernel.collect()} == expect

    # _ivf_probes emits the probed cells, not their rank: the rank-r
    # cell is the one that probing r cells adds to probing r - 1
    def probed(n_probe):
        out = {}
        for r in _ivf_probes(rows, "vec_id", "embedding", cent, n_probe).collect():
            out.setdefault(r.qid, set()).add(r.cell)
        return out

    window, prev = set(), {}
    for n_probe in range(1, n_cells + 1):
        cur = probed(n_probe)
        for qid, cells in cur.items():
            (added,) = cells - prev.get(qid, set())
            window.add((qid, added, n_probe))
        prev = cur
    assert window == expect
    assert probed(n_cells + 2) == prev


def test_sniff_audio_meta_headers_only():
    """Header probe must read fmt/fact/data chunk HEADERS only and
    report the right codec/rate/channels/sample count for every WAV
    profile the codec family ships — and None on non-WAV bytes."""
    from randas_spark.operators.multimodal import sniff_audio_meta
    from randas_spark.operators.wav import (
        encode_wav,
        encode_wav_g711,
        encode_wav_ima_adpcm,
    )

    assert sniff_audio_meta(encode_wav([0] * 512, 8000)) == ("pcm", 8000, 1, 512)
    assert sniff_audio_meta(encode_wav_g711(b"\x01" * 128, "mulaw")) == ("mulaw", 8000, 1, 128)
    assert sniff_audio_meta(encode_wav_g711(b"\x01" * 128, "alaw")) == ("alaw", 8000, 1, 128)
    assert sniff_audio_meta(encode_wav_ima_adpcm([0] * 600, 16000)) == (
        "ima_adpcm", 16000, 1, 600,
    )
    assert sniff_audio_meta(b"not riff at all") is None
    assert sniff_audio_meta(b"RIFF\x00\x00\x00\x00WAVEtrunc") is None


def test_resize_kernel_gray_alpha_png():
    """r13 review fix: color-type-4 (gray+alpha) PNGs must resize
    through the same kernel — encode_png now accepts 2 channels."""
    from randas_spark.operators.multimodal import resize_kernel
    from randas_spark.operators.png import decode_png, encode_png

    ga = bytes([10, 200, 30, 150, 50, 100, 70, 50])  # 2x2 GA
    assert decode_png(encode_png(ga, 2, 2, 2)) == (2, 2, 2, ga)
    out = resize_kernel(encode_png(ga, 2, 2, 2), 1, 1, fake=False)
    w, h, c, px = decode_png(out)
    assert (w, h, c) == (1, 1, 2)
    assert list(px) == [(10 + 30 + 50 + 70 + 2) // 4, (200 + 150 + 100 + 50 + 2) // 4]


def test_adpcm_without_fact_chunk_caps_at_samples_per_block():
    """r13 review fix: a (spec-violating but real-world) IMA ADPCM WAV
    with no fact chunk must cap every block at the fmt extension's
    wSamplesPerBlock instead of decoding unbounded pad nibbles."""
    import math
    import struct as _struct

    from randas_spark.operators.wav import decode_wav, encode_wav_ima_adpcm

    wav = encode_wav_ima_adpcm(
        [int(20000 * math.sin(i / 7)) for i in range(600)], 8000
    )
    i, out = 12, wav[:12]
    while i + 8 <= len(wav):
        cid = wav[i : i + 4]
        (size,) = _struct.unpack_from("<I", wav, i + 4)
        blob = wav[i : i + 8 + size + (size % 2)]
        if cid != b"fact":
            out += blob
        i += 8 + size + (size % 2)
    nofact = out[:4] + _struct.pack("<I", len(out) - 8) + out[8:]
    dec, rate = decode_wav(nofact)
    # 600 samples span 2 blocks (505 + 95); without fact the partial
    # block zero-pads to wSamplesPerBlock — bounded at 2 * 505, never
    # the raw nibble count of the padded container
    assert rate == 8000 and len(dec) == 2 * 505
