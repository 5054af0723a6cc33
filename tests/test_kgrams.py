"""k-gram construction: ``functions.text.kgrams`` against a pure-Python
reference, through each site's own short-document rule (shingles,
llm_ngram_top20, winnowing_fingerprints, duplicated_spans), and the
NULL-text parity of ``shingles`` with its DuckDB twin."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

LONG_DOC = " ".join(f"T{(i * 7919) % 613}" for i in range(5000))

#: (doc_id, text) edge cases around k = 5 (and k = 3 for the trigram site)
DOCS = [
    (1, ""),
    (2, "word"),
    (3, "a b c d"),  # k-1 tokens
    (4, "a b c d e"),  # k tokens
    (5, "a b c d e f"),  # k+1 tokens
    (6, "a  b   c d  e"),  # runs of spaces: empty tokens
    (7, "  lead and trail  "),
    (8, "x y x y x y x y x y"),  # repeated grams
    (9, "The quick THE Quick the QUICK brown"),  # mixed case
    (10, "a b"),
    (11, "a b c d e f"),
    (12, LONG_DOC),
]


def ref_tokens(text: str) -> list[str]:
    return text.lower().split(" ")


def ref_kgrams(text: str, k: int) -> list[str]:
    toks = ref_tokens(text)
    return [" ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))]


def _frame(spark, docs=DOCS):
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_kgrams_and_shingles_match_reference(spark):
    from randas_spark.functions.text import kgrams, shingles, tokens

    df = _frame(spark)
    for k in (1, 2, 3, 5, 8):
        rows = df.select(
            "doc_id", "text",
            kgrams(tokens(F.col("text")), k).alias("g"),
            shingles(F.col("text"), k).alias("sh"),
        ).collect()
        assert len(rows) == len(DOCS)
        for r in rows:
            want = ref_kgrams(r.text, k)
            assert r.g == want, (k, r.doc_id)
            # array_distinct keeps first occurrences in order
            assert r.sh == list(dict.fromkeys(want)), (k, r.doc_id)
    assert len(ref_kgrams(LONG_DOC, 5)) == 4996


def test_kgrams_plan_has_no_per_position_slice(spark):
    """The helper's plan holds no slice(<array>, lambda <var>, <k>); the
    per-position form it replaced does, so the matcher is not vacuous."""
    from randas_spark.functions.text import kgrams, tokens
    from tools.plan_lint import per_position_slice

    df = _frame(spark)
    toks = tokens(F.col("text"))
    per_position = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 4, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 5)),
    )
    strided = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 4 + 1, 5)),
    )

    def plan(col):
        return df.select(col.alias("g"))._jdf.queryExecution().executedPlan().toString()

    assert "arrays_zip" in plan(kgrams(toks, 5))
    assert not per_position_slice(plan(kgrams(toks, 5)))
    assert per_position_slice(plan(per_position))
    assert not per_position_slice(plan(strided))  # ~n/stride windows


def test_ngram_top20_multiset_matches_reference(spark, tmp_path):
    """llm_ngram_top20 counts the trigram MULTISET: a doc shorter than 3
    tokens is one whole-document gram, empty grams are dropped."""
    from randas_spark.queries.llm import llm_ngram_top20

    pq.write_table(
        pa.table({"doc_id": [d for d, _ in DOCS], "text": [t for _, t in DOCS]}),
        str(tmp_path / "documents.parquet"),
    )
    counts = Counter(g for _, t in DOCS for g in ref_kgrams(t, 3) if g != "")
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want = [(g, c, rk) for rk, (g, c) in enumerate(ranked, 1)]
    got = [
        (r.ngram, r.cnt, r.rk)
        for r in llm_ngram_top20(spark, str(tmp_path)).orderBy("rk").collect()
    ]
    assert got == want


def test_winnowing_fingerprints_skip_docs_below_k(spark):
    """w=1 selects every gram hash, so the fingerprint set is the
    reference gram set hashed — and empty for docs under k tokens."""
    from randas_spark.operators.dedup import winnowing_fingerprints

    k = 5
    want = {
        (d, int(hashlib.md5(g.encode()).hexdigest()[:8], 16))
        for d, t in DOCS
        if len(ref_tokens(t)) >= k
        for g in ref_kgrams(t, k)
    }
    got = {
        (r.doc_id, r.fp)
        for r in winnowing_fingerprints(_frame(spark), "doc_id", "text", k=k, w=1).collect()
    }
    assert got == want
    assert not {d for d, _ in got} & {1, 2, 3, 10}


def ref_spans(docs, k: int, min_span: int) -> set[tuple]:
    """Maximal runs of shared k-grams per (doc pair, diagonal); docs under
    k tokens have no grams."""
    grams = {
        d: ref_kgrams(t, k) if len(ref_tokens(t)) >= k else [] for d, t in docs
    }
    out = set()
    for a in grams:
        where = defaultdict(list)
        for i, g in enumerate(grams[a]):
            where[g].append(i)
        for b in grams:
            if a >= b:
                continue
            per_diag = defaultdict(list)
            for j, g in enumerate(grams[b]):
                for i in where.get(g, ()):
                    per_diag[i - j].append((i, j))
            for ms in per_diag.values():
                islands = defaultdict(list)
                for rank, (i, j) in enumerate(sorted(ms), 1):
                    islands[i - rank].append((i, j))
                for isl in islands.values():
                    span = isl[-1][0] - isl[0][0] + k
                    if span >= min_span:
                        out.add((a, b, isl[0][0], isl[0][1], span))
    return out


def test_duplicated_spans_match_reference(spark):
    from randas_spark.operators.dedup import duplicated_spans

    shared = " ".join(f"s{i}" for i in range(40))
    docs = [d for d in DOCS if d[0] != 12] + [
        (20, f"pre {shared} post"),
        (21, f"other words {shared}"),
        (22, "a b"),
    ]
    for k, min_span in ((3, 3), (5, 5), (5, 20)):
        got = {
            tuple(r)
            for r in duplicated_spans(
                _frame(spark, docs), "doc_id", "text", k=k, min_span=min_span
            ).collect()
        }
        want = ref_spans(docs, k, min_span)
        assert got == want, (k, min_span)
        assert (20, 21, 1, 2, 40) in got
        # below k tokens: no grams, so identical short docs share no span
        assert not {(a, b) for a, b, *_ in got} & {(3, 10), (10, 22)}


def test_null_text_has_no_shingles_and_no_pairs(spark):
    """NULL text has no shingles on either engine, so it pairs with
    nothing (it used to shingle to [''] and match '' at Jaccard 1.0)."""
    import duckdb

    from randas_spark.functions.text import shingles, sql_shingles
    from randas_spark.operators.dedup import (
        minhash_lsh_pairs_portable,
        ngram_jaccard_pairs,
    )

    df = _frame(
        spark,
        [(1, None), (2, None), (3, ""), (4, "the quick brown fox jumps over the lazy dog")],
    )
    for pairs in (
        minhash_lsh_pairs_portable(df, "doc_id", "text"),
        ngram_jaccard_pairs(df, "doc_id", "text"),
    ):
        ids = {i for r in pairs.collect() for i in (r.id_a, r.id_b)}
        assert not ids & {1, 2}, ids

    texts = [None, "", "a", "a b c d", "a b c d e", "a b c d e f"]
    got = _frame(spark, list(enumerate(texts))).select(
        "doc_id", shingles(F.col("text")).alias("sh")
    ).collect()
    spark_sh = {r.doc_id: sorted(r.sh) for r in got}
    for i, text in enumerate(texts):
        (duck,) = duckdb.sql(
            f"SELECT {sql_shingles('CAST($t AS VARCHAR)')}", params={"t": text}
        ).fetchone()
        assert spark_sh[i] == sorted(duck), (text, spark_sh[i], duck)
    assert spark_sh[0] == []
