"""Sparse text retrieval: inverted index construction and BM25 scoring.

Complements the dense path (operators/similarity.py kNN) with the
classic lexical side of a training-data / RAG pipeline: build a
token → postings index over the corpus, and rank documents for a term
query with BM25 (Robertson/Spärck Jones; the same scoring Lucene uses).

Everything is DataFrame compositions of built-ins (split/explode/
groupBy/window) — no UDFs — so the whole pipeline stays in whole-stage
codegen.

Scale notes:
- the token explode is the big intermediate (tokens ≈ corpus size × avg
  doc length); both operators aggregate it immediately, so the shuffle
  carries (doc, term) partial counts, not raw tokens.
- posting lists for stop-word-frequency terms are the skew risk: cap
  with max_df (drop terms in > x% of docs — they carry no signal and
  their IDF ≈ 0 anyway), exactly what production indexes do.
- BM25 corpus stats (N, avgdl) are one-row broadcasts; per-term df is a
  small broadcast dimension after the query-term filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from randas_spark.functions.text import sql_tokens, tokens
from randas_spark.queries import fround


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """token → (document frequency, sorted posting list).

    Postings are sort_array'd so the result is deterministic (and
    mergeable downstream); terms above ``max_df_frac`` of the corpus are
    dropped as stop-words.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    # df = size of the deduped posting set: a countDistinct alongside
    # collect_set would force the two-phase Expand aggregate for a value
    # the collected set already determines
    idx = toks.groupBy("term").agg(
        F.sort_array(F.collect_set("doc_id")).alias("postings")
    ).select("term", F.size("postings").cast("long").alias("df"), "postings")
    if max_df_frac < 1.0:
        # corpus count only when the stop-word cut actually needs it —
        # unconditional df.count() was a full wasted scan at default args
        idx = idx.filter(F.col("df") <= int(max_df_frac * df.count()))
    return idx


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25.

    score(d) = Σ_t  ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                  · tf_td (k1+1) / (tf_td + k1 (1 - b + b·dl_d/avgdl))

    The plan: one token explode → (doc,term) tf for the query terms only
    (filter BEFORE the aggregation, so the shuffle is query-sized);
    df per term and (N, avgdl) join back as broadcasts; a single window
    takes the top-k. Ties and float noise: rank on the 6-digit-rounded
    score with doc_id tiebreak, so the cut is deterministic.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    # '' tokens (irregular whitespace) must not count toward dl/avgdl —
    # they would systematically penalize such docs; same filter as
    # inverted_index (and the SQL oracle mirrors it)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("term").isin(query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * norm).alias("raw"))
    )
    # floor(x*1e6+0.5)/1e6 — the engine-portable rounding (queries.fround)
    rounded = (F.floor(F.col("raw") * 1e6 + F.lit(0.5)) / 1e6).alias("bm25")
    # Top-k via orderBy().limit(k): Spark plans TakeOrderedAndProject —
    # each partition keeps its own k rows and the driver merges k·P rows —
    # NOT a single-partition global sort. The rank window then runs over
    # only k rows, so its single-partition exchange is O(k), not O(corpus).
    top = scored.select("doc_id", rounded).orderBy(
        F.desc("bm25"), F.col("doc_id")
    ).limit(top_k)
    w = Window.orderBy(F.desc("bm25"), F.col("doc_id"))
    return top.withColumn("rk", F.row_number().over(w))


def sql_bm25_scored(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB twin of :func:`bm25_topk`'s scoring, as CTEs for a caller's
    ``WITH``: ``toks`` (the non-empty tokens — the same ``term <> ''``
    filter, so '' tokens from irregular whitespace count toward neither
    dl nor avgdl), ``dl``, ``stats``, ``tf``, ``dfq`` and ``scored``
    (``doc_id``, un-rounded ``raw`` score). Each caller keeps its own
    rounding and ranking tail."""
    terms = ", ".join(f"'{term}'" for term in query_terms)
    return f"""toks AS (
        SELECT doc_id, term FROM (
            SELECT {id_col} AS doc_id, unnest({sql_tokens(text_col)}) AS term
            FROM {table}
        ) WHERE term <> ''
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ({terms}) GROUP BY 1, 2
    ), dfq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
    ), scored AS (
        SELECT tf.doc_id,
               sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * ({k1} + 1) / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))
               ) AS raw
        FROM tf
        JOIN dfq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY 1
    )"""


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rk",
    k: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings: score(d) = Σ_r 1/(k+rank_r).

    The standard hybrid-search combiner (sparse BM25 + dense cosine):
    rank-based, so the incomparable score scales of the input systems
    never meet. Inputs are (id, rank) DataFrames; absent ids simply
    contribute nothing. k=60 per Cormack et al.'s convention.

    Scale: a union + one groupBy on the id — input sizes are top-N
    shortlists, not corpora, so this stage is negligible; fusion cost
    lives in the upstream retrievers.
    """
    from functools import reduce

    parts = [
        r.select(
            F.col(id_col).alias("id"),
            (1.0 / (k + F.col(rank_col))).alias("contrib"),
        )
        for r in rankings
    ]
    allp = reduce(lambda a, b: a.unionByName(b), parts)
    scored = allp.groupBy("id").agg(
        F.sum("contrib").alias("raw"), F.count(F.lit(1)).alias("n_lists")
    )
    rounded = (F.floor(F.col("raw") * 1e9 + F.lit(0.5)) / 1e9).alias("rrf")
    # TakeOrderedAndProject-shaped top-k (see bm25_topk): limit first,
    # then rank the k surviving rows — no global single-partition sort.
    top = scored.select(F.col("id").alias(id_col), rounded, "n_lists").orderBy(
        F.desc("rrf"), F.col(id_col)
    ).limit(top_k)
    w = Window.orderBy(F.desc("rrf"), F.col(id_col))
    return top.withColumn("rk", F.row_number().over(w))


def feature_hashing(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al., ICML'09): map
    each token to bucket h(token) mod D with a second sign hash ξ(token)
    ∈ {−1, +1}, sum signs per (doc, bucket), and keep the non-zero
    cells — the fixed-width, vocabulary-free vectorizer every
    large-scale text classifier front-ends (no vocab build pass, no
    OOV, bounded width regardless of corpus size; the sign hash keeps
    collisions unbiased in expectation).

    Returns (doc_id, nnz, l2, feats): non-zero cell count, the vector's
    L2 norm, and the sparse vector rendered "bucket:value,..." in bucket
    order (engine-portable text form — array cells crash the driver
    canon). Hashes derive from md5 hex (first 8 digits → bucket, 9th
    digit parity → sign) so bucketing is bit-identical cross-engine.

    Scale: tokenize-explode is scan-side; the only shuffles are the
    (doc, bucket) partial-agg groupBy (map-side combined, cells bounded
    by min(doc_tokens, D) per doc) and the per-doc rollup. No vocabulary
    state, no broadcast — the property that makes the hashing trick THE
    featurizer at 100 TB."""
    h = F.md5(F.col("tok"))
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets
    sign = (F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2) * 2 - 1
    cells = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .select("doc_id", bucket.alias("bucket"), sign.alias("sign"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("long").alias("v"))
        .filter(F.col("v") != 0)
    )
    feats = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "v"))),
            lambda s: F.concat_ws(":", s["bucket"], s["v"]),
        ),
        ",",
    )
    return cells.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("nnz"),
        fround(F.sqrt(F.sum(F.col("v") * F.col("v"))), 6).alias("l2"),
        feats.alias("feats"),
    )
