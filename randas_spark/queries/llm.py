"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal — over the documents/embeddings tables (FIXTURES.md §B).

Oracle policy: deterministic built-in-math operators (exact dedup, ngram
Jaccard, cosine knn, text metrics) carry full DuckDB oracles built from
the sql_* twins in randas_spark.functions. The hashed operators
(MinHash-LSH, SimHash, hyperplane LSH, IVF) derive every hash and
centroid from md5 and integer arithmetic, so their oracles replay them
exactly too; pytest additionally bounds them against the exact variants
(recall / subset bounds).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from randas_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_metrics,
    quality_score,
    sql_clean_text,
    sql_fingerprint,
    sql_lang_id,
    sql_quality_parts,
    sql_repetition_parts,
    sql_quality_score,
    sql_shingles,
    sql_token_count_bpe_ish,
    sql_tokens,
    token_count_bpe_ish,
    tokens,
)
from randas_spark.functions.vectors import cosine, sql_cosine
from randas_spark.queries import (
    _persisted_index,
    fround,
    parquet_num_rows,
    register,
    sql_fround,
    t,
    table_num_rows,
)

# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


def _sql_jaccard_head(src: str = "documents", pair: str = "<") -> str:
    """The exact 5-gram Jaccard self-join as three CTEs, for the caller's
    ``WITH`` (or ``WITH RECURSIVE``): ``sh`` the distinct shingles of each
    ``src`` doc, ``sizes`` their counts, ``inter`` the shared-shingle count
    of every pair with ``a.doc_id {pair} b.doc_id`` (``<`` one row per
    unordered pair, ``<>`` both directions). Each oracle keeps its own
    tail over ``inter`` and ``sizes``."""
    return f"""sh AS (
        SELECT doc_id, unnest({sql_shingles('text', 5)}) AS s
        FROM {src}
    ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        {_sql_shingle_inter(pair)}
    )"""


def _sql_shingle_inter(pair: str = "<") -> str:
    """The shared-shingle count ``(id_a, id_b, n_inter)`` of every ``sh``
    pair with ``a.doc_id {pair} b.doc_id`` — the body of
    :func:`_sql_jaccard_head`'s ``inter``."""
    return f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id {pair} b.doc_id
        GROUP BY 1, 2"""


#: exact shingle Jaccard of one ``inter`` row, read against the ``sa`` /
#: ``sb`` sizes rows that :func:`_sql_jaccard_edges` joins in
_SQL_JACCARD = "CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)"


def _sql_jaccard_edges(
    threshold: float, inter: str = "inter", id_a: str = "id_a", id_b: str = "id_b"
) -> str:
    """The thresholded Jaccard edge tail every exact-pair oracle ends
    in: ``inter`` (a CTE name or an aliased subquery) joined to both
    sides' ``sizes`` and kept where :data:`_SQL_JACCARD` >= threshold.
    The caller writes the SELECT list in front; it may read ``n_inter``,
    ``sa``, ``sb`` and :data:`_SQL_JACCARD`."""
    return f"""FROM {inter}
    JOIN sizes sa ON sa.doc_id = {id_a}
    JOIN sizes sb ON sb.doc_id = {id_b}
    WHERE {_SQL_JACCARD} >= {threshold}"""


@register(
    "llm_dedup_exact",
    oracle=f"""
    SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM (SELECT doc_id, {sql_fingerprint('text')} AS fp FROM documents)
    GROUP BY fp
    HAVING count(*) >= 1
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups via normalized-md5 fingerprint + hash groupBy
    (operators/dedup.exact_dedup_groups, threshold relaxed to >=1 so the
    oracle check is non-trivial even when the corpus has no exact dups)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") >= 1)
    )


_BOILERPLATE = (
    "subscribe to our newsletter for updates and follow us on "
    "all social media channels today"
)  # exactly 15 words == one segment, so injected docs share segment 0


@register(
    "llm_paragraph_dedup",
    oracle=f"""
    WITH src AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 2
                    THEN '{_BOILERPLATE} ' || text ELSE text END AS body
        FROM documents WHERE text IS NOT NULL
    ),
    tok AS (
        SELECT doc_id, {sql_tokens('body')} AS toks FROM src
    ),
    segs AS (
        SELECT doc_id,
               unnest(generate_series(0, CAST(ceil(len(toks) / 15.0) AS INT) - 1)) AS seg_idx,
               array_to_string(
                   toks[unnest(generate_series(0, CAST(ceil(len(toks) / 15.0) AS INT) - 1)) * 15 + 1 :
                        unnest(generate_series(0, CAST(ceil(len(toks) / 15.0) AS INT) - 1)) * 15 + 15],
                   ' ') AS seg_text
        FROM tok
    ),
    hashed AS (
        SELECT doc_id, seg_idx, seg_text, md5(seg_text) AS h,
               doc_id * 1000000 + seg_idx AS pk
        FROM segs
    ),
    firsts AS (SELECT h, min(pk) AS first_pk FROM hashed GROUP BY h),
    flagged AS (
        SELECT hashed.*, hashed.pk = firsts.first_pk AS kept
        FROM hashed JOIN firsts ON hashed.h = firsts.h
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           CASE WHEN count(*) FILTER (WHERE kept) > 0
                THEN md5(string_agg(seg_text, ' ' ORDER BY seg_idx)
                         FILTER (WHERE kept))
           END AS kept_md5
    FROM flagged GROUP BY doc_id
    """,
)
def llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph/segment-level dedup
    (operators/dedup.segment_dedup): 15-token segments, md5 per segment,
    keep only each hash's first corpus occurrence, report per-doc
    (n_segs, n_kept, kept_md5). A shared subscribe-block boilerplate is
    injected into every doc_id % 5 == 2 document (the
    llm_dedup_incremental synthetic-duplication discipline) so the pass
    has real cross-doc boilerplate to strip: those docs lose segment 0
    to the smallest injected doc_id.

    Scale: the first-occurrence rule is a map-side-combinable integer
    MIN per hash — deliberately not a window — because boilerplate
    hashes are the hot keys at crawl scale; see the operator docstring."""
    from randas_spark.operators.dedup import segment_dedup

    d = t(spark, sf_dir, "documents")
    body = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit(_BOILERPLATE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("body"),
    )
    return segment_dedup(body, "doc_id", "body", seg_tokens=15)


@register(
    "llm_dedup_incremental",
    oracle=f"""
    WITH src AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 3 THEN 'common duplicated body'
                    ELSE text END AS body
        FROM documents
    ),
    fps AS (SELECT doc_id, {sql_fingerprint('body')} AS fp FROM src),
    ledger AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    batch AS (
        SELECT doc_id, fp,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        FROM fps WHERE doc_id % 2 = 1
    )
    SELECT b.doc_id, b.fp,
           CASE WHEN l.fp IS NOT NULL THEN 'dup_vs_ledger'
                WHEN b.rk > 1 THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM batch b LEFT JOIN ledger l ON b.fp = l.fp
    """,
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup (operators/dedup.incremental_dedup):
    a new batch (odd doc_ids) is deduped against the fingerprint LEDGER
    of a prior run (even doc_ids) — the per-batch anti-join pattern that
    keeps lifetime cost linear where re-deduping the accumulated corpus
    each day would be quadratic. Synthetic docs are dup-free, so every
    doc_id % 7 == 3 gets an identical injected body on both engines,
    creating within-batch AND cross-batch duplicates; each batch row is
    labeled kept / dup_in_batch / dup_vs_ledger and the full labeling is
    oracle-verified."""
    from randas_spark.operators.dedup import incremental_dedup

    d = t(spark, sf_dir, "documents").withColumn(
        "body",
        F.when(F.col("doc_id") % 7 == 3, F.lit("common duplicated body")).otherwise(
            F.col("text")
        ),
    )
    prior = d.filter(F.col("doc_id") % 2 == 0)
    ledger = prior.select(
        fingerprint(F.col("body")).alias("fp"), F.col("doc_id")
    ).groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    batch = d.filter(F.col("doc_id") % 2 == 1)
    labeled, _new_ledger = incremental_dedup(batch, ledger, "doc_id", "body")
    return labeled.select("doc_id", "fp", "status")


@register(
    "llm_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_sql_jaccard_head()}
    SELECT id_a, id_b, {_SQL_JACCARD} AS jaccard
    {_sql_jaccard_edges(0.6)}
    """,
)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard near-dup pairs (>= 0.6) via shingle equi-join —
    ground truth for the MinHash variant (operators/dedup.ngram_jaccard_pairs)."""
    from randas_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", k=5, threshold=0.6
    )


@register(
    "llm_dedup_ppjoin",
    oracle=f"""
    WITH {_sql_jaccard_head()}
    SELECT id_a, id_b, {_SQL_JACCARD} AS jaccard
    {_sql_jaccard_edges(0.5)}
    """,
)
def llm_dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT set-similarity join
    (operators/dedup.ppjoin_pairs, SSJoin/PPJoin family): identical
    output to the plain 5-gram Jaccard join at threshold 0.5 — the
    oracle recomputes Jaccard from scratch with no prefix logic, so the
    lossless-filtering claim is value-checked, not assumed — but the
    candidate set comes only from rarest-first shingle PREFIXES, so the
    quadratic Σfreq² term runs over rare shingles instead of the whole
    vocabulary. The third exact-scale path next to the capped self-join
    and MinHash-LSH."""
    from randas_spark.operators.dedup import ppjoin_pairs

    # raw jaccard (no fround): numerator/denominator are exact ints on
    # both engines and the single division is the same IEEE op — the
    # llm_dedup_ngram_jaccard convention
    return ppjoin_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", k=5, threshold=0.5
    )


@register(
    "llm_dedup_containment",
    oracle=f"""
    WITH {_sql_jaccard_head(pair="<>")}
    SELECT id_a, id_b, CAST(n_inter AS DOUBLE) / sa.n_sh AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
    WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= 0.8
    """,
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment pairs (C(a→b) >= 0.8): catches a doc
    whose text is mostly CONTAINED in another (quotation, boilerplate
    absorption, subset pages) — invisible to symmetric Jaccard dedup
    (operators/dedup.containment_pairs; same Σfreq² equi-join skeleton,
    never n²)."""
    from randas_spark.operators.dedup import containment_pairs

    return containment_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", k=5, threshold=0.8
    )


@register(
    "llm_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {sql_cosine('a.embedding', 'b.embedding')} AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ({sql_cosine('a.embedding', 'b.embedding')}) >= 0.35
    """,
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold over all pairs.
    Cosine is a left-fold double expression on BOTH engines →
    bit-identical scores, no rounding slack (functions/vectors.py).
    Threshold 0.35 because the synthetic embeddings are near-orthogonal
    (max pairwise cosine ≈ 0.51) — a real corpus would use ~0.9.
    Bucketed variant: llm_knn_lsh."""
    from randas_spark.operators.dedup import embedding_near_pairs

    return embedding_near_pairs(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.35
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@register(
    "llm_knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT qid, c.vec_id AS cid,
               {sql_cosine('qv', 'c.embedding')} AS cos
        FROM embeddings c CROSS JOIN q
        WHERE qid <> c.vec_id
    )
    SELECT qid, cid, cos, rk FROM (
        SELECT qid, cid, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        FROM scored
    ) WHERE rk <= 10
    """,
)
def llm_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors against the corpus —
    broadcast queries, codegen cosine, windowed top-k
    (operators/similarity.knn_bruteforce)."""
    from randas_spark.operators.similarity import knn_bruteforce

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return knn_bruteforce(queries, emb, "vec_id", "vec_id", "embedding", top_k=10)


def _knn_lsh_oracle() -> str:
    # _sql_hyperplane_bucket is defined later in this module (import-time
    # ordering is fine: this helper runs at registration, after the whole
    # module body executes only if called lazily — so inline the import).
    from randas_spark.operators.similarity import _hyperplane

    bits = []
    for p in range(4):
        plane = "[" + ", ".join(repr(v) for v in _hyperplane(64, p)) + "]"
        d = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, len(embedding)), "
            f"i -> CAST(embedding[i] AS DOUBLE) * CAST(({plane})[i] AS DOUBLE))), "
            f"(acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN ({d}) >= 0 THEN {1 << p} ELSE 0 END)")
    bucket = "(" + " + ".join(bits) + ")"
    return f"""
    WITH b AS (
        SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM b WHERE vec_id < 5),
    scored AS (
        SELECT qid, c.vec_id AS cid, {sql_cosine('qv', 'c.embedding')} AS cos
        FROM b c JOIN q USING (bucket) WHERE qid <> c.vec_id
    )
    SELECT qid, cid, cos, rk FROM (
        SELECT qid, cid, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        FROM scored
    ) WHERE rk <= 10
    """


@register("llm_knn_lsh", oracle=_knn_lsh_oracle())
def llm_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH buckets (4 planes →
    16 buckets) — the scale path (operators/similarity.knn_lsh). The
    hyperplanes are md5-derived constants, so the oracle replays the
    identical bucketing from literal planes (same trick as
    llm_dedup_embedding_lsh) and the approximate ranking itself is
    value-hash-checked; pytest additionally bounds recall vs
    llm_knn_bruteforce."""
    from randas_spark.operators.similarity import knn_lsh

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return knn_lsh(queries, emb, "vec_id", "vec_id", "embedding", dim=64, top_k=10, n_planes=4)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@register(
    "llm_text_quality",
    oracle=f"""
    SELECT doc_id,
           {sql_quality_parts('text')['n_tokens']}  AS n_tokens,
           {sql_fround(sql_quality_parts('text')['mean_word_len'], 6)}   AS mean_word_len,
           {sql_fround(sql_quality_parts('text')['stopword_ratio'], 6)}  AS stopword_ratio,
           {sql_fround(sql_quality_parts('text')['alpha_ratio'], 6)}     AS alpha_ratio,
           {sql_fround(sql_quality_score('text'), 6)}                    AS quality
    FROM documents
    """,
)
def llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics + composite score per document — pure codegen
    expressions (functions/text.quality_*)."""
    d = t(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    return d.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        fround(m["mean_word_len"], 6).alias("mean_word_len"),
        fround(m["stopword_ratio"], 6).alias("stopword_ratio"),
        fround(m["alpha_ratio"], 6).alias("alpha_ratio"),
        fround(quality_score(F.col("text")), 6).alias("quality"),
    )


@register(
    "llm_langid",
    oracle=f"""
    SELECT lang_pred, count(*) AS n_docs FROM (
        SELECT {sql_lang_id('text')} AS lang_pred FROM documents
    ) GROUP BY lang_pred
    """,
)
def llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword marker argmax, fixed tiebreak) —
    distribution over the corpus (functions/text.lang_id)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "llm_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
           {sql_token_count_bpe_ish('text')} AS n_tokens_bpe
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish subword estimate
    (functions/text.token_count_bpe_ish)."""
    from randas_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_words"),
        token_count_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
    )


@register(
    "llm_fingerprint",
    oracle=f"""
    SELECT doc_id, {sql_fingerprint('text')} AS fp, lang, source
    FROM documents
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text
    (functions/text.fingerprint)."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"), "lang", "source")


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


#: the 8-dim ``feature`` arrays of extract_features / extract_frame_features
#: and extract_audio_features, by position
_IMAGE_FEATURES = (
    "f_width", "f_height", "f_channels", "f_mean", "f_std", "f_min", "f_max", "f_c0"
)
_AUDIO_FEATURES = (
    "f_dur", "f_rms", "f_peak", "f_zcr", "f_mean", "f_meanabs", "f_eratio", "f_centroid"
)


def _feature_columns(out: DataFrame, names: tuple[str, ...], *keys) -> DataFrame:
    """``keys`` plus ``out``'s ``feature`` array spread into ``names``: the
    image dimensions (f_width, f_height, f_channels) are exact, every
    other feature is fround(·, 6) — the Spark side of
    :func:`_sql_image_features` / :func:`_sql_audio_features`."""
    f = F.col("feature")
    return out.select(
        *keys,
        *(
            (f[i] if name in _IMAGE_FEATURES[:3] else fround(f[i], 6)).alias(name)
            for i, name in enumerate(names)
        ),
    )


def _sql_digest(cols: str = "doc_id") -> str:
    """``dig``: the 16 md5(text) digest bytes ``dg`` of every document
    (plus ``cols``) — the seed every image and audio payload is built
    from, for the oracles that replay those payloads."""
    return f"""dig AS (
        SELECT {cols},
               list_transform(generate_series(0, 15),
                   k -> CAST(('0x' || substr(md5(text), 2*k + 1, 2)) AS INT)) AS dg
        FROM documents
    )"""


def _sql_image_features(side: int, channels: int, keys: str = "doc_id") -> str:
    """Final SELECT of the image-feature replays: the eight
    png.pixel_features values of a ``side``×``side``×``channels`` image
    from the caller's ``stats`` CTE (mean_px, var_px, minp, maxp, c0m —
    each codec derives its own pixels)."""
    return f"""SELECT {keys}, 'image' AS modality,
           CAST({side} AS DOUBLE) AS f_width, CAST({side} AS DOUBLE) AS f_height,
           CAST({channels} AS DOUBLE) AS f_channels,
           {sql_fround('mean_px / 255', 6)} AS f_mean,
           {sql_fround('sqrt(var_px) / 255', 6)} AS f_std,
           {sql_fround('minp / 255', 6)} AS f_min,
           {sql_fround('maxp / 255', 6)} AS f_max,
           {sql_fround('c0m / 255', 6)} AS f_c0
    FROM stats"""


def _sql_audio_features(n: int, n_bytes: int) -> str:
    """``feat`` CTE and final SELECT of the audio-feature replays: the
    eight wav.audio_features values of the caller's ``smp`` CTE (doc_id,
    ``s`` = the ``n`` decoded samples at 8 kHz), as ordered
    list_reduce sums in Python's accumulation order; ``n_bytes`` is the
    payload size the container writer must produce."""
    h = n // 2
    return f"""feat AS (
        SELECT doc_id,
               list_reduce(list_transform(s, x -> x * x), (a, b) -> a + b) AS ss,
               list_reduce(s, (a, b) -> a + b) AS sm,
               list_reduce(list_transform(s, x -> abs(x)), (a, b) -> a + b) AS sa,
               list_max(list_transform(s, x -> abs(x))) AS peak,
               CAST(len(list_filter(generate_series(2, {n}),
                        i -> (s[i-1] < 0) <> (s[i] < 0))) AS DOUBLE) / {n - 1} AS zcr,
               list_reduce(list_transform(s[1:{h}], x -> x * x), (a, b) -> a + b) AS e1r,
               list_reduce(list_transform(s[{h + 1}:{n}], x -> x * x), (a, b) -> a + b) AS e2r
        FROM smp
    )
    SELECT doc_id, 'audio' AS modality,
           CAST({n_bytes} AS BIGINT) AS n_bytes,
           CAST(8000 AS BIGINT) AS sample_rate,
           {sql_fround(f'CAST({n} AS DOUBLE) / 8000', 6)} AS f_dur,
           {sql_fround(f'sqrt(ss / {n})', 6)} AS f_rms,
           {sql_fround('peak', 6)} AS f_peak,
           {sql_fround('zcr', 6)} AS f_zcr,
           {sql_fround(f'sm / {n}', 6)} AS f_mean,
           {sql_fround(f'sa / {n}', 6)} AS f_meanabs,
           {sql_fround('(CASE WHEN e1r = 0 THEN 1e-30 ELSE e1r END) / '
                       '(CASE WHEN e2r = 0 THEN 1e-30 ELSE e2r END)', 6)} AS f_eratio,
           {sql_fround('zcr * 8000 / 2.0', 6)} AS f_centroid
    FROM feat"""


@register(
    "llm_multimodal_features",
    oracle=f"""
    WITH {_sql_digest()}, px AS (
        SELECT doc_id, dg,
               flatten(list_transform(generate_series(1, 12), r -> dg)) AS pixels,
               CAST(list_sum(dg) * 12 AS DOUBLE) / 192 AS mean_px
        FROM dig
    ), stats AS (
        SELECT doc_id, mean_px,
               list_reduce(list_transform(pixels,
                               p -> (p - mean_px) * (p - mean_px)),
                           (a, b) -> a + b) / 192 AS var_px,
               CAST(list_min(dg) AS DOUBLE) AS minp,
               CAST(list_max(dg) AS DOUBLE) AS maxp,
               CAST(list_sum(list_transform(generate_series(0, 63),
                                 k -> dg[((3*k) % 16) + 1])) AS DOUBLE) / 64 AS c0m
        FROM px
    )
    {_sql_image_features(8, 3)}
    """,
)
def llm_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: every document carries a valid 8×8
    RGB PNG (attach_png_payload — md5(text)-seeded pixels, encoded by the
    stdlib codec) and extract_features decodes the actual scanlines via
    operators/png.decode_png inside the mapInPandas stage — no stub in
    this path (fake=False). The oracle recomputes every feature FROM
    FIRST PRINCIPLES in DuckDB: pixel bytes are the md5 digest tiled 12×,
    so digest arithmetic (same IEEE op order as png.pixel_features)
    must reproduce the decoded-pixel statistics exactly — a value-hash
    proof that encode → decode round-trips bit-perfectly."""
    from randas_spark.operators.multimodal import attach_png_payload, extract_features

    d = t(spark, sf_dir, "documents")
    out = extract_features(attach_png_payload(d, "doc_id", "text"), fake=False)
    return _feature_columns(out, _IMAGE_FEATURES, "doc_id", "modality")


@register(
    "llm_multimodal_webp",
    oracle=f"""
    WITH {_sql_digest()}, px AS (
        SELECT doc_id, dg,
               flatten(list_transform(generate_series(1, 16), r -> dg)) AS pixels,
               CAST(list_sum(dg) * 16 AS DOUBLE) / 256 AS mean_px
        FROM dig
    ), stats AS (
        SELECT doc_id, mean_px,
               list_reduce(list_transform(pixels,
                               p -> (p - mean_px) * (p - mean_px)),
                           (a, b) -> a + b) / 256 AS var_px,
               CAST(list_min(dg) AS DOUBLE) AS minp,
               CAST(list_max(dg) AS DOUBLE) AS maxp,
               CAST(list_sum(list_transform(generate_series(0, 63),
                                 k -> dg[((4*k) % 16) + 1])) AS DOUBLE) / 64 AS c0m
        FROM px
    )
    {_sql_image_features(8, 4)}
    """,
)
def llm_multimodal_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_multimodal_features' lossless-WebP twin (r13, VERDICT r12
    order #4 landed the codec): every document carries a valid 8×8 RGBA
    VP8L WebP (attach_webp_payload — md5(text)-seeded pixels, encoded by
    operators/vp8l.encode_vp8l_rgba) and extract_features decodes the
    actual prefix-coded bitstream via operators/vp8l.decode_vp8l_payload
    inside the mapInPandas stage — fake=False, no stub. The oracle
    recomputes every feature FROM FIRST PRINCIPLES in DuckDB: RGBA
    pixels are the 16-byte digest tiled 16× (8*8*4 = 256 bytes), so
    digest arithmetic (the same IEEE op order as png.pixel_features)
    must reproduce the decoded-pixel statistics exactly — a value-hash
    proof that the WebP encode → decode round-trips bit-perfectly.
    Scale shape: identical to the PNG twin — an embarrassingly parallel
    mapInPandas scan, no shuffle."""
    from randas_spark.operators.multimodal import attach_webp_payload, extract_features

    d = t(spark, sf_dir, "documents")
    out = extract_features(attach_webp_payload(d, "doc_id", "text"), fake=False)
    return _feature_columns(out, _IMAGE_FEATURES, "doc_id", "modality")


@register(
    "llm_multimodal_bmp",
    oracle=f"""
    WITH {_sql_digest()}, rev AS (
        SELECT doc_id,
               list_transform(generate_series(0, 15), k -> dg[16 - k]) AS dr
        FROM dig
    ), px AS (
        SELECT doc_id, dr,
               flatten(list_transform(generate_series(1, 12), r -> dr)) AS pixels,
               CAST(list_sum(dr) * 12 AS DOUBLE) / 192 AS mean_px
        FROM rev
    ), stats AS (
        SELECT doc_id, mean_px,
               list_reduce(list_transform(pixels,
                               p -> (p - mean_px) * (p - mean_px)),
                           (a, b) -> a + b) / 192 AS var_px,
               CAST(list_min(dr) AS DOUBLE) AS minp,
               CAST(list_max(dr) AS DOUBLE) AS maxp,
               CAST(list_sum(list_transform(generate_series(0, 63),
                                 k -> dr[((3*k) % 16) + 1])) AS DOUBLE) / 64 AS c0m
        FROM px
    )
    {_sql_image_features(8, 3)}
    """,
)
def llm_multimodal_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_multimodal_features' BMP twin (r13): every document carries a
    valid 8×8 24-bit BI_RGB bottom-up BMP (attach_bmp_payload — the
    REVERSED digest tiled 12×, encoded by imagefmt.encode_bmp) and
    extract_features decodes the actual BGR/bottom-up scanlines via
    operators/imagefmt.decode_bmp inside the mapInPandas stage —
    fake=False, no stub. The oracle recomputes every feature FROM FIRST
    PRINCIPLES in DuckDB over the reversed digest bytes (the same IEEE
    op order as png.pixel_features), so the value hash proves BMP
    encode → BGR/bottom-up normalize → feature chain bit-exact on every
    document — and the reversed tiling makes any accidental PNG/BMP
    fixture cross-wiring hash-visible. Scale shape: embarrassingly
    parallel mapInPandas scan, zero shuffles."""
    from randas_spark.operators.multimodal import attach_bmp_payload, extract_features

    d = t(spark, sf_dir, "documents")
    out = extract_features(attach_bmp_payload(d, "doc_id", "text"), fake=False)
    return _feature_columns(out, _IMAGE_FEATURES, "doc_id", "modality")


@register(
    "llm_multimodal_audio_probe",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'pcm' WHEN 1 THEN 'mulaw'
                           WHEN 2 THEN 'alaw' ELSE 'ima_adpcm' END AS codec,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(CASE doc_id % 4 WHEN 0 THEN 512 WHEN 3 THEN 129
                                ELSE 128 END AS BIGINT) AS n_samples
    FROM documents
    """,
)
def llm_multimodal_audio_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only metadata scan over a MIXED-codec audio corpus (r13):
    attach_audio_mixed gives each document a real PCM16 / μ-law / A-law
    / IMA-ADPCM WAV by doc_id mod 4, and probe_audio_meta reads ONLY the
    fmt/fact/data chunk headers (sniff_audio_meta — never the sample
    stream) to emit (codec, rate, channels, n_samples) per document.
    This is the 100 TB metadata-extraction shape: heterogeneous binary
    column, header-dispatch, zero decode cost, zero shuffles. The
    oracle pins the full metadata row per parity class — PCM counts
    derive from the data size, compressed counts from the mandatory
    fact chunk, so the value hash proves the container writers and the
    header parser agree on every field."""
    from randas_spark.operators.multimodal import attach_audio_mixed, probe_audio_meta

    d = t(spark, sf_dir, "documents")
    return probe_audio_meta(attach_audio_mixed(d, "doc_id", "text"))


@register(
    "llm_multimodal_gif_frames",
    oracle=f"""
    WITH {_sql_digest()}, fr AS (
        SELECT doc_id, dg, unnest([0, 1]) AS frame_idx FROM dig
    ), px AS (
        SELECT doc_id, frame_idx,
               list_transform(generate_series(0, 191), b ->
                   CASE b % 3
                        WHEN 0 THEN dg[((b // 3) + 5 * (2 * frame_idx)) % 16 + 1]
                        WHEN 1 THEN 255 - dg[((b // 3) + 5 * (2 * frame_idx)) % 16 + 1]
                        ELSE (dg[((b // 3) + 5 * (2 * frame_idx)) % 16 + 1] * 7 + 3) % 256
                   END) AS p
        FROM fr
    ), st AS (
        SELECT doc_id, frame_idx, p,
               CAST(list_sum(p) AS DOUBLE) / 192 AS mean_px
        FROM px
    ), stats AS (
        SELECT doc_id, frame_idx, mean_px,
               list_reduce(list_transform(p,
                               x -> (x - mean_px) * (x - mean_px)),
                           (a, b) -> a + b) / 192 AS var_px,
               CAST(list_min(p) AS DOUBLE) AS minp,
               CAST(list_max(p) AS DOUBLE) AS maxp,
               CAST(list_sum(list_transform(generate_series(0, 63),
                                 j -> p[3*j + 1])) AS DOUBLE) / 64 AS c0m
        FROM st
    )
    {_sql_image_features(8, 3, "doc_id, frame_idx")}
    """,
)
def llm_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-style frame sampling end-to-end (r13 — this stage was
    a stub before): every document carries a 4-frame 8×8 animated GIF
    (attach_gif_payload — frame f's palette indices are the digest
    rotated by 5f over the fixed (i, 255−i, (7i+3) mod 256) palette,
    encoded by imagefmt.encode_gif_animation's literal-code LZW) and
    sample_frames(max_frames=2, fake=False) decodes + composites the
    actual GIF89a stream, picks frames 0 and 2 by even stride, and
    re-encodes each canvas as PNG; extract_frame_features then decodes
    THOSE and emits per-(doc, frame) features. The oracle re-derives
    frame pixels FROM FIRST PRINCIPLES in DuckDB — palette arithmetic
    over the rotated digest, then the same ordered IEEE feature math —
    so the value hash proves GIF encode → LZW decode → compositing →
    stride sampling → PNG round-trip bit-exact on every document and
    sampled frame. Scale shape: two chained mapInPandas scan stages
    (row-expanding then 1:1), zero shuffles; output rows bounded by
    max_frames per document."""
    from randas_spark.operators.multimodal import (
        attach_gif_payload,
        extract_frame_features,
        sample_frames,
    )

    d = t(spark, sf_dir, "documents")
    frames = sample_frames(
        attach_gif_payload(d, "doc_id", "text", n_frames=4), max_frames=2, fake=False
    )
    out = extract_frame_features(frames, fake=False)
    return _feature_columns(out, _IMAGE_FEATURES, "doc_id", "frame_idx", "modality")


def _gif_resize_block_sum_sql() -> str:
    """The composed GIF-frame → 2×2-box-filter byte sum for the
    llm_multimodal_pipeline_real oracle: four palette-mapped digest
    lookups per output byte (channel map applied BEFORE summation —
    (7u+3) mod 256 does not commute with the block sum)."""
    ch = "k % 3"
    terms = []
    for dy in (0, 1):
        for dx in (0, 1):
            u = (
                f"dg[(((2*(k // 12) + {dy}) * 8 + 2*((k // 3) % 4) + {dx})"
                f" + 10 * frame_idx) % 16 + 1]"
            )
            terms.append(
                f"(CASE {ch} WHEN 0 THEN {u} WHEN 1 THEN 255 - {u}"
                f" ELSE ({u} * 7 + 3) % 256 END)"
            )
    return " + ".join(terms)


@register(
    "llm_multimodal_pipeline_real",
    oracle=f"""
    WITH {_sql_digest()}, fr AS (
        SELECT doc_id, dg, unnest([0, 1]) AS frame_idx FROM dig
    ), rz AS (
        SELECT doc_id, frame_idx,
               list_transform(generate_series(0, 47),
                   k -> ({_gif_resize_block_sum_sql()} + 2) // 4) AS px
        FROM fr
    ), st AS (
        SELECT doc_id, frame_idx, px,
               CAST(list_sum(px) AS DOUBLE) / 48 AS mean_px
        FROM rz
    ), stats AS (
        SELECT doc_id, frame_idx, mean_px,
               list_reduce(list_transform(px,
                               p -> (p - mean_px) * (p - mean_px)),
                           (a, b) -> a + b) / 48 AS var_px,
               CAST(list_min(px) AS DOUBLE) AS minp,
               CAST(list_max(px) AS DOUBLE) AS maxp,
               CAST(list_sum(list_transform(generate_series(0, 15),
                                 j -> px[3*j + 1])) AS DOUBLE) / 16 AS c0m
        FROM st
    )
    {_sql_image_features(4, 3, "doc_id, frame_idx")}
    """,
)
def llm_multimodal_pipeline_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL full multimodal chain (r13, the 300th registry query):
    attach a 4-frame animated GIF per document → sample_frames
    (fake=False: LZW decode + GIF89a compositing + even stride, frames
    0 and 2 as PNG rows) → resize_images (fake=False: PNG decode +
    exact 2×2 int64 box filter + PNG re-encode) → extract_features
    (decode the RESIZED PNG). Every stage runs a real codec kernel —
    the fake-fixture twin llm_multimodal_pipeline pins the plumbing,
    this row proves the actual byte chain. frame_idx rides through the
    1:1 resize stage folded into the key (doc_id·2 + frame_idx) and is
    split back at the end. The oracle composes the two already-proven
    formulas — palette arithmetic over the rotated digest, then the
    round-half-up box filter (channel map applied BEFORE the block sum,
    which does not commute) — so the value hash proves GIF encode →
    decode → composite → sample → resample → PNG re-encode → re-decode
    bit-exact per document and frame. Scale shape: three chained
    mapInPandas scan stages, zero shuffles, output bounded at 2 rows
    per document."""
    from randas_spark.operators.multimodal import (
        attach_gif_payload,
        extract_features,
        resize_images,
        sample_frames,
    )

    d = t(spark, sf_dir, "documents")
    frames = sample_frames(
        attach_gif_payload(d, "doc_id", "text", n_frames=4), max_frames=2, fake=False
    )
    keyed = frames.select(
        (F.col("doc_id") * 2 + F.col("frame_idx")).alias("doc_id"),
        F.col("frame").alias("payload"),
        "meta",
    )
    out = extract_features(resize_images(keyed, 4, 4, fake=False), fake=False)
    return _feature_columns(
        out,
        _IMAGE_FEATURES,
        ((F.col("doc_id") - F.col("doc_id") % 2) / 2).cast("long").alias("doc_id"),
        (F.col("doc_id") % 2).alias("frame_idx"),
        "modality",
    )


@register(
    "llm_multimodal_resize",
    oracle=f"""
    WITH {_sql_digest()}, rz AS (
        SELECT doc_id,
               list_transform(generate_series(0, 47), j ->
                   (  dg[((((j // 12) * 2    ) * 8 + ((j // 3) % 4) * 2    ) * 3 + (j % 3)) % 16 + 1]
                    + dg[((((j // 12) * 2    ) * 8 + ((j // 3) % 4) * 2 + 1) * 3 + (j % 3)) % 16 + 1]
                    + dg[((((j // 12) * 2 + 1) * 8 + ((j // 3) % 4) * 2    ) * 3 + (j % 3)) % 16 + 1]
                    + dg[((((j // 12) * 2 + 1) * 8 + ((j // 3) % 4) * 2 + 1) * 3 + (j % 3)) % 16 + 1]
                    + 2) // 4) AS px
        FROM dig
    ), st AS (
        SELECT doc_id, px, CAST(list_sum(px) AS DOUBLE) / 48 AS mean_px FROM rz
    ), stats AS (
        SELECT doc_id, mean_px,
               list_reduce(list_transform(px,
                               p -> (p - mean_px) * (p - mean_px)),
                           (a, b) -> a + b) / 48 AS var_px,
               CAST(list_min(px) AS DOUBLE) AS minp,
               CAST(list_max(px) AS DOUBLE) AS maxp,
               CAST(list_sum(list_transform(generate_series(0, 15),
                                 k -> px[3*k + 1])) AS DOUBLE) / 16 AS c0m
        FROM st
    )
    {_sql_image_features(4, 3)}
    """,
)
def llm_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end-to-end (r13 — this stage was a stub before):
    every document's 8×8 RGB PNG (attach_png_payload, digest-tiled
    pixels) goes through resize_images(4, 4, fake=False) — decode via
    the stdlib PNG codec, operators/raster.box_downscale's exact
    integer 2×2 box filter (round-half-up in int64, no float in the
    path), re-encode as PNG — and extract_features then decodes the
    RESIZED PNG and computes pixel features. The oracle re-derives the
    box filter FROM FIRST PRINCIPLES in DuckDB: output byte (y,x,c) =
    (Σ over the 2×2 block of digest[((2y+dy)·8 + 2x+dx)·3 + c mod 16]
    + 2) // 4, then the same ordered IEEE feature math as the PNG twin
    — so the value hash proves decode → box resample → PNG re-encode →
    re-decode bit-exact on every document. Scale shape: two chained
    mapInPandas scan stages, zero shuffles."""
    from randas_spark.operators.multimodal import (
        attach_png_payload,
        extract_features,
        resize_images,
    )

    d = t(spark, sf_dir, "documents")
    resized = resize_images(attach_png_payload(d, "doc_id", "text"), 4, 4, fake=False)
    out = extract_features(resized, fake=False)
    return _feature_columns(out, _IMAGE_FEATURES, "doc_id", "modality")


@register(
    "llm_multimodal_pipeline",
    oracle="""
    SELECT doc_id,
           CAST(4 AS BIGINT) AS n_frames,
           CAST(64 AS BIGINT) AS total_frame_bytes
    FROM documents
    """,
)
def llm_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal chain: attach payload → resize → frame-sample →
    per-document frame stats (operators/multimodal). Three chained
    mapInPandas stages plus one aggregation — the canonical decode/
    transform/sample pipeline shape. This fixture chain runs the
    fake=True kernels over NON-image payloads (raw utf-8 bytes), pinning
    the row-expansion multiplicity and byte accounting of the plumbing
    itself; the REAL kernels behind the same stages are proven by their
    own queries (llm_multimodal_resize for the raster path,
    llm_multimodal_gif_frames for GIF89a frame sampling). The fake
    resize emits a fixed 64-byte budget (64×64//64) and the sampler
    slices min(4, 64//16) = 4 frames of 16 bytes, so the oracle's
    per-doc constants (4 frames, 64 bytes) verify the chain
    end-to-end."""
    from randas_spark.operators.multimodal import (
        attach_fake_payload,
        resize_images,
        sample_frames,
    )

    d = t(spark, sf_dir, "documents")
    frames = sample_frames(
        resize_images(attach_fake_payload(d, "doc_id", "text"), 64, 64, fake=True),
        frame_bytes=16,
        max_frames=4,
        fake=True,
    )
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame")).alias("total_frame_bytes"),
    )


@register(
    "llm_feature_hashing",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({sql_tokens('text')}) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    cells AS (
        SELECT doc_id,
               (('0x' || substr(md5(tok), 1, 8))::BIGINT) % 64 AS bucket,
               CAST(sum(((('0x' || substr(md5(tok), 9, 1))::BIGINT) % 2) * 2 - 1)
                    AS BIGINT) AS v
        FROM tok GROUP BY doc_id, bucket
    ),
    nz AS (SELECT * FROM cells WHERE v != 0)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS nnz,
           {sql_fround('sqrt(CAST(sum(v * v) AS BIGINT))', 6)} AS l2,
           string_agg(bucket || ':' || v, ',' ORDER BY bucket) AS feats
    FROM nz GROUP BY doc_id
    """,
)
def llm_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al., ICML'09) over the
    documents table: 64-bucket signed-hash sparse vectors per doc, as
    (nnz, l2, "bucket:value,..." in bucket order) —
    operators/retrieval.feature_hashing; md5-derived bucket and sign
    hashes make the vectors bit-identical cross-engine. The
    vocabulary-free counterpart to llm_vocab_build/apply: fixed width,
    no OOV, no broadcast state — the featurizer that still works when
    the vocabulary itself would not fit."""
    from randas_spark.operators.retrieval import feature_hashing

    d = t(spark, sf_dir, "documents")
    return feature_hashing(d, "doc_id", "text", n_buckets=64)


@register(
    "llm_tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents)
        WHERE term <> ''
        GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT doc_id, term,
           {sql_fround('tf * ln(n_docs / df)', 6)} AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf * ln(n_docs / df) DESC, term) <= 3
    """,
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF from first principles as DataFrame ops (SURVEY.md §7.2 M4
    'n-grams, TF-IDF'): explode terms → per-doc TF → corpus DF →
    tf·ln(N/df), top-3 terms per doc.

    Scale: two shuffles (term-count, df) + a broadcast of the tiny df
    table back onto tf (Catalyst picks it — df has |vocab| rows); no
    MLlib fitting step, so the pipeline composes with plain SQL tooling.
    """
    from randas_spark.functions.text import tokens
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    n_docs = float(table_num_rows(sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", F.col("tf") * F.log(F.lit(n_docs) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", fround(F.col("score"), 6).alias("tfidf"))
    )


@register(
    "llm_corpus_filter",
    oracle=f"""
    SELECT doc_id, lang, source,
           {sql_quality_parts('text')['n_tokens']} AS n_tokens,
           {sql_fround(sql_quality_score('text'), 6)} AS quality
    FROM documents
    WHERE {sql_quality_parts('text')['n_tokens']} BETWEEN 10 AND 5000
      AND {sql_quality_score('text')} >= 0.5
      AND {sql_lang_id('text')} = 'en'
    """,
)
def llm_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data quality gate: length bounds + composite
    quality threshold + language filter, composed from the codegen text
    metrics — one scan, zero shuffles, trivially parallel at 100TB."""
    d = t(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            m["n_tokens"].alias("n_tokens"),
            fround(quality_score(F.col("text")), 6).alias("quality"),
            quality_score(F.col("text")).alias("__q"),
            lang_id(F.col("text")).alias("__lang"),
        )
        .filter(
            F.col("n_tokens").between(10, 5000)
            & (F.col("__q") >= 0.5)
            & (F.col("__lang") == "en")
        )
        .drop("__q", "__lang")
    )


@register(
    "llm_dedup_pipeline",
    oracle=f"""
    WITH fps AS (
        SELECT doc_id, {sql_fingerprint('text')} AS fp FROM documents
    ), exact_survivors AS (
        SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp
    ), {_sql_jaccard_head("documents WHERE doc_id IN (SELECT doc_id FROM exact_survivors)")}, near_drop AS (
        SELECT DISTINCT id_b AS doc_id
        {_sql_jaccard_edges(0.6)}
    )
    SELECT doc_id FROM exact_survivors
    WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
    """,
)
def llm_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pass: exact dedup (keep min id per fingerprint)
    THEN near-dup removal (drop the higher id of every >=0.6-Jaccard
    pair) — the standard two-stage corpus cleaning order, cheapest pass
    first so the expensive pair stage sees a smaller corpus.

    The near-dup stage here uses the exact shingle join so the whole
    pipeline is oracle-checkable; at scale swap in
    minhash_lsh_pairs_portable — identical pair semantics (verified
    candidates), banded candidates.
    """
    from randas_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs

    d = t(spark, sf_dir, "documents")
    survivors = exact_dedup(d.select("doc_id", "text"), "doc_id", "text")
    pairs = ngram_jaccard_pairs(survivors, "doc_id", "text", k=5, threshold=0.6)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return survivors.join(drop, "doc_id", "left_anti").select("doc_id")


# --------------------------------------------------------------------------
# Deterministic corpus sampling (operators/sampling.py)
# --------------------------------------------------------------------------


@register(
    "llm_sample_systematic",
    oracle="""
    SELECT doc_id, lang FROM documents WHERE ((doc_id % 10) + 10) % 10 = 3
    """,
)
def llm_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic 1-in-10 corpus sample (doc_id % 10 == 3): a pure scan
    predicate — no shuffle, no RNG state, same rows on every engine."""
    from randas_spark.operators.sampling import systematic_sample

    d = t(spark, sf_dir, "documents")
    return systematic_sample(d, "doc_id", 10, 3).select("doc_id", "lang")


@register(
    "llm_sample_hash",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) < '33333333'
    """,
)
def llm_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-threshold Bernoulli sample at rate 0.2 — selection derived
    from md5(doc_id), so the sampled set is identical across runs,
    partitionings, and engines (the DuckDB oracle selects the SAME rows,
    which is the point: reproducible corpus subsetting at 100 TB)."""
    from randas_spark.operators.sampling import hash_sample

    d = t(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 0.2).select("doc_id", "source")


@register(
    "llm_sample_topk",
    oracle="""
    SELECT doc_id, source FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100
    """,
)
def llm_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-100 deterministic sample (operators/sampling.
    fixed_size_sample): the 100 smallest-md5 docs — size-based
    reproducible subsetting (vs llm_sample_hash's rate-based form).
    Plans as TakeOrderedAndProject: per-partition heaps, no global
    sort; the sample evolves incrementally as the corpus grows."""
    from randas_spark.operators.sampling import fixed_size_sample

    d = t(spark, sf_dir, "documents")
    return fixed_size_sample(d, "doc_id", 100).select("doc_id", "source")


@register(
    "llm_sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 25
    """,
)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-allocation stratified sample: exactly 25 docs per language,
    chosen by md5-order (a deterministic shuffle within each stratum).
    One shuffle on lang; the window's rank cutoff keeps state bounded."""
    from randas_spark.operators.sampling import stratified_sample

    d = t(spark, sf_dir, "documents")
    return stratified_sample(d, ["lang"], 25, "doc_id").select("doc_id", "lang")


@register(
    "llm_train_test_split",
    oracle="""
    SELECT lang,
           CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '19999999'
                THEN 'test' ELSE 'train' END AS split,
           count(*) AS n_docs
    FROM documents GROUP BY lang, split
    """,
)
def llm_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% test split labeled in one narrow pass, then
    audited per language — membership is recomputable from doc_id alone,
    so the split can never drift between pipeline runs."""
    from randas_spark.operators.sampling import train_test_split

    d = t(spark, sf_dir, "documents")
    return (
        train_test_split(d, "doc_id", 0.1)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "llm_dedup_levenshtein",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.text, b.text) AS distance
    FROM documents a JOIN documents b
      ON a.source = b.source AND a.lang = b.lang
     AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 5
    WHERE levenshtein(a.text, b.text) <= 250
    """,
)
def llm_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs, blocked by (source, lang) and a
    length band (operators/dedup.levenshtein_near_pairs — the O(len²)
    distance only runs on blocked candidates; both engines implement
    classic Wagner-Fischer so the distances agree exactly)."""
    from randas_spark.operators.dedup import levenshtein_near_pairs

    d = t(spark, sf_dir, "documents")
    return levenshtein_near_pairs(
        d, "doc_id", "text", ["source", "lang"],
        max_len_diff=5, max_distance=250, len_col="n_chars",
    )


# --------------------------------------------------------------------------
# Sparse retrieval (operators/retrieval.py)
# --------------------------------------------------------------------------


@register(
    "llm_inverted_index",
    oracle=f"""
    SELECT term, count(*) AS df,
           CAST(to_json(list_sort(list(doc_id))) AS VARCHAR) AS postings
    FROM (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents
        ) WHERE term <> ''
    )
    GROUP BY term
    """,
)
def llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: term → (document frequency,
    sorted posting list) via explode + groupBy + sort_array
    (operators/retrieval.inverted_index — postings sorted so the result
    is deterministic and mergeable). The posting list ships as its JSON
    rendering (`[1,5,9]` — identical formatting on both engines) because
    the driver's pandas canonicalizer can't hash list cells."""
    from randas_spark.operators.retrieval import inverted_index

    out = inverted_index(t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.withColumn("postings", F.to_json("postings"))


from randas_spark.operators.retrieval import sql_bm25_scored

_BM25_TERMS = ["spark", "join", "window"]
_BM25_SCORED = sql_bm25_scored("documents", "doc_id", "text", _BM25_TERMS)


@register(
    "llm_bm25_topk",
    oracle=f"""
    WITH {_BM25_SCORED}, rounded AS (
        SELECT doc_id, {sql_fround('raw', 6)} AS bm25 FROM scored
    )
    SELECT doc_id, bm25, rk FROM (
        SELECT doc_id, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        FROM rounded
    ) WHERE rk <= 10
    """,
)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {spark, join, window}
    (operators/retrieval.bm25_topk, k1=1.2 b=0.75 — pure built-in
    compositions, ranked on the 6-digit-rounded score with doc_id
    tiebreak so the cut is engine-deterministic)."""
    from randas_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        _BM25_TERMS, k1=1.2, b=0.75, top_k=10,
    )


_REP_TOTAL, _REP_DISTINCT = sql_repetition_parts("text", 3)
_REP_DUP = f"({_REP_TOTAL} - {_REP_DISTINCT}) / CAST({_REP_TOTAL} AS DOUBLE)"


@register(
    "llm_repetition_filter",
    oracle=f"""
    SELECT doc_id,
           {_REP_TOTAL} AS n_grams,
           {_REP_DISTINCT} AS n_distinct,
           {sql_fround(_REP_DUP, 6)} AS dup_frac,
           {_REP_DUP} <= 0.2 AS keep
    FROM documents
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality gate: per-document duplicate
    3-gram fraction (templated/looping text scores high) with a keep
    flag at 0.2 (functions/text.repetition_stats — pure codegen array
    ops; the scan is the whole cost, no shuffle at all)."""
    from randas_spark.functions.text import repetition_stats

    total, distinct, dup = repetition_stats(F.col("text"), 3)
    d = t(spark, sf_dir, "documents")
    # two-stage select: the distinct-shingle count is an interpreted HOF
    # subtree (no codegen CSE), so deriving dup_frac and keep directly
    # from `dup` would re-evaluate the shingling once per output column;
    # staged as columns it runs once per row
    counts = d.select(
        "doc_id", total.alias("n_grams"), distinct.alias("n_distinct")
    )
    dup_c = (F.col("n_grams") - F.col("n_distinct")).cast("double") / F.col("n_grams")
    return counts.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        fround(dup_c, 6).alias("dup_frac"),
        (dup_c <= 0.2).alias("keep"),
    )


@register(
    "llm_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_sql_jaccard_head()}, edges AS (
        SELECT id_a, id_b
        {_sql_jaccard_edges(0.3)}
    ), und AS (
        SELECT id_a AS u, id_b AS v FROM edges
        UNION
        SELECT id_b, id_a FROM edges
    ), reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.node, e.v FROM reach r JOIN und e ON e.u = r.lbl
    )
    SELECT node AS doc_id, min(lbl) AS cluster, node = min(lbl) AS keep
    FROM reach GROUP BY node
    """,
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters: n-gram Jaccard pair edges (>= 0.3)
    closed under connectivity via star CC
    (operators/dedup.dedup_cluster_assignments), every doc assigned a
    cluster and a keep flag on the cluster minimum. The Spark iteration
    is driver-side control flow over distributed star rounds
    (SURVEY.md §2.12 'iterative algorithms'); the oracle expresses the
    same fixpoint as a DuckDB RECURSIVE CTE (reachability closure →
    min reachable label), so the full clustering carries a value-hash
    check; pytest additionally verifies against a driver-side
    union-find."""
    from randas_spark.operators.dedup import dedup_cluster_assignments, ngram_jaccard_pairs

    d = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.3)
    return dedup_cluster_assignments(d, pairs, "doc_id")


from randas_spark.queries import REGISTRY as _REGISTRY


@register("llm_dedup_clusters_star", oracle=_REGISTRY["llm_dedup_clusters"].oracle)
def llm_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same transitive closure as llm_dedup_clusters, running the
    identical code: alternating large-star/small-star connected
    components (Kiveris et al.), O(log² n) rounds on high-diameter /
    adversarial graphs. Both names stay registered with the same
    recursive-CTE oracle; pytest proves equality with a union-find plus
    the round-count bound on a chain graph."""
    return llm_dedup_clusters(spark, sf_dir)


_BM25_RANKED_CTE = f"""{_BM25_SCORED}, sparse AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY {sql_fround('raw', 6)} DESC, doc_id) AS rk
        FROM scored
    )"""

_DENSE_RANKED_CTE = f"""
    dense_scored AS (
        SELECT vec_id AS doc_id, {sql_cosine('embedding', 'qv')} AS cos
        FROM embeddings
        CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    ), dense AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY {sql_fround('cos', 6)} DESC, doc_id) AS rk
        FROM dense_scored
    )"""


@register(
    "llm_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_RANKED_CTE}, {_DENSE_RANKED_CTE},
    shortlists AS (
        SELECT doc_id, rk FROM sparse WHERE rk <= 50
        UNION ALL
        SELECT doc_id, rk FROM dense WHERE rk <= 50
    ), fused AS (
        SELECT doc_id,
               {sql_fround('sum(1.0 / (60 + rk))', 9)} AS rrf,
               count(*) AS n_lists
        FROM shortlists GROUP BY doc_id
    )
    SELECT doc_id, rrf, n_lists, rk FROM (
        SELECT doc_id, rrf, n_lists,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
        FROM fused
    ) WHERE rk <= 10
    """,
)
def llm_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 sparse shortlist (terms {spark, join,
    window}) fused with a dense cosine shortlist (query = embedding 0)
    by reciprocal-rank fusion (operators/retrieval.rrf_fuse, k=60) —
    rank-based, so the two systems' score scales never mix. Both
    shortlists rank on rounded scores with id tiebreaks, making the
    fusion engine-deterministic end to end."""
    from randas_spark.functions.vectors import cosine as cos_fn
    from randas_spark.operators.retrieval import bm25_topk, rrf_fuse

    d = t(spark, sf_dir, "documents")
    sparse = bm25_topk(d, "doc_id", "text", _BM25_TERMS, top_k=50)

    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dense_scored = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        cos_fn(F.col("embedding"), F.col("qv")).alias("cos"),
    )
    # TakeOrderedAndProject-shaped shortlist: orderBy().limit(50) keeps
    # per-partition top-50s and merges on the driver — the rank window
    # then touches only the 50 survivors, never the full scored corpus.
    dense_top = dense_scored.withColumn("cos_r", fround(F.col("cos"), 6)).orderBy(
        F.desc("cos_r"), F.col("doc_id")
    ).limit(50)
    wd = Window.orderBy(F.desc("cos_r"), F.col("doc_id"))
    dense = dense_top.withColumn("rk", F.row_number().over(wd)).select("doc_id", "rk")
    return rrf_fuse([sparse.select("doc_id", "rk"), dense], top_k=10)


@register(
    "llm_chunk_documents",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    ), c AS (
        SELECT doc_id, toks, len(toks) AS n,
               1 + CAST(ceil(greatest(len(toks) - 40, 0) / 20.0) AS INT) AS n_chunks
        FROM d
    )
    SELECT doc_id,
           unnest(generate_series(0, n_chunks - 1)) AS chunk_idx,
           array_to_string(toks[unnest(generate_series(0, n_chunks - 1)) * 20 + 1 :
                                unnest(generate_series(0, n_chunks - 1)) * 20 + 40], ' ')
               AS chunk_text,
           least(n - unnest(generate_series(0, n_chunks - 1)) * 20, 40) AS n_tokens
    FROM c
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (40-token chunks, stride 20 →
    50% overlap) — the corpus→training-example reshaping step
    (operators/chunking.chunk_documents; tokenize once, slice per
    window, explode — scan-side, zero shuffle)."""
    from randas_spark.operators.chunking import chunk_documents

    return chunk_documents(
        t(spark, sf_dir, "documents"), "doc_id", "text", chunk_size=40, stride=20
    )


@register(
    "llm_pack_sequences",
    oracle=f"""
    WITH d AS (
        SELECT doc_id AS id,
               len({sql_tokens('text')}) AS n_tokens,
               doc_id % 4 AS shard
        FROM documents
    )
    SELECT id, n_tokens, shard,
           CAST(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500.0) AS BIGINT)
               AS bin
    FROM d
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: docs assigned to 500-token training bins by
    cumulative count within 4 hash shards
    (operators/chunking.pack_sequences — the one-pass contiguous packer;
    shards make the packing window parallel, the 100 TB form)."""
    from randas_spark.operators.chunking import pack_sequences

    d = t(spark, sf_dir, "documents")
    from randas_spark.functions.text import tokens as tok_fn

    sized = d.select(
        "doc_id", F.size(tok_fn(F.col("text"))).alias("n_toks"), "text"
    )
    return pack_sequences(
        sized, "doc_id", "n_toks", capacity=500, shard_col=F.col("doc_id") % 4
    )


@register(
    "llm_bigram_lm_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS t FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS bg
        FROM toks
    ), c2 AS (
        SELECT bg, count(*) AS c2 FROM bg GROUP BY 1
    ), ug AS (
        SELECT unnest(t) AS w FROM toks
    ), c1 AS (
        SELECT w AS w1, count(*) AS c1 FROM ug GROUP BY 1
    ), vocab AS (
        SELECT count(DISTINCT w) AS v FROM ug
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           {sql_fround('avg(ln((c2 + 1.0) / (c1 + v)))', 6)} AS lm_score
    FROM bg
    JOIN c2 USING (bg)
    JOIN c1 ON c1.w1 = string_split(bg.bg, ' ')[1]
    CROSS JOIN vocab
    GROUP BY bg.doc_id
    """,
)
def llm_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical LM quality score: mean add-one-smoothed
    bigram log-probability under corpus-trained counts
    (operators/lm.bigram_lm_scores). Low score = improbable word
    sequences — the classic perplexity-bucket filter without a model
    artifact. Counts shuffle on the gram (vocabulary-bounded); the
    scoring joins broadcast the count tables."""
    from randas_spark.operators.lm import bigram_lm_scores

    out = bigram_lm_scores(t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id", "n_bigrams", fround(F.col("lm_score_raw"), 6).alias("lm_score")
    )


@register(
    "llm_e2e_corpus_prep",
    oracle=f"""
    WITH gated AS (
        SELECT doc_id, lang, text FROM documents
        WHERE ({_REP_DUP}) <= 0.5 AND n_chars >= 60
    ), deduped AS (
        SELECT min(doc_id) AS doc_id, min_by(lang, doc_id) AS lang,
               min_by(text, doc_id) AS text
        FROM (SELECT doc_id, lang, text, {sql_fingerprint('text')} AS fp FROM gated)
        GROUP BY fp
    ), chunked AS (
        SELECT lang,
               1 + CAST(ceil(greatest(len({sql_tokens('text')}) - 40, 0) / 20.0) AS INT)
                   AS n_chunks,
               len({sql_tokens('text')}) AS n_toks
        FROM deduped
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens
    FROM chunked GROUP BY lang
    """,
)
def llm_e2e_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation, composed from the pipeline
    operators: repetition + length quality gate → exact dedup (keep min
    doc per fingerprint) → 40/20 chunking → per-language yield summary
    (docs kept, chunks produced, tokens). One flow exercising
    functions/text, operators/dedup, operators/chunking together — the
    composability proof that each stage is a plain DataFrame→DataFrame.

    Scale: gate is scan-side; dedup is the fingerprint shuffle; chunk
    counting here is arithmetic (the chunk EXPLOSION is llm_chunk_documents
    — a summary never needs to materialize chunks)."""
    from randas_spark.functions.text import repetition_stats, tokens as tok_fn

    d = t(spark, sf_dir, "documents")
    _, _, dup = repetition_stats(F.col("text"), 3)
    gated = d.filter((dup <= 0.5) & (F.col("n_chars") >= 60))
    deduped = (
        gated.select("doc_id", "lang", "text", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("text", "doc_id").alias("text"),
        )
    )
    n_toks = F.size(tok_fn(F.col("text")))
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n_toks - 40, F.lit(0)).cast("double") / 20
    ).cast("int")
    return (
        deduped.select("lang", n_chunks.alias("nc"), n_toks.alias("nt"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nc").alias("n_chunks"),
            F.sum("nt").alias("n_tokens"),
        )
    )


@register(
    "llm_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv, label AS qlabel
        FROM embeddings WHERE vec_id < 5
    ), scored AS (
        SELECT qid, c.vec_id AS cid,
               {sql_cosine('qv', 'c.embedding')} AS cos
        FROM embeddings c CROSS JOIN q
        WHERE c.label <> qlabel
    )
    SELECT qid, cid, {sql_fround('cos', 6)} AS cos, rk FROM (
        SELECT qid, cid, cos,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY {sql_fround('cos', 6)} DESC, cid) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    (vec_id < 5), the 5 most-similar embeddings with a DIFFERENT label —
    same broadcast-anchors + codegen-cosine + windowed-top-k plan as
    llm_knn_bruteforce with the label inequality pushed into the join.
    At scale, run over the IVF/LSH shortlist instead of the full corpus
    (operators/similarity)."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            fround(cosine(F.col("qv"), F.col("embedding")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
    )


@register(
    "llm_balance_classes",
    oracle="""
    WITH sized AS (
        SELECT label, count(*) AS n FROM embeddings GROUP BY 1
    ), floor_n AS (
        SELECT min(n) AS min_n FROM sized
    ), ranked AS (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY label
                                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings
    )
    SELECT vec_id, label FROM ranked CROSS JOIN floor_n WHERE rn <= min_n
    """,
)
def llm_balance_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class balancing: every label downsampled to the minority-class
    size, rows chosen by the deterministic md5 order (same machinery as
    stratified sampling — reproducible across runs/engines, no RNG).
    One shuffle on label; the minority size is a one-row broadcast."""
    emb = t(spark, sf_dir, "embeddings")
    min_n = emb.groupBy("label").count().agg(F.min("count").alias("min_n"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id")
    )
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(min_n))
        .filter(F.col("rn") <= F.col("min_n"))
        .select("vec_id", "label")
    )


# --------------------------------------------------------------------------
# PII scrubbing, corpus n-gram stats, benchmark decontamination
# --------------------------------------------------------------------------

#: Cross-engine PII patterns (identical leftmost-match semantics in Java
#: regex and RE2 for these constructs).
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
_PII_LONGNUM = r"[0-9]{9,}"

#: Deterministic PII injection so the scrub has real work on synthetic
#: docs — byte-identical construction on both engines.
_PII_SQL = """lower(text) || CASE CAST(doc_id % 3 AS INT)
        WHEN 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        WHEN 1 THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 logged'
        ELSE ' card 4111111111111111 used' END"""


def _pii_spark(d):
    return F.concat(
        F.lower(F.col("text")),
        F.when(
            (F.col("doc_id") % 3) == 0,
            F.concat(
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            (F.col("doc_id") % 3) == 1,
            F.concat(
                F.lit(" server 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 logged"),
            ),
        )
        .otherwise(F.lit(" card 4111111111111111 used")),
    )


@register(
    "llm_pii_scrub",
    oracle=f"""
    WITH src AS (SELECT doc_id, {_PII_SQL} AS body FROM documents),
    scrubbed AS (
        SELECT doc_id, body,
               regexp_replace(regexp_replace(regexp_replace(body,
                   '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_IPV4}', '<IP>', 'g'),
                   '{_PII_LONGNUM}', '<NUM>', 'g') AS clean
        FROM src
    )
    SELECT doc_id,
           len(regexp_extract_all(body, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(body, '{_PII_IPV4}')) AS n_ips,
           len(regexp_extract_all(body, '{_PII_LONGNUM}')) AS n_longnums,
           md5(clean) AS scrub_md5
    FROM scrubbed
    """,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every training corpus runs
    before anything else: emails, IPv4s, and long digit runs (card/phone
    shaped) detected and replaced with typed placeholder tokens, entirely
    in codegen'd regexp built-ins (no UDF). The oracle hash-compares the
    md5 of the fully scrubbed text plus per-category counts, so redaction
    semantics are verified byte-for-byte cross-engine. One scan, zero
    shuffles — trivially parallel at 100 TB.

    (Synthetic docs carry no organic PII, so a deterministic injection
    derived from doc_id adds real matches on both engines identically.)
    """
    d = t(spark, sf_dir, "documents")
    body = _pii_spark(d)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(body, _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_LONGNUM,
        "<NUM>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(body, F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(body, F.lit(_PII_IPV4), F.lit(0))).alias("n_ips"),
        F.size(F.regexp_extract_all(body, F.lit(_PII_LONGNUM), F.lit(0))).alias(
            "n_longnums"
        ),
        F.md5(clean.cast("binary")).alias("scrub_md5"),
    )


#: Deterministic "dirty unicode" suffix for llm_text_normalize: combining
#: acute (U+0301, composes under NFC), ZWSP (U+200B) and a tab — built
#: with chr() in SQL and a Python literal in Spark so both engines append
#: identical bytes. Synthetic docs are ASCII-clean, so this injection is
#: what exercises the normalizer.
_DIRTY_SUFFIX = " cafe\u0301 \u200bx\ty"  # decomposed e+combining-acute: mirrors chr(769)
_SQL_DIRTY_SUFFIX = "' cafe' || chr(769) || ' ' || chr(8203) || 'x' || chr(9) || 'y'"


@register(
    "llm_text_normalize",
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0 THEN {_SQL_DIRTY_SUFFIX}
                       ELSE '' END AS body
        FROM documents
    ),
    norm AS (
        SELECT doc_id, body, nfc_normalize({sql_clean_text('body')}) AS norm FROM dirty
    )
    SELECT doc_id, md5(norm) AS norm_fp, length(norm) AS n_chars,
           (norm <> body) AS changed
    FROM norm
    """,
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization — the stage that must precede hashing /
    dedup on a real crawl corpus (visually identical text with composed
    vs combining code points fingerprints differently until NFC'd).
    Control/zero-width strip + whitespace collapse run as codegen'd
    regexp built-ins (functions/text.clean_text); only the NFC step is
    Python, as an Arrow-batched scalar pandas_udf
    (functions/udfs.nfc_normalize) — one narrow projection, no shuffle,
    so 100 TB costs one scan plus the Arrow hop on the rows that reach
    it. Oracle: DuckDB's native nfc_normalize over the identical cleaned
    text, compared by md5 — normalization verified byte-for-byte."""
    from randas_spark.functions.text import clean_text
    from randas_spark.functions.udfs import nfc_normalize

    d = t(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_DIRTY_SUFFIX)).otherwise(F.lit("")),
    )
    norm = nfc_normalize(clean_text(body))
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("norm_fp"),
        F.length(norm).alias("n_chars"),
        (norm != body).alias("changed"),
    )


@register(
    "llm_ngram_top20",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS tk FROM documents),
    grams AS (
        SELECT unnest(list_transform(
                   generate_series(1, greatest(len(tk) - 2, 1)),
                   i -> array_to_string(tk[i:i+2], ' '))) AS ngram
        FROM toks
    ),
    counted AS (
        SELECT ngram, count(*) AS cnt FROM grams WHERE ngram <> '' GROUP BY ngram
    )
    SELECT ngram, cnt, row_number() OVER (ORDER BY cnt DESC, ngram) AS rk
    FROM counted ORDER BY cnt DESC, ngram LIMIT 20
    """,
)
def llm_ngram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus trigram frequency table, top 20 — the n-gram statistics
    pass behind contamination checks, LM smoothing tables, and corpus
    drift reports. Multiset trigrams (unlike the distinct shingle sets
    dedup uses) via a scan-side kgrams/explode; one count shuffle with
    map-side partial agg; the cut is orderBy().limit() =
    TakeOrderedAndProject, never a global-window sort."""
    from randas_spark.functions.text import kgrams, tokens

    d = t(spark, sf_dir, "documents")
    grams = kgrams(tokens(F.col("text")), 3)
    counted = (
        d.select(F.explode(grams).alias("ngram"))
        .filter(F.col("ngram") != "")
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counted.orderBy(F.desc("cnt"), "ngram").limit(20)
    w = Window.orderBy(F.desc("cnt"), "ngram")
    return top.withColumn("rk", F.row_number().over(w))


@register(
    "llm_decontaminate",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingles('text', 8)}) AS s
        FROM documents
    ),
    bench AS (
        SELECT DISTINCT doc_id AS bench_id, s FROM sh WHERE doc_id % 11 = 0
    ),
    corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 11 <> 0)
    SELECT corpus.doc_id,
           count(DISTINCT bench_id) AS n_bench_docs,
           count(DISTINCT corpus.s) AS n_shared_ngrams
    FROM corpus JOIN bench USING (s)
    GROUP BY corpus.doc_id
    """,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training docs sharing any 8-gram
    with a held-out benchmark set (here: the deterministic pseudo-
    benchmark doc_id % 11 == 0, ~9% of the corpus so collisions exist
    at every test SF), the standard n-gram-collision check run
    before every training job. Output: contaminated doc → how many
    benchmark docs and how many distinct 8-grams it collides with.

    Scale: the benchmark n-gram set is tiny relative to the corpus and
    BROADCASTS into the corpus shingle scan — the corpus is never
    shuffled; only the (few) colliding rows reach the aggregation.
    """
    from randas_spark.functions.text import shingles

    d = t(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(shingles(F.col("text"), 8)).alias("s"))
    bench = (
        sh.filter(F.col("doc_id") % 11 == 0)
        .select(F.col("doc_id").alias("bench_id"), "s")
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") % 11 != 0)
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("bench_id").alias("n_bench_docs"),
            F.countDistinct("s").alias("n_shared_ngrams"),
        )
    )


# --------------------------------------------------------------------------
# Corpus curation: quotas, mixtures, vocab, boilerplate, quality classifier
# --------------------------------------------------------------------------

from randas_spark.operators.sampling import sql_md5_hex as _sql_md5_hex


@register(
    "llm_domain_quota",
    oracle=f"""
    SELECT doc_id, source, rk
    FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_sql_md5_hex('doc_id')}, doc_id) AS rk
        FROM documents
    ) WHERE rk <= 10
    """,
)
def llm_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota capping (operators/corpus.domain_quota_cap):
    keep at most 10 docs per source, chosen by deterministic md5(doc_id)
    order — the crawl-rebalancing step that stops one hot host from
    dominating the corpus. Rank window is PARTITIONED by source (never
    global); selection is engine-portable, so the oracle picks the
    identical rows."""
    from randas_spark.operators.corpus import domain_quota_cap

    d = t(spark, sf_dir, "documents")
    return domain_quota_cap(d, "source", "doc_id", 10).select("doc_id", "source", "rk")


_MIXTURE_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
_MIXTURE_DEFAULT = 0.1

from randas_spark.operators.corpus import sql_mixture_keep as _sql_mixture_keep


@register(
    "llm_mixture_sample",
    oracle=f"""
    SELECT doc_id, source FROM documents
    WHERE {_sql_mixture_keep('source', 'doc_id', _MIXTURE_RATES, _MIXTURE_DEFAULT)}
    """,
)
def llm_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture sampling (operators/corpus.mixture_sample): keep
    100%/75%/50%/25% of src0..src3 and 10% of everything else via the
    md5(doc_id) threshold — the data-mixture rebalancing pass, as a pure
    scan-side codegen filter (no shuffle, no RNG state; membership
    recomputable from the key alone on any engine)."""
    from randas_spark.operators.corpus import mixture_sample

    d = t(spark, sf_dir, "documents")
    return mixture_sample(d, "source", "doc_id", _MIXTURE_RATES, _MIXTURE_DEFAULT).select(
        "doc_id", "source"
    )


@register(
    "llm_source_drift_kl",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({sql_tokens('text')}) AS token FROM documents
    ),
    toks2 AS (SELECT source, token FROM toks WHERE token <> ''),
    gcnt AS (SELECT token, count(*) AS c FROM toks2 GROUP BY token),
    vocab AS (SELECT token, c FROM gcnt ORDER BY c DESC, token LIMIT 200),
    gtot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab),
    scnt AS (
        SELECT s.source, v.token, v.c AS gc,
               CAST(count(t.token) AS BIGINT) AS sc
        FROM (SELECT DISTINCT source FROM documents) s
        CROSS JOIN vocab v
        LEFT JOIN toks2 t ON t.source = s.source AND t.token = v.token
        GROUP BY 1, 2, 3
    ),
    stot AS (SELECT source, CAST(sum(sc) AS DOUBLE) AS ns FROM scnt GROUP BY source)
    SELECT c.source,
           CAST(max(t.ns) AS BIGINT) AS n_vocab_tokens,
           {sql_fround('''sum( ((c.sc + 1) / (max_t_ns.ns + 200.0)) *
                   log2( ((c.sc + 1) / (max_t_ns.ns + 200.0))
                       / ((c.gc + 1) / ((SELECT n FROM gtot) + 200.0)) ) )''', 6)} AS kl_bits
    FROM scnt c
    JOIN stot t ON t.source = c.source
    JOIN stot max_t_ns ON max_t_ns.source = c.source
    GROUP BY c.source
    """,
)
def llm_source_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution DRIFT: add-one-smoothed KL divergence
    (bits) between each source's token distribution and the corpus
    distribution, over the shared top-200 vocabulary — the monitor that
    catches a crawl source going off-distribution (spam floods, template
    changes) before any per-doc filter fires. One token-count shuffle
    feeds both sides; the 200-row vocabulary broadcasts into the
    per-source recount; smoothing keeps log finite for absent tokens.
    Identical float sequence on both engines, fround(6) on the sum."""
    d = t(spark, sf_dir, "documents")
    toks = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    gcnt = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    vocab = gcnt.orderBy(F.col("c").desc(), "token").limit(200)
    gtot = vocab.agg(F.sum("c").cast("double").alias("n"))
    sources = d.select("source").distinct()
    scnt = (
        sources.crossJoin(F.broadcast(vocab))
        .join(
            toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("sc0")),
            ["source", "token"],
            "left",
        )
        .select(
            "source", "token", F.col("c").alias("gc"),
            F.coalesce("sc0", F.lit(0)).cast("long").alias("sc"),
        )
    )
    stot = scnt.groupBy("source").agg(F.sum("sc").cast("double").alias("ns"))
    joined = scnt.join(stot, "source").crossJoin(F.broadcast(gtot))
    p = (F.col("sc") + 1) / (F.col("ns") + F.lit(200.0))
    q = (F.col("gc") + 1) / (F.col("n") + F.lit(200.0))
    return joined.groupBy("source").agg(
        F.max("ns").cast("long").alias("n_vocab_tokens"),
        fround(F.sum(p * F.log2(p / q)), 6).alias("kl_bits"),
    )


@register(
    "llm_token_entropy",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents
    ), c AS (
        SELECT doc_id, token, count(*) AS cnt FROM toks
        WHERE token <> '' GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           {sql_fround('log2(CAST(sum(cnt) AS DOUBLE)) - sum(cnt * log2(CAST(cnt AS DOUBLE))) / sum(cnt)', 6)} AS entropy
    FROM c GROUP BY doc_id
    """,
)
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (bits/token) — the
    information-density quality signal: templated or looping text scores
    low even when its distinct-shingle fraction looks fine, natural
    prose sits near log2(vocab). Complements llm_repetition_filter
    (shingle multiset) and llm_text_quality (surface ratios). Computed
    as H = log2(n) − Σc·log2(c)/n so both engines run the identical
    float sequence over the per-token counts; one explode + two
    map-side-combinable aggs, no joins."""
    d = t(spark, sf_dir, "documents")
    c = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = F.sum("cnt")
    ent = F.log2(n.cast("double")) - F.sum(
        F.col("cnt") * F.log2(F.col("cnt").cast("double"))
    ) / n
    return c.groupBy("doc_id").agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        fround(ent, 6).alias("entropy"),
    )


@register(
    "llm_mixture_temperature",
    oracle="""
    WITH counts AS (
        SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(pow(n, 0.5)) AS z, sum(n) AS total FROM counts
    ), rates AS (
        SELECT source,
               CAST(floor(least(1.0,
                   (total * 0.5) * (pow(n, 0.5) / z) / n) * 1000000) AS BIGINT) AS thr
        FROM counts, tot
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 1000000 < r.thr
    """,
)
def llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture sampling (operators/corpus.
    temperature_mixture_sample, α=0.5, target 50% of the corpus): keep
    rates are COMPUTED in-engine from per-source counts as q_s ∝ n_s^α
    — the mT5/Pile source-rebalancing pass, fully declarative (one tiny
    count agg broadcast back into a scan-side hash filter; the corpus
    itself never shuffles). Rates quantize to 1e-6 by floor so both
    engines agree despite libm pow() ulp."""
    from randas_spark.operators.corpus import temperature_mixture_sample

    d = t(spark, sf_dir, "documents")
    return temperature_mixture_sample(
        d, "source", "doc_id", alpha=0.5, target_frac=0.5
    ).select("doc_id", "source")


@register(
    "llm_vocab_build",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({sql_tokens('text')}) AS token FROM documents
    ),
    counted AS (
        SELECT token, count(*) AS cnt FROM toks WHERE token <> '' GROUP BY token
    ),
    top AS (SELECT token, cnt FROM counted ORDER BY cnt DESC, token LIMIT 200)
    SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS token_id
    FROM top
    """,
)
def llm_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 token vocabulary with dense ids (operators/corpus.
    vocab_build) — the tokenizer-training precursor. Count shuffle has
    map-side partial agg; the cut is orderBy().limit() =
    TakeOrderedAndProject; the id window ranks only the 200-row
    result."""
    from randas_spark.operators.corpus import vocab_build

    return vocab_build(t(spark, sf_dir, "documents"), "text", 200)


@register(
    "llm_vocab_apply",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents
    ),
    toks2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    counted AS (
        SELECT token, count(*) AS cnt FROM toks2 GROUP BY token
    ),
    top AS (SELECT token, cnt FROM counted ORDER BY cnt DESC, token LIMIT 200),
    vocab AS (
        SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS token_id
        FROM top
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           {sql_fround('CAST(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)', 6)} AS oov_rate,
           CAST(sum(coalesce(v.token_id, 0)) AS BIGINT) AS ids_checksum
    FROM toks2 LEFT JOIN vocab v USING (token)
    GROUP BY doc_id
    """,
)
def llm_vocab_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary APPLICATION (operators/corpus.vocab_apply over the
    top-200 vocab_build): per doc, token count, OOV count/rate, and an
    order-independent token-id checksum — the encode stage of corpus
    prep, and the drift signal that schedules vocab retraining. The
    vocab broadcasts into the token explode; the only shuffle is the
    per-doc agg (map-side combined). Hot tokens are harmless: broadcast
    hash lookup, never a skewed join key."""
    from randas_spark.operators.corpus import vocab_apply, vocab_build

    d = t(spark, sf_dir, "documents")
    vocab = vocab_build(d, "text", 200)
    enc = vocab_apply(d, "doc_id", "text", vocab)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        fround(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias("oov_rate"),
        "ids_checksum",
    )


@register(
    "llm_boilerplate_coverage",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({sql_shingles('text', 5)}) AS s FROM documents
    ),
    frequent AS (
        SELECT s FROM sh GROUP BY s HAVING count(*) >= 2
    ),
    boiler AS (
        SELECT doc_id, count(*) AS n_boiler
        FROM sh WHERE s IN (SELECT s FROM frequent)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len({sql_shingles('d.text', 5)}) AS BIGINT) AS n_shingles,
           COALESCE(b.n_boiler, 0) AS n_boiler,
           CAST(COALESCE(b.n_boiler, 0) AS DOUBLE)
               / len({sql_shingles('d.text', 5)}) AS coverage,
           CAST(COALESCE(b.n_boiler, 0) AS DOUBLE)
               / len({sql_shingles('d.text', 5)}) >= 0.5 AS drop
    FROM documents d LEFT JOIN boiler b USING (doc_id)
    """,
)
def llm_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent 5-gram boilerplate coverage per doc
    (operators/corpus.boilerplate_coverage, min_df=2, drop at 50%) —
    the CCNet/C4-style template filter catching repeated headers/
    footers that near-dedup misses. One shingle shuffle shared by the
    doc-frequency agg and the semi-join."""
    from randas_spark.operators.corpus import boilerplate_coverage

    d = t(spark, sf_dir, "documents")
    return boilerplate_coverage(d, "doc_id", "text", k=5, min_df=2, drop_threshold=0.5)


from randas_spark.functions.text import (
    quality_classifier_prob as _qcls,
    sql_quality_classifier_prob as _sql_qcls,
)


@register(
    "llm_quality_classifier",
    oracle=f"""
    SELECT doc_id,
           {sql_fround(_sql_qcls('text'), 6)} AS prob,
           {_sql_qcls('text')} >= 0.5 AS keep
    FROM documents
    """,
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier (functions/text.quality_classifier_prob):
    sigmoid over the Gopher-style feature vector with fixed weights —
    the model-based quality filter as ONE codegen'd expression (no model
    server, no UDF). fround(6) absorbs cross-libm exp() ulp drift."""
    d = t(spark, sf_dir, "documents")
    prob = _qcls(F.col("text"))
    return d.select(
        "doc_id",
        fround(prob, 6).alias("prob"),
        (prob >= 0.5).alias("keep"),
    )


def _sql_minhash_banded(num_perm: int, bands: int, k: int) -> str:
    """``sh``/``shh``/``mins``/``banded`` CTEs of the DuckDB MinHash-LSH
    twins: every document's distinct ``k``-shingles, their shared
    md5→32-bit hash, the ``num_perm`` (a_p·h + b_p) mod P permutation
    minima (constants imported from the SAME generator as
    operators/dedup) and one (doc_id, band_id, bk) row per band."""
    from randas_spark.operators.dedup import (
        MINHASH_MOD,
        minhash_perm_consts,
        sql_minhash_h32,
    )

    rpb = num_perm // bands
    min_cols = ",\n               ".join(
        f"min(({a} * h + {b}) % {MINHASH_MOD}) AS m{p}"
        for p, (a, b) in enumerate(minhash_perm_consts(num_perm))
    )
    band_selects = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS bk FROM mins".format(
            b=b,
            key=" || '|' || ".join(f"m{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""sh AS (
        SELECT doc_id, unnest({sql_shingles('text', k)}) AS s FROM documents
    ),
    shh AS (
        SELECT doc_id, s, {sql_minhash_h32('s')} AS h FROM sh
    ),
    mins AS (
        SELECT doc_id,
               {min_cols}
        FROM shh GROUP BY doc_id
    ),
    banded AS (
        {band_selects}
    )"""


def _sql_minhash_lsh(
    num_perm: int = 32,
    bands: int = 8,
    k: int = 5,
    threshold: float = 0.6,
    final: str | None = None,
    recursive: bool = False,
) -> str:
    """DuckDB twin of operators/dedup.minhash_lsh_pairs_portable: the
    same shingle hash, permutation family and band keys
    (:func:`_sql_minhash_banded`), candidate join, and exact-Jaccard
    verification — so the two engines can't drift."""
    return f"""
    WITH {'RECURSIVE ' if recursive else ''}{_sql_minhash_banded(num_perm, bands, k)},
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
        GROUP BY 1, 2
    )
    {final or f'''SELECT id_a, id_b, {sql_fround(_SQL_JACCARD, 6)} AS jaccard
    {_sql_jaccard_edges(threshold)}'''}
    """


def _sql_incremental_near(
    split_id: int = 400, num_perm: int = 32, bands: int = 8, k: int = 5, threshold: float = 0.6
) -> str:
    """DuckDB twin of operators/dedup.incremental_near_dedup on the
    doc_id<split ledger / doc_id>=split batch partition of documents.
    Signatures are per-doc, so computing them over ALL documents and
    splitting sides at the candidate join equals the Spark side's
    separate subset pipelines exactly."""
    inter = """(
            SELECT c.id_batch, c.id_led, count(*) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_batch
            JOIN sh b ON b.doc_id = c.id_led AND b.s = a.s
            GROUP BY 1, 2
        ) i"""
    return f"""
    WITH {_sql_minhash_banded(num_perm, bands, k)},
    cand AS (
        SELECT a.doc_id AS id_batch, b.doc_id AS id_led
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.bk = b.bk
         AND a.doc_id >= {split_id} AND b.doc_id < {split_id}
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    verified AS (
        SELECT i.id_batch, i.id_led, {_SQL_JACCARD} AS jaccard
        {_sql_jaccard_edges(threshold, inter, "i.id_batch", "i.id_led")}
    ),
    best AS (
        SELECT id_batch, min(id_led) AS match_id FROM verified GROUP BY 1
    ),
    best_j AS (
        SELECT b.id_batch, b.match_id, {sql_fround('v.jaccard', 6)} AS jaccard
        FROM best b JOIN verified v
          ON v.id_batch = b.id_batch AND v.id_led = b.match_id
    )
    SELECT d.doc_id, bj.match_id, bj.jaccard,
           CASE WHEN bj.match_id IS NOT NULL
                THEN 'near_dup_vs_ledger' ELSE 'kept' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {split_id}) d
    LEFT JOIN best_j bj ON bj.id_batch = d.doc_id
    """


@register(
    "llm_winnowing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(tk) - 4),
                   i -> struct_pack(pos := i - 1,
                                    g := array_to_string(tk[i:i+4], ' ')))) AS x
        FROM toks
    ),
    flat AS (
        SELECT doc_id, x.pos AS pos,
               CAST(('0x' || substr(md5(x.g), 1, 8)) AS BIGINT) AS h
        FROM grams
    ),
    sel0 AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        FROM flat
    ),
    sel AS (SELECT DISTINCT doc_id, fp FROM sel0 WHERE pos >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
    FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) plagiarism pairs: doc pairs sharing >= 3
    winnowing fingerprints (operators/dedup.winnowing_fingerprints,
    k=5, w=4 — each window of 4 consecutive 5-gram hashes contributes
    its minimum; density ~2/(w+1), and any shared run of >= 8 tokens is
    guaranteed a shared fingerprint). The position-robust middle ground
    between whole-doc fingerprints (llm_fingerprint, brittle to any
    edit) and full substring dedup (llm_substring_dedup, every gram
    joined): the pair join here runs on the ~2n/(w+1)-selected
    fingerprint stream, a fraction of the gram volume."""
    from randas_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_shared_pairs,
    )

    fps = winnowing_fingerprints(
        t(spark, sf_dir, "documents"), "doc_id", "text", k=5, w=4
    )
    return winnowing_shared_pairs(fps, min_shared=3)


@register("llm_dedup_incremental_near", oracle=_sql_incremental_near())
def llm_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup ingestion dedup vs the accumulated-corpus ledger
    (operators/dedup.incremental_near_dedup; docs with id < 400 play
    the ledger, id >= 400 the new batch): batch band keys equi-join
    ledger band keys, exact-Jaccard verification on candidates only,
    lowest-id match wins. The fuzzy companion of llm_dedup_incremental
    — the shape that keeps LIFETIME dedup cost linear while catching
    near-dups, with the ledger's band keys precomputed+bucketed at
    scale (docstring on the operator)."""
    from randas_spark.operators.dedup import incremental_near_dedup

    d = t(spark, sf_dir, "documents")
    out = incremental_near_dedup(
        d.filter(F.col("doc_id") >= 400),
        d.filter(F.col("doc_id") < 400),
        "doc_id",
        "text",
    )
    return out.select("doc_id", "match_id", fround(F.col("jaccard"), 6).alias("jaccard"), "status")


@register("llm_dedup_minhash_det", oracle=_sql_minhash_lsh())
def llm_dedup_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable MinHash-LSH near-dup pairs (operators/dedup.
    minhash_lsh_pairs_portable; 32 md5-derived perms × 8 bands,
    exact-Jaccard >= 0.6 verified): bit-identical signatures on any
    engine with md5(), so the FULL pipeline (signatures → candidate
    buckets → verified pairs) carries a value-hash DuckDB oracle. The
    audit shard of a 100 TB dedup run."""
    from randas_spark.operators.dedup import minhash_lsh_pairs_portable

    d = t(spark, sf_dir, "documents")
    out = minhash_lsh_pairs_portable(d, "doc_id", "text", num_perm=32, bands=8, threshold=0.6)
    return out.select("id_a", "id_b", fround(F.col("jaccard"), 6).alias("jaccard"))


@register(
    "llm_embedding_quantize",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, embedding,
               greatest(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
                        1e-30) / 127.0 AS scale
        FROM embeddings
    ),
    qq AS (
        SELECT vec_id, embedding, scale,
               list_transform(embedding,
                   v -> CAST(greatest(-127, least(127,
                        floor(CAST(v AS DOUBLE) / scale + 0.5))) AS BIGINT)) AS q
        FROM q
    )
    SELECT vec_id,
           {sql_fround('scale', 9)} AS scale,
           CAST(to_json(q) AS VARCHAR) AS q,
           {sql_fround(sql_cosine('embedding', 'list_transform(q, v -> CAST(v AS DOUBLE) * scale)'), 6)} AS cos_fidelity
    FROM qq
    """,
)
def llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the 4× memory/shuffle
    reduction that makes billion-vector ANN shards fit executor memory:
    per-vector scale = max|x|/127, elements round-half-up into
    [-127, 127], plus the cosine between the original and dequantized
    vector (fidelity ≈ 1). One codegen'd scan — no UDF, no shuffle; the
    quantized array + scale are exact cross-engine (portable floor
    rounding), so the oracle hash covers every int8 value."""
    e = t(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    scale = (
        F.greatest(
            F.array_max(F.transform(x, lambda v: F.abs(v.cast("double")))), F.lit(1e-30)
        )
        / 127.0
    )
    d = e.select("vec_id", x.alias("embedding"), scale.alias("scale"))
    q = F.transform(
        F.col("embedding"),
        lambda v: F.greatest(
            F.lit(-127).cast("double"),
            F.least(F.lit(127).cast("double"), F.floor(v.cast("double") / F.col("scale") + 0.5)),
        ).cast("long"),
    )
    d = d.withColumn("q", q)
    deq = F.transform(F.col("q"), lambda v: v.cast("double") * F.col("scale"))
    return d.select(
        "vec_id",
        fround(F.col("scale"), 9).alias("scale"),
        F.to_json("q").alias("q"),
        fround(cosine(F.col("embedding"), deq), 6).alias("cos_fidelity"),
    )


_SQL_Q_INT8 = (
    "list_transform({v}, v -> CAST(greatest(-127, least(127, "
    "floor(CAST(v AS DOUBLE) / (greatest(list_max(list_transform({v}, "
    "u -> abs(CAST(u AS DOUBLE)))), 1e-30) / 127.0) + 0.5))) AS BIGINT))"
)


@register(
    "llm_knn_quantized",
    oracle=f"""
    WITH prep AS (
        SELECT vec_id AS id, {_SQL_Q_INT8.format(v='embedding')} AS q
        FROM embeddings
    ),
    withn AS (
        SELECT id, q,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(q, x -> x * x)), (a, b) -> a + b) AS n2
        FROM prep
    ),
    scored AS (
        SELECT qu.id AS qid, c.id AS cid,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(generate_series(1, len(qu.q)),
                                       i -> qu.q[i] * c.q[i])), (a, b) -> a + b)
                    AS DOUBLE)
               / (sqrt(CAST(qu.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS qcos
        FROM withn c CROSS JOIN (SELECT * FROM withn WHERE id < 5) qu
        WHERE c.id <> qu.id
    )
    SELECT qid, cid, qcos, rk FROM (
        SELECT qid, cid, qcos,
               row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, cid) AS rk
        FROM scored
    ) WHERE rk <= 10
    """,
)
def llm_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized top-10 for 5 query vectors (operators/similarity.
    knn_quantized): scales cancel in cosine, so scoring is an integer
    dot product over 4×-smaller vectors with precomputed int norms² —
    exact cross-engine (int64 sums; correctly-rounded sqrt/divide), so
    the FULL ANN ranking carries a value-hash oracle with no rounding
    slack. The memory-bound inner loop under an IVF/LSH shortlist at
    billion-vector scale."""
    from randas_spark.operators.similarity import knn_quantized

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    return knn_quantized(qs, emb, "vec_id", "vec_id", "embedding", top_k=10)


def _sql_hyperplane_bucket(vec: str, dim: int, n_planes: int) -> str:
    """DuckDB twin of operators/similarity.project_buckets: sign-bit
    bucket from the SAME md5-derived hyperplanes, embedded as exact
    round-trip double literals (repr(float) parses to the identical
    IEEE double in every engine), dotted with the same index-order
    left fold as sql_dot."""
    from randas_spark.operators.similarity import _hyperplane

    bits = []
    for p in range(n_planes):
        plane = "[" + ", ".join(repr(v) for v in _hyperplane(dim, p)) + "]"
        d = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, len({vec})), "
            f"i -> CAST({vec}[i] AS DOUBLE) * CAST(({plane})[i] AS DOUBLE))), "
            f"(acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN ({d}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _sql_adaptive_emb_buckets(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec: str = "embedding",
    target: int = 256,
    lo: int = 4,
    hi: int = 16,
    cap: int = 4096,
) -> str:
    """CTE chain replaying operators/dedup.embedding_near_pairs' scale
    path exactly: adaptive plane count (similarity.adaptive_plane_count
    — CEIL(LOG2(N/target)) clamped to [lo, hi]; engine-parity-tested),
    realized as the full ``hi``-plane bucket MASKED to the low P bits
    (plane p contributes bit 1<<p, so ``bucket16 % 2^P`` IS the P-plane
    bucket, bit-identical to Spark's project_buckets(vec, dim, P)), then
    the deterministic hot-bucket cap (keep the ``cap`` smallest ids per
    bucket — VERDICT r11 order #1b). Yields ``emb_b(id, vec, bucket)``."""
    return f"""emb_cfg AS (
        SELECT LEAST({hi}, GREATEST({lo},
               CAST(CEIL(LOG2(CAST(COUNT(*) AS DOUBLE) / {target}.0)) AS INT))) AS p
        FROM {table}
    ), emb_b0 AS (
        SELECT {id_col}, {vec},
               ({_sql_hyperplane_bucket(vec, 64, hi)}
                % CAST(POW(2.0, (SELECT p FROM emb_cfg)) AS BIGINT)) AS bucket
        FROM {table}
    ), emb_b AS (
        SELECT {id_col}, {vec}, bucket FROM (
            SELECT {id_col}, {vec}, bucket,
                   row_number() OVER (PARTITION BY bucket ORDER BY {id_col}) AS brn
            FROM emb_b0)
        WHERE brn <= {cap}
    )"""


@register(
    "llm_dedup_embedding_lsh",
    oracle=f"""
    WITH {_sql_adaptive_emb_buckets()}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {sql_cosine('a.embedding', 'b.embedding')} AS cos
    FROM emb_b a JOIN emb_b b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ({sql_cosine('a.embedding', 'b.embedding')}) >= 0.35
    """,
)
def llm_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style bucketed embedding dedup — the SCALE path of
    llm_dedup_embedding: both sides carry an ADAPTIVE hyperplane sign
    bucket (2^P cells, P = clamp(ceil(log2(N/256)), 4, 16) — the r11
    100x audit showed a FIXED plane count makes the in-bucket candidate
    volume quadratic in N; adaptive P holds the expected bucket at ~256
    so candidates stay ~128*N) and the pair join is an EQUI-join on the
    bucket, so the shuffle partitions by bucket and only same-bucket
    pairs are scored (no all-pairs stage). A deterministic hot-bucket
    cap (4096 smallest ids per bucket, drop-accounted) rails the one
    skew the planes cannot split: an adversarial near-identical
    embedding mass. The hyperplanes are md5-derived constants, so —
    uniquely for an LSH — the oracle replays the identical bucketing,
    adaptive width, and cap from literal planes and the full
    approximate pipeline carries a value-hash check."""
    from randas_spark.operators.dedup import embedding_near_pairs
    from randas_spark.operators.similarity import adaptive_plane_count

    emb = t(spark, sf_dir, "embeddings")
    # N from the parquet footer (metadata read), not emb.count() — the
    # count job was a full scan whose only output is the table size the
    # footer already records; same N, so the oracle's COUNT(*) replay of
    # the plane count is unchanged.
    n_emb = table_num_rows(sf_dir, "embeddings")
    return embedding_near_pairs(
        emb, "vec_id", "embedding",
        threshold=0.35, n_planes=adaptive_plane_count(n_emb),
        dim=64, bucket_cap=4096,
    )


@register(
    "llm_substring_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(tk) - 9),
                   i -> struct_pack(pos := i - 1,
                                    g := array_to_string(tk[i:i+9], ' ')))) AS x
        FROM toks
    ),
    flat AS (SELECT doc_id, x.pos AS pos, x.g AS g FROM grams),
    m AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS i, b.pos AS j,
               a.pos - b.pos AS diag
        FROM flat a JOIN flat b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT id_a, id_b, diag, i, j,
               i - row_number() OVER (
                   PARTITION BY id_a, id_b, diag ORDER BY i) AS island
        FROM m
    )
    SELECT id_a, id_b, min(i) AS start_a, min(j) AS start_b,
           max(i) - min(i) + 10 AS span_len
    FROM isl GROUP BY id_a, id_b, diag, island
    HAVING max(i) - min(i) + 10 >= 20
    """,
)
def llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated token spans >= 20 tokens between doc pairs
    (operators/dedup.duplicated_spans, k=10): the substring-level dedup
    of Lee et al. 2022 re-expressed relationally — position-aware
    10-gram equi-join, then a gaps-and-islands window per (pair,
    diagonal) merges consecutive matches into maximal spans. No
    suffix array, no all-pairs stage; the islands window partitions by
    (id_a, id_b, diag), never globally."""
    from randas_spark.operators.dedup import duplicated_spans

    d = t(spark, sf_dir, "documents")
    return duplicated_spans(d, "doc_id", "text", k=10, min_span=20)


def _simhash_det_oracle() -> str:
    from randas_spark.operators.dedup import (
        sql_simhash_hashes,
        sql_simhash_portable_fp,
    )

    fp = sql_simhash_portable_fp(32)
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, fp, {b} AS band_id, (fp >> {b * 8}) % 256 AS bb FROM fps"
        for b in range(4)
    )
    return f"""
    WITH hs_t AS (
        SELECT doc_id, {sql_simhash_hashes('text')} AS hs
        FROM documents WHERE doc_id % 2 = 0
    ),
    fps AS (
        SELECT doc_id, {fp} AS fp FROM hs_t
    ),
    banded AS (
        {band_selects}
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               any_value(a.fp) AS fp_a, any_value(b.fp) AS fp_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.bb = b.bb AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(fp_a, fp_b)) <= 3
    """


@register("llm_dedup_simhash_det", oracle=_simhash_det_oracle())
def llm_dedup_simhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable SimHash near-dup pairs (operators/dedup.
    simhash_portable_pairs): 32-bit md5-digit fingerprints, pigeonhole
    banding (4 bands of 8 bits → hamming <= 3 pairs must share a band),
    exact bit_count(xor) verification — integer arithmetic end-to-end,
    so the whole pipeline carries a cross-engine value-hash oracle. Runs
    on the even-doc_id half of the corpus: the portability proof needs
    every stage exercised, not every row — SimHash pair volume on this
    topically-clustered synthetic corpus grows ~n², and the driver's
    sweep shares a time budget across ~150 queries."""
    from randas_spark.operators.dedup import simhash_portable_pairs

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return simhash_portable_pairs(d, "doc_id", "text", n_bits=32, bands=4, max_hamming=3)


#: md5-seeded centroid counts of the IVF family, as SQL over the fit table
_CELLS_N32 = "greatest(16, count(*) // 32)"  # the persisted serving index
_CELLS_SQRT = "greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT))"  # bitext, IVFPQ
_CELLS_SQRT_4N = "greatest(64, CAST(floor(sqrt(4 * count(*))) AS BIGINT))"  # kNN graph


def _sql_ivf_cent(
    cells: int | str, src: str = "embeddings", name: str = "cent", materialized: bool = False
) -> str:
    """The deterministic IVF seeding CTE: the first ``cells`` rows of
    ``src`` in md5(vec_id) order become the centroids (``cell``,
    ``center``). ``cells`` is a literal count or one of the ``_CELLS_*``
    formulas, evaluated over ``src``."""
    limit = cells if isinstance(cells, int) else f"(SELECT {cells} FROM {src})"
    return f"""{name} AS{' MATERIALIZED' if materialized else ''} (
        SELECT vec_id AS cell, embedding AS center
        FROM {src}
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {limit}
    )"""


def _sql_nearest_cells(
    name: str,
    a: str,
    n: int,
    src: str = "embeddings",
    where: str = "",
    vec: bool = True,
    cent: str = "cent",
    materialized: bool = False,
) -> str:
    """One "nearest-n cells by cosine" CTE: every ``src`` row (alias
    ``a``, optionally filtered by ``where``) with its ``n`` nearest
    ``cent`` centroids, ties to the lower cell, as (``{a}id``[, ``{a}v``
    when ``vec``], ``cell``). n=1 is the corpus assignment, n=n_probe
    the query probes; bitext's right/left sides use it the same way."""
    cols = f"{a}id, {a}v, cell" if vec else f"{a}id, cell"
    carry = f"{a}.vec_id AS {a}id, {a}.embedding AS {a}v" if vec else f"{a}.vec_id AS {a}id"
    filt = f"\n            WHERE {where}" if where else ""
    return f"""{name} AS{' MATERIALIZED' if materialized else ''} (
        SELECT {cols} FROM (
            SELECT {carry}, ct.cell,
                   row_number() OVER (
                       PARTITION BY {a}.vec_id
                       ORDER BY {sql_cosine(f'{a}.embedding', 'ct.center')} DESC, ct.cell
                   ) AS rn
            FROM {src} {a} CROSS JOIN {cent} ct{filt}
        ) WHERE {'rn = 1' if n == 1 else f'rn <= {n}'}
    )"""


def _sql_ivf_chain(
    cells: int | str,
    queries: str = "",
    fit: str = "embeddings",
    corpus: str = "embeddings",
) -> str:
    """``cent``, ``assign`` and ``probes`` CTEs of the deterministic IVF
    replay: centroids seeded from ``fit``, every ``corpus`` row assigned
    to its top-1 cell (with its vector), and the query rows (``q.``
    predicate ``queries``; all of embeddings when empty) probing their
    top-4 cells."""
    return f"""{_sql_ivf_cent(cells, fit)},
    {_sql_nearest_cells("assign", "c", 1, corpus)},
    {_sql_nearest_cells("probes", "q", 4, where=queries)}"""


def _sql_ivf_topk(top_k: int, cols: str = "qid, cid, cos, rk", cand: str = "") -> str:
    """Score every probed (query, candidate) pair by cosine and keep each
    query's ``top_k`` (cos DESC, cid ASC), self-matches excluded; ``cand``
    is an optional predicate on the candidate row ``a``."""
    cos = sql_cosine("p.qv", "a.cv")
    return f"""SELECT {cols} FROM (
        SELECT p.qid, a.cid, {cos} AS cos,
               row_number() OVER (
                   PARTITION BY p.qid
                   ORDER BY {cos} DESC, a.cid) AS rk
        FROM probes p JOIN assign a USING (cell)
        WHERE p.qid <> a.cid{f' AND {cand}' if cand else ''}
    ) WHERE rk <= {top_k}"""


def _ivf_knn_oracle(
    cells: int | str,
    queries: str,
    top_k: int = 10,
    fit: str = "embeddings",
    corpus: str = "embeddings",
    cand: str = "",
    head: str = "",
) -> str:
    """Full deterministic-IVF kNN replay (seed -> assign -> probe ->
    score) returning (qid, cid, cos, rk). ``head`` defines extra CTEs the
    ``fit``/``corpus`` names may refer to. One replay serves the fused
    operator, the persisted index (hash-matching the same replay is the
    proof the index layer is lossless), the batch and streamed appends,
    the kNN graph, filtered search and streamed serving."""
    return f"""
    WITH {f"{head}," if head else ""}
    {_sql_ivf_chain(cells, queries, fit, corpus)}
    {_sql_ivf_topk(top_k, cand=cand)}
    """


@register("llm_knn_ivf_det", oracle=_ivf_knn_oracle(16, "q.vec_id < 5"))
def llm_knn_ivf_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-seed IVF top-10 (operators/similarity.knn_ivf_det;
    16 md5-sampled centroid cells, 4-cell probe): the reproducible,
    cross-engine-auditable IVF index — every stage (seeding, cell
    assignment, probing, ranking) is a pure function of the data, so
    the FULL approximate pipeline carries a value-hash oracle."""
    from randas_spark.operators.similarity import knn_ivf_det

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    return knn_ivf_det(qs, emb, "vec_id", "vec_id", "embedding", n_cells=16, n_probe=4, top_k=10)


def _ivf_adaptive_index(sf_dir: str, emb: DataFrame) -> tuple:
    """Build-if-absent persisted IVF index over the whole embeddings
    table with the adaptive cell count max(16, N // 32) — the one
    ``adaptive_v2`` index llm_knn_ivf_persisted, llm_knn_filtered and
    llm_ann_index_stats serve from. Returns (index_dir, fingerprint)."""
    from randas_spark.operators.similarity import ivf_build_index

    return _persisted_index(
        sf_dir,
        "ivf_index",
        "adaptive_v2",
        "ivf",
        {"n_cells": max(16, table_num_rows(sf_dir, "embeddings") // 32)},
        lambda d, fp, **p: ivf_build_index(
            emb, "vec_id", "embedding", d, fingerprint=fp, **p
        ),
    )


@register("llm_knn_ivf_persisted", oracle=_ivf_knn_oracle(_CELLS_N32, "q.vec_id < 5"))
def llm_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index IVF ANN — the second half of VERDICT r8 order #2
    (which named BOTH PQ codebooks and IVF centroids/assignments):
    operators/similarity.ivf_build_index persists the centroid table and
    the corpus assignments PARTITIONED BY CELL once per (sf, params);
    the registered query is knn_ivf_query — probe against the broadcast
    centroid table, then score only the probed cells, whose partition
    layout means the assignment scan touches the probed fraction of the
    corpus instead of all of it (static/dynamic partition pruning).

    Cell count ADAPTS to the corpus: max(16, N // 32) — per-cell
    candidate volume is n_probe * N / n_cells per query, so cells must
    GROW with N or probe cost goes quadratic (VERDICT r9 #3; the same
    round-5 lesson knn_ivf_det's graph variant learned: fixed 64 cells
    measured 4x worse than adaptive at 5x data). One metadata-cheap
    count job picks the formula; the oracle replays the same formula in
    its LIMIT subquery.

    Integrity: index keyed by n_cells + a fingerprint of the source
    embeddings parquet (_ivf_adaptive_index) — regenerated corpus or
    changed params triggers a rebuild; knn_ivf_query re-validates at
    query time."""
    from randas_spark.operators.similarity import knn_ivf_query

    emb = t(spark, sf_dir, "embeddings")
    index_dir, fp = _ivf_adaptive_index(sf_dir, emb)
    return knn_ivf_query(
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        index_dir,
        n_probe=4,
        top_k=10,
        fingerprint=fp,
    )


def _ivf_append_oracle(base_where: str) -> str:
    """Replay of incremental IVF ingestion: centroids seeded from the
    BASE ingest only (``base_where``), every row — base and the later
    batch(es) — assigned against those frozen centroids, probes and
    scoring over the full index. Append order never matters because
    assignment is per-row against frozen centroids, which is exactly
    the property the oracle proves; the streaming ingest twin replays
    the same over its own base split."""
    return _ivf_knn_oracle(
        _CELLS_N32,
        "q.vec_id < 5",
        fit="base",
        head=f"base AS (SELECT * FROM embeddings WHERE {base_where})",
    )


@register("llm_knn_ivf_append", oracle=_ivf_append_oracle("vec_id % 10 <> 9"))
def llm_knn_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance (VERDICT r9 #4 — the missing
    member of the incremental-ingestion family): the base ingest
    (vec_id % 10 <> 9, ~90%) is built into a persisted index ONCE, then
    a NEW batch (% 10 == 9) is APPENDED by operators/similarity.
    ivf_append_batch — assigned against the frozen persisted centroids
    and written into the cell-partitioned assignments, no re-fit, no
    re-seed. Queries then probe the combined index. The oracle replays
    exactly those semantics (fit on base, assign all), so a green row
    proves append ≡ what a from-scratch build with the base's centroids
    would produce — the property that makes per-batch ingestion
    lifetime-LINEAR (assign cost ∝ batch) instead of the
    lifetime-quadratic re-fit-per-batch.

    The marker is only committed with the full-corpus fingerprint AFTER
    the append, so a torn build+append sequence reads not-ready and
    redoes the pair; a regenerated corpus likewise."""
    from randas_spark.operators.similarity import (
        ivf_append_batch,
        ivf_build_index,
        knn_ivf_query,
    )

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    batch = emb.filter(F.col("vec_id") % 10 == 9)

    def build(index_dir, fp, n_cells):
        # build commits with fingerprint=None (base-only index is not the
        # served corpus); the append's marker rewrite carries fp
        ivf_build_index(base, "vec_id", "embedding", index_dir, n_cells=n_cells)
        ivf_append_batch(batch, "vec_id", "embedding", index_dir, fingerprint=fp)

    index_dir, fp = _persisted_index(
        sf_dir,
        "ivf_index",
        "append_v1",
        "ivf",
        {"n_cells": max(16, base.count() // 32)},
        build,
    )
    return knn_ivf_query(
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        index_dir,
        n_probe=4,
        top_k=10,
        fingerprint=fp,
    )


@register("llm_knn_graph", oracle=_ivf_knn_oracle(_CELLS_SQRT_4N, "", top_k=5))
def llm_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN GRAPH: every vector gets its top-5 neighbors —
    the all-points primitive under semantic dedup (SemDeDup-style
    clustering), diversity sampling, and graph-based retrieval indexes.
    Same deterministic IVF index as llm_knn_ivf_det, but the query set
    IS the corpus, which changes the scale shape that matters: probes
    (N x n_probe rows) join assignments (N rows) as a shuffle EQUI-JOIN
    keyed on the cell id — per-cell fan-out bounded by cell size, never
    the broadcast-the-queries plan (impossible when queries = corpus)
    and never N². Cell count ADAPTS to the corpus — max(64,
    floor(sqrt(4N))), one metadata-cheap count job, same formula in the
    oracle's subquery LIMIT. sqrt-scaled cells are the minimizer of
    assignment (N*n_cells) + candidates (n_probe*N^2/n_cells) — the
    same 2*N^1.5 argument that fixed llm_bitext_mine's quantizer in
    r11 — and fixed cells measured 31.6 s vs 13.0 s for adaptive at 5x
    vectors (sf0.5, r5). See operators/similarity.knn_graph_ivf for the
    norm-staging rationale."""
    from randas_spark.operators.similarity import knn_graph_ivf

    emb = t(spark, sf_dir, "embeddings")
    n_cells = max(64, int(math.floor(math.sqrt(4 * table_num_rows(sf_dir, "embeddings")))))
    return knn_graph_ivf(emb, "vec_id", "embedding", n_cells=n_cells, n_probe=4, top_k=5)


@register(
    "llm_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE {_sql_ivf_chain(_CELLS_SQRT_4N)},
    graph AS (
        {_sql_ivf_topk(5, "qid, cid, cos")}
    ),
    edges AS (SELECT qid AS id_a, cid AS id_b FROM graph WHERE cos >= 0.35),
    und AS (
        SELECT id_a AS u, id_b AS v FROM edges
        UNION
        SELECT id_b, id_a FROM edges
    ),
    reach(node, lbl) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.node, e.v FROM reach r JOIN und e ON e.u = r.lbl
    )
    SELECT node AS vec_id, min(lbl) AS cluster, node = min(lbl) AS keep
    FROM reach GROUP BY node
    """,
)
def llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: edges are kNN-graph
    neighbors with cosine >= 0.35 (the near-orthogonal synthetic corpus'
    near-dup band, as llm_dedup_embedding), closed transitively via
    connected components; every vector gets (cluster, keep-on-minimum).
    The composition that matters at 100 TB: the candidate edge set comes
    from the LINEAR adaptive-cell IVF graph (never all pairs), and the
    closure runs in distributed rounds with only convergence counts on
    the driver. Closure uses large/small-star CC: the kNN-graph edge
    set forms long sparse chains through embedding space (measured
    diameter > 20 already at sf0.1), exactly the high-diameter topology
    where O(diameter) label-propagation rounds stall and O(log² n) star
    rounds don't. Oracle replays the full chain — graph CTEs + recursive
    reachability closure."""
    from randas_spark.operators.dedup import dedup_cluster_assignments
    from randas_spark.operators.similarity import knn_graph_ivf

    emb = t(spark, sf_dir, "embeddings")
    n_cells = max(64, int(math.floor(math.sqrt(4 * table_num_rows(sf_dir, "embeddings")))))
    # min_cos pushes the 0.35 edge threshold BELOW the graph's rank
    # window (commutes exactly — the filter is on the ordering key), so
    # the rank shuffle and star-CC checkpoint carry only the near-dup
    # band, not every probed candidate pair (r6: 10.5 s -> see BASELINE)
    graph = knn_graph_ivf(
        emb, "vec_id", "embedding", n_cells=n_cells, n_probe=4, top_k=5, min_cos=0.35
    )
    edges = graph.select(F.col("qid").alias("id_a"), F.col("cid").alias("id_b"))
    return dedup_cluster_assignments(emb, edges, "vec_id")


@register(
    "llm_multimodal_audio",
    oracle=f"""
    WITH seedp AS (
        SELECT doc_id,
               100 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) * 8 AS freq,
               CAST(('0x' || substr(md5(text), 3, 2)) AS INT) / 255.0 * 2 * pi() AS phase
        FROM documents WHERE doc_id < 50
    ), smp AS (
        SELECT doc_id,
               list_transform(generate_series(0, 511),
                   i -> trunc(30000 * sin(2 * pi() * freq * i / 8000 + phase))
                        / 32768) AS s
        FROM seedp
    ), {_sql_audio_features(512, 1068)}
    """,
)
def llm_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline over REAL WAV bytes (operators/multimodal.
    attach_wav_payload → extract_audio_features): deterministic PCM16
    tones synthesized per doc, decoded by the dependency-free RIFF codec
    (operators/wav.py), 8-dim features via Arrow-batched mapInPandas.
    The oracle resynthesizes the tone FROM FIRST PRINCIPLES in DuckDB —
    md5-seeded freq/phase, the same trunc(30000·sin(...)) sample loop in
    the same IEEE op order, ordered list_reduce sums mirroring Python's
    left-to-right accumulation — so the value hash proves the WAV encode
    → RIFF parse → feature chain is bit-exact (n_bytes 1068 = 44-byte
    canonical header + 1024 PCM bytes, also asserted)."""
    from randas_spark.operators.multimodal import attach_wav_payload, extract_audio_features

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    out = extract_audio_features(attach_wav_payload(d, "doc_id", "text"), fake=False)
    return _feature_columns(
        out, _AUDIO_FEATURES, "doc_id", "modality", "n_bytes", "sample_rate"
    )


def _sql_g711_mu(b: str) -> str:
    """DuckDB twin of wav.mulaw_to_linear: invert, segment/mantissa
    expand, strip the 0x84 bias (validated byte-for-byte vs the Python
    decoder over all 256 codes)."""
    t_ = f"(((((255 - {b}) & 15) * 8) + 132) * (1 << (((255 - {b}) >> 4) & 7)))"
    return f"(CASE WHEN (255 - {b}) >= 128 THEN 132 - {t_} ELSE {t_} - 132 END)"


def _sql_g711_a(b: str) -> str:
    """DuckDB twin of wav.alaw_to_linear (toggle 0x55, expand; sign bit
    set means positive per the CCITT reference)."""
    x = f"xor({b}, 85)"
    seg0 = f"(({x} & 15) * 16 + 8)"
    segn = f"((({x} & 15) * 16 + 264) * (1 << ((({x} >> 4) & 7) - 1)))"
    return (
        f"(CASE WHEN ({x} >> 4) & 7 = 0 "
        f"THEN CASE WHEN ({x} & 128) != 0 THEN {seg0} ELSE -{seg0} END "
        f"ELSE CASE WHEN ({x} & 128) != 0 THEN {segn} ELSE -{segn} END END)"
    )


@register(
    "llm_multimodal_audio_g711",
    oracle=f"""
    WITH {_sql_digest("doc_id, doc_id % 2 = 0 AS is_mu")}, smp AS (
        SELECT doc_id,
               list_transform(generate_series(0, 127),
                   i -> (CASE WHEN is_mu
                              THEN {_sql_g711_mu('dg[(i % 16) + 1]')}
                              ELSE {_sql_g711_a('dg[(i % 16) + 1]')}
                         END) / 32768.0) AS s
        FROM dig
    ), {_sql_audio_features(128, 186)}
    """,
)
def llm_multimodal_audio_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_multimodal_audio's COMPRESSED-WAV twin (r13): every document
    carries a real G.711 telephony WAV — md5(text) digest tiled 8× as
    the 128-byte companded data chunk, format 7 (μ-law) for even doc_ids
    and format 6 (A-law) for odd — and extract_audio_features expands
    the actual companded bytes through operators/wav.decode_wav's
    table-free G.711 formulas (fake=False, no stub; this codec class was
    stubbed "compressed WAV" before r13). The oracle re-derives the
    expansion FROM FIRST PRINCIPLES in DuckDB — the same invert/segment/
    mantissa integer math per byte, validated byte-for-byte against the
    Python decoder over all 256 codes of both laws — then the same
    ordered IEEE feature sums as the PCM twin, so the value hash proves
    container parse + G.711 expansion + feature chain bit-exact on every
    document. Scale shape: embarrassingly parallel mapInPandas scan,
    zero shuffles (same as the PNG/WebP twins)."""
    from randas_spark.operators.multimodal import (
        attach_g711_payload,
        extract_audio_features,
    )

    d = t(spark, sf_dir, "documents")
    out = extract_audio_features(attach_g711_payload(d, "doc_id", "text"), fake=False)
    return _feature_columns(
        out, _AUDIO_FEATURES, "doc_id", "modality", "n_bytes", "sample_rate"
    )


#: IMA ADPCM tables inlined for the llm_multimodal_audio_adpcm oracle
#: (kept in sync with operators/wav.py by test_oracle_constants-style
#: membership in the SQL itself: the recurrence replays the decoder).
def _ima_tables_sql() -> tuple[str, str]:
    from randas_spark.operators.wav import _IMA_INDEX_ADJ, _IMA_STEPS

    return (
        "[" + ",".join(map(str, _IMA_STEPS)) + "]",
        "[" + ",".join(map(str, _IMA_INDEX_ADJ)) + "]",
    )


_IMA_STEPS_SQL, _IMA_ADJ_SQL = _ima_tables_sql()

_ADPCM_NEXT_PRED = """GREATEST(-32768, LEAST(32767, pred +
             (CASE WHEN nib >= 8 THEN -1 ELSE 1 END) *
             (st // 8 + CASE WHEN nib % 2 = 1 THEN st // 4 ELSE 0 END
                      + CASE WHEN (nib // 2) % 2 = 1 THEN st // 2 ELSE 0 END
                      + CASE WHEN (nib // 4) % 2 = 1 THEN st ELSE 0 END)))"""


@register(
    "llm_multimodal_audio_adpcm",
    oracle=f"""
    WITH RECURSIVE {_sql_digest()}, seed AS (
        SELECT doc_id, dg,
               CASE WHEN dg[1] + 256 * dg[2] >= 32768
                    THEN dg[1] + 256 * dg[2] - 65536
                    ELSE dg[1] + 256 * dg[2] END AS pred0,
               dg[3] % 89 AS idx0
        FROM dig
    ), dec AS (
        SELECT doc_id, dg, 0 AS i, pred0 AS pred, idx0 AS ix,
               [CAST(pred0 AS DOUBLE) / 32768] AS s
        FROM seed
        UNION ALL
        SELECT doc_id, dg, i + 1,
               {_ADPCM_NEXT_PRED},
               GREATEST(0, LEAST(88, ix + ({_IMA_ADJ_SQL})[(nib % 8) + 1])),
               list_append(s, CAST({_ADPCM_NEXT_PRED} AS DOUBLE) / 32768)
        FROM (
            SELECT doc_id, dg, i, pred, ix, s,
                   CASE WHEN i % 2 = 0 THEN dg[((i // 2) % 16) + 1] % 16
                        ELSE dg[((i // 2) % 16) + 1] // 16 END AS nib,
                   ({_IMA_STEPS_SQL})[ix + 1] AS st
            FROM dec WHERE i < 128
        )
    ), smp AS (
        SELECT doc_id, s FROM dec WHERE i = 128
    ), {_sql_audio_features(129, 128)}
    """,
)
def llm_multimodal_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADPCM leg of the audio-codec family (r13): every document
    carries a real single-block IMA/DVI ADPCM WAV (attach_adpcm_payload
    — digest-derived block header + 128-nibble code stream) and
    extract_audio_features runs the actual per-nibble predictor/
    step-index recurrence in operators/wav.decode_wav (fake=False, no
    stub). The oracle replays the ENTIRE decoder state machine FROM
    FIRST PRINCIPLES in DuckDB — a 128-step RECURSIVE CTE carrying
    (pred, index, samples), the step/index-adjust tables inlined, the
    shift-accumulate diff in integer math, validated bit-exact against
    the Python decoder — then the same ordered IEEE feature sums as the
    PCM/G.711 twins. This is the strongest oracle shape in the codec
    family: a stateful sequential decode proven value-exact per
    document by cross-engine replay. Scale shape: embarrassingly
    parallel mapInPandas scan, zero shuffles."""
    from randas_spark.operators.multimodal import (
        attach_adpcm_payload,
        extract_audio_features,
    )

    d = t(spark, sf_dir, "documents")
    out = extract_audio_features(attach_adpcm_payload(d, "doc_id", "text"), fake=False)
    return _feature_columns(
        out, _AUDIO_FEATURES, "doc_id", "modality", "n_bytes", "sample_rate"
    )


@register(
    "llm_length_buckets",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, {sql_token_count_bpe_ish('text')} AS n_tok FROM documents
    ),
    bucketed AS (
        SELECT doc_id, n_tok,
               CAST(length(bin(greatest(n_tok, 1))) - 1 AS BIGINT) AS bucket
        FROM sized
    )
    SELECT bucket,
           CAST(pow(2, bucket) AS BIGINT) AS bucket_min_tok,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           max(n_tok) AS max_tok,
           {sql_fround('1.0 - CAST(sum(n_tok) AS DOUBLE) / (max(n_tok) * count(*))', 6)} AS padding_waste
    FROM bucketed GROUP BY bucket
    """,
)
def llm_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching stats: docs bucket by floor(log2(token
    count)) — the static bucketing a training data loader uses to batch
    similar-length sequences — and each bucket reports its padding
    waste (1 − Σtok / (max·n)): the fraction of compute a naive
    pad-to-max batch would burn. Pure scan-side arithmetic + one tiny
    agg; floor(log2 n) computed as length(bin(n)) − 1 — pure integer, so
    both engines agree even at exact powers of two where the ln/ln float
    path sits on a rounding knife-edge."""
    d = t(spark, sf_dir, "documents")
    n_tok = token_count_bpe_ish(F.col("text"))
    bucket = (F.length(F.bin(F.greatest(n_tok, F.lit(1)))) - 1).cast("long")
    sized = d.select(n_tok.alias("n_tok"), bucket.alias("bucket"))
    return sized.groupBy("bucket").agg(
        F.pow(F.lit(2.0), F.col("bucket")).cast("long").alias("bucket_min_tok"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tok"),
        F.max("n_tok").alias("max_tok"),
        fround(
            1.0 - F.sum("n_tok").cast("double") / (F.max("n_tok") * F.count(F.lit(1))), 6
        ).alias("padding_waste"),
    )


def _graph_rank_oracle(iters: int = 3, damping: float = 0.85) -> str:
    from randas_spark.operators.mining import sql_pagerank

    graph = f"""{_sql_jaccard_head()}, edges AS (
        SELECT id_a, id_b
        {_sql_jaccard_edges(0.3)}
    ), ed AS (
        SELECT id_a AS s, id_b AS d FROM edges
        UNION ALL
        SELECT id_b, id_a FROM edges
    )"""
    ranks = sql_pagerank(
        graph,
        "SELECT doc_id AS node FROM documents",
        iters,
        r0="1.0 / n",
        contrib="p.r / deg.od",
        finish=f"(1 - {damping}) / n + {damping} * tot",
    )
    return f"""
    WITH {ranks}
    SELECT node AS doc_id, {sql_fround('r', 9)} AS rank FROM ranks
    """


@register("llm_graph_rank", oracle=_graph_rank_oracle())
def llm_graph_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 bounded iterations, d=0.85) over the 5-gram-Jaccard
    near-dup graph (operators/mining.graph_pagerank): authority-based
    canonical-doc selection / graph quality propagation. The rounds are
    a single lazy plan of join+agg rounds — each round shuffles on the
    node key only — and the oracle replays the identical rounds as
    chained CTEs (operators/mining.sql_pagerank), so the iterative
    algorithm itself is value-hash checked (fround(9): float sum order
    may differ between engines by ~1e-16 relative, far under the
    rounding)."""
    from randas_spark.operators.dedup import ngram_jaccard_pairs
    from randas_spark.operators.mining import graph_pagerank

    d = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.3)
    ranks = graph_pagerank(
        d.select(F.col("doc_id").alias("node")), pairs, "node", iters=3, damping=0.85
    )
    return ranks.select(F.col("node").alias("doc_id"), fround(F.col("r"), 9).alias("rank"))


def _bpe_oracle(n_merges: int) -> str:
    """DuckDB replay of the greedy BPE merge sequence: the rounds are
    MACRO-EXPANDED as chained CTEs (w0 -> p1 -> w1 -> ... -> p_n), each
    pk the deterministic top pair of w{k-1} and each wk the merge
    applied via the same paren-coded replace() as the Spark side —
    leftmost non-overlapping on both engines, so the whole iterative
    algorithm is value-hash checked, not just its last state."""
    parts = [
        """WITH w0 AS MATERIALIZED (
        SELECT cnt, regexp_replace(word, '(.)', '(\\1)', 'g') AS sym_str
        FROM (
            SELECT word, count(*) AS cnt FROM (
                SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
                FROM documents WHERE doc_id % 2 = 0
            ) WHERE word <> '' GROUP BY word
        )
    )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(f""",
    p{k} AS MATERIALIZED (
        SELECT a, b, CAST(sum(cnt) AS BIGINT) AS freq FROM (
            SELECT cnt, p['a'] AS a, p['b'] AS b FROM (
                SELECT cnt,
                       unnest(list_transform(
                           generate_series(1, greatest(len(syms) - 1, 0)),
                           i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS p
                FROM (SELECT cnt,
                             regexp_extract_all(sym_str, '\\(([a-z]+)\\)', 1) AS syms
                      FROM w{k - 1})
            )
        ) GROUP BY a, b ORDER BY freq DESC, a, b LIMIT 1
    ),
    w{k} AS MATERIALIZED (
        SELECT cnt,
               replace(sym_str, '(' || p.a || ')(' || p.b || ')',
                       '(' || p.a || p.b || ')') AS sym_str
        FROM w{k - 1} CROSS JOIN p{k} p
    )""")
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,"
        f" a || b AS merged, freq FROM p{k}"
        for k in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n    " + sel


@register("llm_bpe_learn", oracle=_bpe_oracle(12))
def llm_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/corpus.bpe_learn,
    Sennrich et al. 2016): the first 12 greedy merge rules learned from
    a deterministic half-sample of the documents table (doc_id % 2 = 0
    — the corpus-sample stage every production tokenizer build has).
    The iteration state is the distinct-WORD frequency table (one
    corpus scan, checkpointed once; Heaps'-law small thereafter), each
    round is a map-side-combinable pair count + LIMIT-1 TakeOrdered,
    and merge application is a codegen'd paren-delimited replace — no
    UDF anywhere. The oracle macro-expands the same 12 rounds as
    chained DuckDB CTEs, so every learned rule and its frequency is
    value-hash verified."""
    from randas_spark.operators.corpus import bpe_learn

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return bpe_learn(d, "text", n_merges=12)


def _url_synth_sql() -> str:
    """Deterministic messy-URL synthesis from doc_id (the documents
    fixture carries no URL column): six variants per page id covering
    scheme/host case, explicit default ports, trailing slash, tracking
    params, and fragments — the crawl equivalence class the
    canonicalizer must collapse."""
    base = "'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'"
    path = "'/articles/item' || CAST(doc_id % 50 AS VARCHAR)"
    return f"""CASE doc_id % 6
        WHEN 0 THEN 'https://' || {base} || {path}
        WHEN 1 THEN 'HTTPS://' || upper({base}) || ':443' || {path}
        WHEN 2 THEN 'https://' || {base} || {path} || '/'
        WHEN 3 THEN 'https://' || {base} || {path}
                 || '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
        WHEN 4 THEN 'http://' || {base} || ':80' || {path} || '#section2'
        ELSE 'https://' || {base} || {path} || '?page=2&utm_medium=email'
    END"""


from randas_spark.functions.text import sql_url_canonicalize as _sql_url_canon


@register(
    "llm_url_dedup",
    oracle=f"""
    SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_doc
    FROM (
        SELECT doc_id, {_sql_url_canon('url')} AS canon_url
        FROM (SELECT doc_id, {_url_synth_sql()} AS url FROM documents)
    ) GROUP BY canon_url
    """,
)
def llm_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (functions/text.url_canonicalize) —
    the standard PRE-content-dedup stage of a crawl pipeline: collapse
    scheme/host case, default ports, trailing slashes, fragments and
    tracking params, then exact-dedup on the canonical URL. Plan: one
    scan + one map-side-combinable groupBy, zero UDFs, zero joins —
    strictly cheaper than any shingle/minhash op, which is exactly why
    it runs first at 100 TB. URLs are synthesized deterministically
    from doc_id (six messy variants; the fixture has no URL column) so
    both engines canonicalize the identical inputs."""
    from randas_spark.functions.text import url_canonicalize

    d = t(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 20).cast("string")
    p = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 6
    base = F.concat(F.lit("site"), h, F.lit(".example.com"))
    path = F.concat(F.lit("/articles/item"), p)
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), base, path))
        .when(v == 1, F.concat(F.lit("HTTPS://"), F.upper(base), F.lit(":443"), path))
        .when(v == 2, F.concat(F.lit("https://"), base, path, F.lit("/")))
        .when(
            v == 3,
            F.concat(
                F.lit("https://"), base, path,
                F.lit("?utm_source=feed&utm_campaign=c"),
                (F.col("doc_id") % 3).cast("string"),
            ),
        )
        .when(v == 4, F.concat(F.lit("http://"), base, F.lit(":80"), path, F.lit("#section2")))
        .otherwise(
            F.concat(F.lit("https://"), base, path, F.lit("?page=2&utm_medium=email"))
        )
    )
    return (
        d.select(F.col("doc_id"), url.alias("url"))
        .select("doc_id", url_canonicalize(F.col("url")).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
        )
    )


def _bpe_apply_oracle(n_merges: int) -> str:
    """llm_bpe_learn's macro-expanded CTE chain plus an APPLY stage: the
    learned pairs are pivoted into one row (m) and chained as replace()
    calls inside a list_transform lambda — same paren-coded encoding as
    operators/corpus.bpe_apply, so per-doc subword counts value-hash."""
    learn = _bpe_oracle(n_merges)
    ctes = learn.split("\n    SELECT CAST(1 AS BIGINT)")[0]
    m_cols = ", ".join(
        f"(SELECT a FROM p{k}) AS a{k}, (SELECT b FROM p{k}) AS b{k}"
        for k in range(1, n_merges + 1)
    )
    enc = "regexp_replace(w, '(.)', '(\\1)', 'g')"
    for k in range(1, n_merges + 1):
        enc = (
            f"replace({enc}, '(' || a{k} || ')(' || b{k} || ')',"
            f" '(' || a{k} || b{k} || ')')"
        )
    n_sub = (
        f"CAST(coalesce(list_sum(list_transform(ws,"
        f" w -> len({enc}) - len(replace({enc}, '(', '')))), 0) AS BIGINT)"
    )
    comp = (
        "CASE WHEN n_subwords > 0 THEN "
        + sql_fround("CAST(n_chars AS DOUBLE) / n_subwords", 6)
        + " ELSE NULL END"
    )
    return f"""{ctes},
    m AS (SELECT {m_cols}),
    docs AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           w -> w <> '') AS ws
        FROM documents
    ),
    encoded AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
                    AS BIGINT) AS n_chars,
               {n_sub} AS n_subwords
        FROM docs CROSS JOIN m
    )
    SELECT doc_id, n_words, n_chars, n_subwords, {comp} AS compression
    FROM encoded
    """


@register("llm_bpe_apply", oracle=_bpe_apply_oracle(12))
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION (operators/corpus.bpe_apply): the 12 merge
    rules learned by llm_bpe_learn's half-sample are applied to EVERY
    document — per doc, word/char/subword counts and the chars-per-
    subword compression ratio, the tokens-per-document number corpus
    budgets are priced in. Learning collects only the 12-row merge
    table to the driver (inherent to BPE's sequential decision);
    application is one scan-side pass — merges fold in as literal
    replace chains inside an array transform, no UDF/explode/shuffle.
    The oracle replays learn AND apply in one macro-expanded statement."""
    from randas_spark.operators.corpus import bpe_apply, bpe_learn

    d = t(spark, sf_dir, "documents")
    learned = bpe_learn(
        d.filter(F.col("doc_id") % 2 == 0), "text", n_merges=12
    ).orderBy("merge_rank").collect()
    merges = [(r["lhs"], r["rhs"]) for r in learned]
    enc = bpe_apply(d, "doc_id", "text", merges)
    comp = F.when(
        F.col("n_subwords") > 0,
        fround(F.col("n_chars").cast("double") / F.col("n_subwords"), 6),
    )
    return enc.withColumn("compression", comp)


# --------------------------------------------------------------------------
# Clustering
# --------------------------------------------------------------------------


#: Squared Euclidean distance from ``v.qx`` (integer-quantized
#: coordinates) to the centroid ``c.carr`` as the engine's
#: array-index-order left fold — the one distance of the k-means and PQ
#: replays.
_SQL_SQ_DIST = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, len(v.qx)), "
    "i -> (CAST(v.qx[i] AS DOUBLE) - c.carr[i]) * "
    "(CAST(v.qx[i] AS DOUBLE) - c.carr[i]))), "
    "(acc, x) -> acc + x)"
)


def _kmeans_oracle(
    k: int = 8,
    n_iter: int = 4,
    dim: int = 64,
    scale: int = 512,
    final: str | None = None,
) -> str:
    """Macro-expanded Lloyd replay: one (asg, upd, cent) CTE trio per
    iteration, AS MATERIALIZED throughout (the bpe_learn lesson — DuckDB
    inlines single-reference CTEs and re-evaluates an iterative chain
    exponentially otherwise). The distance fold mirrors the engine's
    array-index-order left fold; centroid coordinates are exact BIGINT
    sums divided once as DOUBLE, so every iteration is bit-identical to
    operators/cluster.kmeans_lloyd_det."""

    parts = [
        f"""v AS MATERIALIZED (
        SELECT vec_id AS vid,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS qx
        FROM embeddings
    ),
    cent0 AS MATERIALIZED (
        SELECT vid AS cluster, list_transform(qx, x -> CAST(x AS DOUBLE)) AS carr
        FROM v ORDER BY md5(CAST(vid AS VARCHAR)), vid LIMIT {k}
    )"""
    ]
    for it in range(1, n_iter + 1):
        parts.append(
            f"""asg{it} AS MATERIALIZED (
        SELECT vid, qx, cluster, dist FROM (
            SELECT v.vid, v.qx, c.cluster, {_SQL_SQ_DIST} AS dist,
                   row_number() OVER (
                       PARTITION BY v.vid ORDER BY ({_SQL_SQ_DIST}) ASC, c.cluster ASC
                   ) AS rn
            FROM v CROSS JOIN cent{it - 1} c
        ) WHERE rn = 1
    )"""
        )
        if it < n_iter:
            parts.append(
                f"""upd{it} AS MATERIALIZED (
        SELECT cluster, list(m ORDER BY i) AS carr FROM (
            SELECT a.cluster, g.i AS i,
                   CAST(CAST(sum(a.qx[g.i]) AS BIGINT) AS DOUBLE) / count(*) AS m
            FROM asg{it} a, generate_series(1, {dim}) g(i)
            GROUP BY a.cluster, g.i
        ) GROUP BY cluster
    ),
    cent{it} AS MATERIALIZED (
        SELECT c.cluster, coalesce(u.carr, c.carr) AS carr
        FROM cent{it - 1} c LEFT JOIN upd{it} u USING (cluster)
    )"""
            )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + (final or f"SELECT vid AS vec_id, cluster, dist FROM asg{n_iter}")
    )


@register("llm_kmeans_det", oracle=_kmeans_oracle())
def llm_kmeans_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means over the embedding corpus
    (operators/cluster.kmeans_lloyd_det; k=8, 4 Lloyd rounds): the
    corpus-curation primitive behind diversity sampling, topic
    balancing, and SemDeDup-style cluster pruning. Executes in the
    MLlib-KMeans plan shape — broadcast-literal centroids make each
    assignment a zero-shuffle projection, the update is one map-side-
    combined (cluster, pos) shuffle, driver state is k x dim — but with
    integer-quantized coordinates so the ENTIRE fit (seeding through
    final assignment distances) is bit-deterministic and carries a full
    value-hash oracle, which MLlib's float-accumulation k-means cannot.
    Uniquely among the oracle suite this replays a 4-round iterative
    numeric fixpoint cross-engine, validated against an independent
    numpy replay in pytest."""
    from randas_spark.operators.cluster import kmeans_lloyd_det

    emb = t(spark, sf_dir, "embeddings")
    return kmeans_lloyd_det(emb, "vec_id", "embedding", k=8, n_iter=4, scale=512.0)


@register(
    "llm_split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE {_sql_jaccard_head()}, edges AS (
        SELECT id_a, id_b
        {_sql_jaccard_edges(0.3)}
    ), und AS (
        SELECT id_a AS u, id_b AS v FROM edges
        UNION
        SELECT id_b, id_a FROM edges
    ), reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.node, e.v FROM reach r JOIN und e ON e.u = r.lbl
    ), comp AS (
        SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node
    )
    SELECT doc_id, cluster,
           CASE WHEN md5(CAST(cluster AS VARCHAR)) < 'cccccccc' THEN 'train'
                WHEN md5(CAST(cluster AS VARCHAR)) < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
    FROM comp
    """,
)
def llm_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split (operators/sampling.
    leakage_safe_split; 80/10/10 by md5 threshold on the cluster
    representative): near-dup Jaccard clusters are atomic, so no test
    document has a near-duplicate in train — the evaluation-integrity
    property doc-level splitting (llm_train_test_split) cannot give on
    crawl corpora. Same pair edges as llm_dedup_clusters, closed by
    star-CC; the oracle replays closure + threshold in one recursive
    CTE."""
    from randas_spark.operators.dedup import ngram_jaccard_pairs
    from randas_spark.operators.sampling import leakage_safe_split

    d = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.3)
    return leakage_safe_split(d, pairs, "doc_id")


@register(
    "llm_importance_resample",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source,
               greatest(0, coalesce(CAST(floor(({sql_quality_score('text')}) * 1000000.0) AS BIGINT), 0)) AS wq
        FROM documents
    ), tot AS (
        SELECT CAST(sum(wq) AS BIGINT) AS sw, CAST(count(*) AS DOUBLE) AS n FROM w
    )
    SELECT doc_id, source, wq
    FROM w, tot
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 1000000
          < CASE WHEN sw > 0
                 THEN CAST(floor(least(1.0,
                      0.3 * n * CAST(wq AS DOUBLE) / CAST(sw AS DOUBLE)) * 1000000) AS BIGINT)
                 ELSE CAST(floor(0.3 * 1000000) AS BIGINT) END
    """,
)
def llm_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling (operators/sampling.
    importance_resample, target 30%): each document kept with
    probability min(1, 0.3·N·w/Σw) where w is its quality score — the
    DSIR-shaped pass that tilts a kept subset toward high-quality text
    without an RNG (md5-threshold membership, 1e-6-quantized weights so
    Σw is an exact integer on both engines). One broadcast scalar agg +
    a scan-side codegen filter; the corpus never shuffles."""
    from randas_spark.operators.sampling import importance_resample

    d = t(spark, sf_dir, "documents")
    kept = importance_resample(
        d, "doc_id", quality_score(F.col("text")), target_frac=0.3
    )
    return kept.select("doc_id", "source", "wq")


@register(
    "llm_cluster_diverse_sample",
    oracle=_kmeans_oracle(
        final="""SELECT vec_id, cluster, rk FROM (
        SELECT vid AS vec_id, cluster,
               row_number() OVER (
                   PARTITION BY cluster
                   ORDER BY md5(CAST(vid AS VARCHAR)), vid
               ) AS rk
        FROM asg4
    ) WHERE rk <= 10"""
    ),
)
def llm_cluster_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sample: k-means partitions the
    embedding space (operators/cluster.kmeans_lloyd_det), then an equal
    md5-ordered quota per cluster (10 each) — the DCLM/SemDeDup-style
    curation pass that covers embedding space uniformly instead of
    letting dense regions dominate a uniform sample. One rank window
    over the assignment (same stratified_sample discipline, stratum =
    learned cluster); the oracle replays the full Lloyd chain plus the
    quota window."""
    from randas_spark.operators.cluster import kmeans_lloyd_det

    emb = t(spark, sf_dir, "embeddings")
    lab = kmeans_lloyd_det(emb, "vec_id", "embedding", k=8, n_iter=4, scale=512.0)
    from randas_spark.operators.sampling import _md5_hex

    w = Window.partitionBy("cluster").orderBy(
        _md5_hex(F.col("vec_id")), F.col("vec_id")
    )
    return (
        lab.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("vec_id", "cluster", "rk")
    )


@register(
    "llm_minhash_recall_audit",
    oracle=_sql_minhash_lsh(
        final="""SELECT band,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           """
        + sql_fround(
            "sum(CASE WHEN f.id_a IS NOT NULL THEN 1.0 ELSE 0.0 END) / count(*)", 6
        )
        + """ AS recall
    FROM (
        SELECT ei.id_a, ei.id_b,
               CAST(floor("""
        + _SQL_JACCARD
        + """ * 10) AS BIGINT) AS band
        """
        + _sql_jaccard_edges(
            0.6, f"({_sql_shingle_inter()}) ei", "ei.id_a", "ei.id_b"
        )
        + """
    ) tp
    LEFT JOIN (
        SELECT i.id_a, i.id_b """
        + _sql_jaccard_edges(0.6, "inter i", "i.id_a", "i.id_b")
        + """
    ) f ON f.id_a = tp.id_a AND f.id_b = tp.id_b
    GROUP BY band"""
    ),
)
def llm_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality audit: per exact-Jaccard decile band (floor(j·10)),
    how many true near-dup pairs (exact shingle Jaccard >= 0.6) does the
    MinHash-LSH pipeline recover? The measured S-curve every production
    dedup run should ship with — banding recall quantifies the pairs the
    32-perm/8-band configuration misses near the threshold, which is the
    number that justifies (or indicts) the band/row choice at 100 TB.
    Composition of two oracle-backed primitives: the exact pair set
    (ngram_jaccard_pairs' shingle equi-join) left-joined with the
    verified LSH pair set (minhash_lsh_pairs_portable), grouped by band;
    both reuse ONE shingle scan on the engine side: one shared
    shingle-array checkpoint feeds the exact self-join, the signature
    build, AND the LSH verification (guide §2.4)."""
    from randas_spark.operators.dedup import (
        minhash_lsh_pairs_portable,
        ngram_jaccard_pairs,
        shingle_checkpoint,
    )

    d = t(spark, sf_dir, "documents")
    sh = shingle_checkpoint(d, "doc_id", "text", 5)
    true_pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", k=5, threshold=0.6, shingle_arrays=sh
    )
    found = minhash_lsh_pairs_portable(
        d, "doc_id", "text", num_perm=32, bands=8, k=5, threshold=0.6,
        shingle_arrays=sh,
    ).select("id_a", "id_b", F.lit(1).alias("hit"))
    banded = true_pairs.select(
        "id_a",
        "id_b",
        F.floor(F.col("jaccard") * 10).cast("long").alias("band"),
    )
    return (
        banded.join(found, ["id_a", "id_b"], "left")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_found"),
            fround(
                F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("double"))
                / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        )
    )


@register(
    "llm_embedding_drift",
    oracle=f"""
    WITH v AS MATERIALIZED (
        SELECT label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT)) AS qx
        FROM embeddings
    ), lsum AS (
        SELECT label, g.i AS i, CAST(sum(v.qx[g.i]) AS BIGINT) AS s, count(*) AS cnt
        FROM v, generate_series(1, 64) g(i)
        GROUP BY label, g.i
    ), lcent AS (
        SELECT label, CAST(max(cnt) AS BIGINT) AS n,
               list(CAST(s AS DOUBLE) / cnt ORDER BY i) AS carr
        FROM lsum GROUP BY label
    ), gsum AS (
        SELECT g.i AS i, CAST(sum(v.qx[g.i]) AS BIGINT) AS s, count(*) AS cnt
        FROM v, generate_series(1, 64) g(i)
        GROUP BY g.i
    ), gcent AS (
        SELECT list(CAST(s AS DOUBLE) / cnt ORDER BY i) AS garr FROM gsum
    )
    SELECT label, n, {sql_cosine('carr', 'garr')} AS cos_to_corpus
    FROM lcent, gcent
    """,
)
def llm_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid drift monitor: cosine between each
    label's mean embedding and the corpus mean — the embedding-space
    twin of llm_source_drift_kl (a shard/source whose centroid swings
    away from the corpus is off-distribution BEFORE any token statistic
    notices). Centroid means use the kmeans_lloyd_det discipline —
    integer-quantized coordinates so cross-row sums are exact longs and
    the means are bit-deterministic — which is what lets a FLOAT
    centroid comparison carry a value-hash oracle at all. Plan: ONE
    posexplode scan → one map-side-combined (label, pos) agg; the
    corpus centroid then reduces the TINY per-label sum table
    (labels×dim rows) rather than re-scanning the corpus — exact-long
    sums are associative, so the rollup is bit-identical to a direct
    corpus agg (the oracle computes it directly; same integers).
    Broadcast corpus centroid, codegen cosine. Nothing N-sized is ever
    materialized or scanned twice."""
    from randas_spark.operators.cluster import _quantize

    emb = t(spark, sf_dir, "embeddings").select(
        "label", _quantize(F.col("embedding"), 512.0).alias("qx")
    )
    ex = emb.select("label", F.posexplode("qx").alias("pos", "x"))
    lsum = (
        ex.groupBy("label", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # labels×dim rows — tiny; serves both centroids
    )

    def carr_of(g):
        return F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda e: e["m"]
        ).alias("carr")

    lcent = (
        lsum.withColumn("m", F.col("s").cast("double") / F.col("cnt"))
        .groupBy("label")
        .agg(F.max("cnt").cast("long").alias("n"), carr_of(None))
    )
    gcent = (
        lsum.groupBy("pos")
        .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
        .withColumn("m", F.col("s").cast("double") / F.col("cnt"))
        .groupBy()
        .agg(carr_of(None))
        .select(F.col("carr").alias("garr"))
    )
    return lcent.crossJoin(F.broadcast(gcent)).select(
        "label", "n", cosine(F.col("carr"), F.col("garr")).alias("cos_to_corpus")
    )


def _hybrid_dedup_final(tail: str | None = None) -> str:
    """Appended to the minhash CTE chain (recursive=True): embedding
    LSH-bucket near pairs, edge union, reachability closure — then
    ``tail`` (default: min-label clusters + keep flag, the cross-signal
    twin of llm_dedup_clusters' oracle). Same final= convention as
    _sql_minhash_lsh/_kmeans_oracle — no post-hoc string surgery."""
    emb_pairs = f"""
    , {_sql_adaptive_emb_buckets()}, emb_pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM emb_b a JOIN emb_b b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ({sql_cosine('a.embedding', 'b.embedding')}) >= 0.35
    ), text_pairs AS (
        SELECT i.id_a, i.id_b {_sql_jaccard_edges(0.6, "inter i", "i.id_a", "i.id_b")}
    ), all_edges AS (
        SELECT id_a, id_b FROM text_pairs UNION SELECT id_a, id_b FROM emb_pairs
    ), und AS (
        SELECT id_a AS u, id_b AS v FROM all_edges
        UNION SELECT id_b, id_a FROM all_edges
    ), reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.node, e.v FROM reach r JOIN und e ON e.u = r.lbl
    )
    """ + (
        tail
        or """SELECT node AS doc_id, min(lbl) AS cluster, node = min(lbl) AS keep
    FROM reach GROUP BY node"""
    )
    return emb_pairs


@register(
    "llm_dedup_hybrid",
    oracle=_sql_minhash_lsh(recursive=True, final=_hybrid_dedup_final()),
)
def llm_dedup_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid text+semantic dedup: the union of MinHash-LSH text pairs
    (exact-Jaccard-verified, >= 0.6) and embedding LSH near pairs
    (cosine >= 0.35) closed under ONE transitive clustering — what
    production pipelines actually run, because surface dedup misses
    paraphrases and embedding dedup misses short verbatim overlaps; a
    doc caught by EITHER signal joins the same cluster graph, and
    keep-on-minimum yields one survivor per merged cluster. Both pair
    generators are banded/bucketed equi-joins (no all-pairs stage) with
    SCALE-BOUNDED candidate volume: the text leg's band buckets stay
    O(1)-sized by the minhash S-curve (r11 audit at sf1.0: 382k buckets,
    max size 4), and the embedding leg uses the adaptive plane count +
    deterministic hot-bucket cap (see llm_dedup_embedding_lsh — the
    fixed 4-plane bucketing this replaced was the r11 263x-at-100x
    superlinearity: 1.25e9 in-bucket cosine pairs at 200k vectors). The
    union feeds star-CC (local-contraction opening, O(log² n) rounds).
    Embeddings map 1:1 to documents by id (TESTDATA.md)."""
    from randas_spark.operators.dedup import (
        dedup_cluster_assignments,
        embedding_near_pairs,
        minhash_lsh_pairs_portable,
        overlap,
    )
    from randas_spark.operators.similarity import adaptive_plane_count

    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    # The two pair generators share NOTHING (different tables, different
    # signals), but the text leg runs one eager materialization at
    # construction time (its shingle-array checkpoint). Materialize the
    # embedding leg on a second driver thread so its bucket window +
    # cosine join executes WHILE the text leg's jobs run
    # (guide §2.6 "overlap independent jobs" — Spark's FIFO scheduler
    # back-fills the idle tail of each job with the other leg's tasks).
    # Same jobs either way — the union previously computed the emb leg
    # inside its own materialization anyway — just no longer serialized.
    emb_pairs, text_pairs = overlap(
        lambda: embedding_near_pairs(
            e, "vec_id", "embedding", threshold=0.35,
            # footer-metadata N (see llm_dedup_embedding_lsh): drops
            # the count job from every hybrid invocation; identical
            # N, oracle replay unchanged.
            n_planes=adaptive_plane_count(
                table_num_rows(sf_dir, "embeddings")
            ),
            dim=64, bucket_cap=4096,
        )
        .select("id_a", "id_b")
        .localCheckpoint(),
        lambda: minhash_lsh_pairs_portable(
            d, "doc_id", "text", num_perm=32, bands=8, k=5, threshold=0.6
        ).select("id_a", "id_b"),
    )
    # No .distinct() on the union: connected_components_star orients and
    # distincts its edge input anyway, so the extra exchange+agg here was
    # pure cost — identical component labeling on the same edge SET.
    return dedup_cluster_assignments(d, text_pairs.union(emb_pairs), "doc_id")


@register(
    "llm_dedup_minhash_clusters",
    oracle=_sql_minhash_lsh(
        recursive=True,
        final=f""", text_pairs AS (
        SELECT i.id_a, i.id_b {_sql_jaccard_edges(0.6, "inter i", "i.id_a", "i.id_b")}
    ), und AS (
        SELECT id_a AS u, id_b AS v FROM text_pairs
        UNION SELECT id_b, id_a FROM text_pairs
    ), reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.node, e.v FROM reach r JOIN und e ON e.u = r.lbl
    )
    SELECT node AS doc_id, min(lbl) AS cluster, node = min(lbl) AS keep
    FROM reach GROUP BY node""",
    ),
)
def llm_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters over MINHASH-LSH pairs — the
    production-scale composition (llm_dedup_clusters uses the exact
    all-candidate shingle join; at 100 TB the candidate generator must
    be the banded LSH): verified LSH pairs feed star-CC
    (local-contraction opening + check-first exit), keep-on-minimum.
    The whole chain — signatures, bands, verification, closure — is
    engine-portable, so the full clustering value-hash-checks."""
    from randas_spark.operators.dedup import (
        dedup_cluster_assignments,
        minhash_lsh_pairs_portable,
    )

    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs_portable(
        d, "doc_id", "text", num_perm=32, bands=8, k=5, threshold=0.6
    ).select("id_a", "id_b")
    return dedup_cluster_assignments(d, pairs, "doc_id")


@register(
    "llm_dedup_rate_report",
    oracle=_sql_minhash_lsh(
        recursive=True,
        final=_hybrid_dedup_final(
            tail=f""", comp AS (
        SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN c.cluster = c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           {sql_fround('1.0 - sum(CASE WHEN c.cluster = c.doc_id THEN 1.0 ELSE 0.0 END) / count(*)', 6)} AS dup_rate
    FROM comp c JOIN documents d USING (doc_id)
    GROUP BY d.source"""
        ),
    ),
)
def llm_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup-rate report over the HYBRID pair graph (text
    MinHash ∪ embedding LSH — same edges as llm_dedup_hybrid): per
    source, document count, survivors after keep-on-minimum, and the
    duplicate rate — the accounting table every corpus-build run ships
    (a source with an outlier dup_rate is a crawl bug or a license
    trap). One broadcast-size join of the cluster labels back to the
    doc->source map, then a map-side-combined per-source aggregate."""
    from randas_spark.queries.llm import llm_dedup_hybrid

    labels = llm_dedup_hybrid(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        labels.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            fround(
                F.lit(1.0)
                - F.sum(F.col("keep").cast("double")) / F.count(F.lit(1)),
                6,
            ).alias("dup_rate"),
        )
    )


@register(
    "llm_cluster_topics",
    oracle=_kmeans_oracle(
        final=f""", tk AS (
        SELECT doc_id, term FROM (
            SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents
        ) WHERE term <> ''
    ), ctf AS (
        SELECT a.cluster, tk.term, count(*) AS tf
        FROM asg4 a JOIN tk ON tk.doc_id = a.vid
        GROUP BY a.cluster, tk.term
    ), dfx AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY term
    ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT cluster, term,
           {sql_fround('tf * ln(n_docs / df)', 6)} AS score
    FROM ctf JOIN dfx USING (term) CROSS JOIN n
    QUALIFY row_number() OVER (PARTITION BY cluster
                               ORDER BY tf * ln(n_docs / df) DESC, term) <= 5"""
    ),
)
def llm_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster profiling: top-5 TF-IDF terms per k-means cluster — the
    'what is in this cluster' report every embedding-clustered corpus
    ships with (DCLM/SemDeDup-style curation reads exactly this table
    before deciding which clusters to prune or upsample). Embeddings map
    1:1 to documents by id, so the learned labels join the token stream
    directly; term weight is cluster-TF x corpus-IDF (high = frequent
    here, rare elsewhere — the discriminative signature). Plan: the
    Lloyd fit (audited in llm_kmeans_det) + one token-count shuffle
    keyed (cluster, term) + a broadcast of the vocabulary-sized df
    table + a k-group rank window."""
    from randas_spark.functions.text import tokens
    from randas_spark.operators.cluster import kmeans_lloyd_det

    emb = t(spark, sf_dir, "embeddings")
    lab = kmeans_lloyd_det(emb, "vec_id", "embedding", k=8, n_iter=4).select(
        F.col("vec_id").alias("doc_id"), "cluster"
    )
    d = t(spark, sf_dir, "documents")
    n_docs = float(table_num_rows(sf_dir, "documents"))
    tk = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term")).filter(
        F.col("term") != ""
    )
    ctf = (
        tk.join(lab, "doc_id")
        .groupBy("cluster", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfx = tk.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = ctf.join(dfx, "term").withColumn(
        "s", F.col("tf") * F.log(F.lit(n_docs) / F.col("df"))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("s").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("cluster", "term", fround(F.col("s"), 6).alias("score"))
    )


@register(
    "llm_curriculum_order",
    oracle="""
    -- NULL-length semantics mirror operators/corpus.quantile_bands:
    -- NULL rows keep a NULL band (LEFT JOIN), are excluded from N, and
    -- never shift cumulative counts (n_chars is non-null in the
    -- fixtures, but the twin must not diverge the day that changes)
    WITH cb AS (SELECT n_chars, count(*) AS c FROM documents
                WHERE n_chars IS NOT NULL GROUP BY n_chars),
    w AS (
        SELECT n_chars,
               coalesce(sum(c) OVER (
                   ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM cb
    ),
    n AS (SELECT count(*) AS total FROM documents WHERE n_chars IS NOT NULL)
    SELECT d.doc_id, d.n_chars,
           CAST(1 + floor(5.0 * w.cum_before / n.total) AS BIGINT) AS band,
           md5(CAST(d.doc_id AS VARCHAR)) AS interleave_key
    FROM documents d LEFT JOIN w USING (n_chars) CROSS JOIN n
    """,
)
def llm_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering for training: band documents into 5
    difficulty quintiles by length (shortest → easiest first, the
    standard length-based curriculum), then interleave deterministically
    within each band by md5(doc_id). Sorting the output by (band,
    interleave_key, doc_id) IS the epoch-stable curriculum schedule — a
    reproducible shuffle within each difficulty stage.

    Scale: quintile assignment avoids both ntile's single-partition
    global window and percent_rank — the cumulative counts run over the
    collapsed distinct-length table (≪ corpus; lengths are bounded),
    which then broadcasts back onto the corpus. Ties on length share a
    band, so banding is partitioning-invariant and engine-portable (the
    DuckDB oracle selects identical bands). The md5 interleave key makes
    the within-band order reproducible across runs and cluster sizes —
    no rand(), no zipWithIndex."""
    from randas_spark.operators.corpus import quantile_bands

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return quantile_bands(d, "n_chars", 5).select(
        "doc_id",
        "n_chars",
        "band",
        F.md5(F.col("doc_id").cast("string")).alias("interleave_key"),
    )


def _pq_oracle(
    m: int = 4,
    sub: int = 16,
    k_sub: int = 8,
    n_iter: int = 2,
    scale: int = 512,
    n_queries: int = 5,
    top_k: int = 10,
    fit_where: str = "TRUE",
    n_probe: int | None = None,
) -> str:
    """Macro-expanded PQ replay: one deterministic Lloyd chain per
    subspace (the _kmeans_oracle pattern on sliced subvectors), then the
    query LUT against each subspace's final centroids and the ADC sum in
    the engine's fixed operand order. AS MATERIALIZED throughout.

    ``fit_where`` restricts the FIT corpus (seeding + Lloyd updates)
    while encoding/LUT still run over all rows — the replay for the
    incremental-append query (fit on the base ingest, encode the later
    batch against the frozen codebooks). The encode-over-all views are
    only emitted when a real predicate is given, so the default oracle
    text (and llm_knn_pq_adc's recorded hash) is unchanged.

    ``n_probe`` (r11) composes the IVFPQ replay: when set, the coarse-
    cell chain (_sql_ivf_cent/_sql_nearest_cells, at the
    composite's greatest(16, floor(sqrt(N))) granularity — see
    _ivfpq_index for why the COMPRESSED index wants sqrt cells where
    the raw-vector IVF wants N/32) is emitted and the ADC scan is
    restricted to candidates whose coarse cell one of the query's
    n_probe probes hits — exactly knn_ivfpq_query's partition-pruned
    candidate set. The PQ fit chain is untouched (by_residual=false:
    shared codebooks, fit a pure function of the corpus), so the
    composite oracle is the two already-proven chains joined."""

    fitted = fit_where.strip().upper() != "TRUE"
    parts = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f"""s{j}v AS MATERIALIZED (
        SELECT vec_id AS vid,
               list_transform(embedding[{lo}:{hi}],
                   x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS qx
        FROM embeddings{f' WHERE {fit_where}' if fitted else ''}
    ),
    s{j}cent0 AS MATERIALIZED (
        SELECT vid AS cluster, list_transform(qx, x -> CAST(x AS DOUBLE)) AS carr
        FROM s{j}v ORDER BY md5(CAST(vid AS VARCHAR)), vid LIMIT {k_sub}
    )"""
        )
        if fitted:
            parts.append(
                f"""s{j}venc AS MATERIALIZED (
        SELECT vec_id AS vid,
               list_transform(embedding[{lo}:{hi}],
                   x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS qx
        FROM embeddings
    )"""
            )
        for it in range(1, n_iter + 1):
            parts.append(
                f"""s{j}asg{it} AS MATERIALIZED (
        SELECT vid, qx, cluster FROM (
            SELECT v.vid, v.qx, c.cluster,
                   row_number() OVER (
                       PARTITION BY v.vid ORDER BY ({_SQL_SQ_DIST}) ASC, c.cluster ASC
                   ) AS rn
            FROM s{j}v v CROSS JOIN s{j}cent{it - 1} c
        ) WHERE rn = 1
    )"""
            )
            if it < n_iter:
                parts.append(
                    f"""s{j}upd{it} AS MATERIALIZED (
        SELECT cluster, list(mu ORDER BY i) AS carr FROM (
            SELECT a.cluster, g.i AS i,
                   CAST(CAST(sum(a.qx[g.i]) AS BIGINT) AS DOUBLE) / count(*) AS mu
            FROM s{j}asg{it} a, generate_series(1, {sub}) g(i)
            GROUP BY a.cluster, g.i
        ) GROUP BY cluster
    ),
    s{j}cent{it} AS MATERIALIZED (
        SELECT c.cluster, coalesce(u.carr, c.carr) AS carr
        FROM s{j}cent{it - 1} c LEFT JOIN s{j}upd{it} u USING (cluster)
    )"""
                )
        if fitted:
            # final encode assignment over ALL rows against the frozen
            # base-fit centroids — the append path's semantics
            parts.append(
                f"""s{j}enc AS MATERIALIZED (
        SELECT vid, cluster FROM (
            SELECT v.vid, c.cluster,
                   row_number() OVER (
                       PARTITION BY v.vid ORDER BY ({_SQL_SQ_DIST}) ASC, c.cluster ASC
                   ) AS rn
            FROM s{j}venc v CROSS JOIN s{j}cent{n_iter - 1} c
        ) WHERE rn = 1
    )"""
            )
        lut_src = f"s{j}venc" if fitted else f"s{j}v"
        parts.append(
            f"""s{j}lut AS MATERIALIZED (
        SELECT v.vid AS qid, c.cluster AS code, {_SQL_SQ_DIST} AS d
        FROM {lut_src} v CROSS JOIN s{j}cent{n_iter - 1} c
        WHERE v.vid < {n_queries}
    )"""
        )
    enc_view = "enc" if fitted else f"asg{n_iter}"
    code_cols = ", ".join(
        f"a{j}.cluster AS code_{j}" for j in range(m)
    )
    code_joins = " ".join(
        f"JOIN s{j}{enc_view} a{j} ON a{j}.vid = a0.vid" for j in range(1, m)
    )
    lut_joins = " ".join(
        f"JOIN s{j}lut l{j} ON l{j}.code = c.code_{j} AND l{j}.qid = l0.qid"
        for j in range(1, m)
    )
    adc_sum = " + ".join(f"l{j}.d" for j in range(m))
    if n_probe is not None:
        coarse = dict(vec=False, cent="pcent", materialized=True)
        parts += [
            _sql_ivf_cent(_CELLS_SQRT, name="pcent", materialized=True),
            _sql_nearest_cells("passign", "c", 1, **coarse),
            _sql_nearest_cells("pprobes", "q", n_probe, where=f"q.vec_id < {n_queries}", **coarse),
        ]
    prune_joins = (
        " JOIN passign ia ON ia.cid = c.cid"
        " JOIN pprobes p ON p.cell = ia.cell AND p.qid = l0.qid"
        if n_probe is not None
        else ""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    codes AS MATERIALIZED (
        SELECT a0.vid AS cid, {code_cols}
        FROM s0{enc_view} a0 {code_joins}
    ),
    adc AS MATERIALIZED (
        SELECT l0.qid, c.cid, {adc_sum} AS adc_dist
        FROM codes c
        JOIN s0lut l0 ON l0.code = c.code_0 {lut_joins}{prune_joins}
        WHERE l0.qid <> c.cid
    )
    SELECT qid, cid, adc_dist, rk FROM (
        SELECT qid, cid, adc_dist,
               row_number() OVER (
                   PARTITION BY qid ORDER BY adc_dist ASC, cid ASC
               ) AS rk
        FROM adc
    ) WHERE rk <= {top_k}
    """
    )


@register("llm_knn_pq_adc", oracle=_pq_oracle())
def llm_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (Jégou et al.):
    4 subspace codebooks trained by the deterministic Lloyd fit, corpus
    encoded as 4 code ids, queries scored against codes through a
    broadcast lookup table — the memory-compressed ANN layout for
    100 TB vector corpora (operators/similarity.knn_pq_adc; 64 floats →
    4 codes ≈ 64x smaller scan). Completes the ANN ladder next to
    brute-force, LSH, int8, deterministic IVF, and the kNN graph. The
    oracle replays all four sub-fits, the LUT, and the fixed-order ADC
    sum bit-exactly."""
    from randas_spark.operators.similarity import knn_pq_adc

    emb = t(spark, sf_dir, "embeddings")
    return knn_pq_adc(emb, "vec_id", "embedding")


# build params of every persisted PQ-family index (the IVFPQ adds n_cells)
_PQ_PARAMS = {"dim": 64, "m": 4, "k_sub": 8, "n_iter": 2, "scale": 512.0}


def _pq_index(sf_dir: str, emb: DataFrame) -> tuple:
    """Build-if-absent flat persisted PQ index over the whole embeddings
    table — the one ``m4k8i2s512_v1`` index llm_knn_pq_persisted and
    llm_knn_pq_rerank serve from. Returns (index_dir, fingerprint)."""
    from randas_spark.operators.similarity import pq_build_index

    return _persisted_index(
        sf_dir,
        "pq_index",
        "m4k8i2s512_v1",
        "pq",
        _PQ_PARAMS,
        lambda d, fp, **p: pq_build_index(
            emb, "vec_id", "embedding", d, fingerprint=fp, **p
        ),
    )


@register("llm_knn_pq_persisted", oracle=_pq_oracle())
def llm_knn_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index PQ ANN: the fit/query SPLIT of llm_knn_pq_adc
    (VERDICT r8 order #2). The codebooks + corpus codes are built ONCE
    per (sf, params) into a parquet index under benchdata/ by
    operators/similarity.pq_build_index (build-if-absent, marker-file
    committed), and the registered query is operators/similarity.
    knn_pq_query — a scan of the 64x-compressed codes table + m
    broadcast LUT joins + one top-k window. No Lloyd iteration, no raw
    corpus scan, no checkpoint in the measured plan: this is the
    steady-state latency a 100 TB vector corpus pays per query batch.
    Results are bit-identical to llm_knn_pq_adc (deterministic fit +
    exact parquet round-trip of doubles/longs), so the same DuckDB
    oracle that replays the fit hash-matches the persisted path — that
    identity IS the proof the persistence layer is lossless.

    Integrity: the index is keyed by build params AND a metadata-cheap
    fingerprint of the source embeddings parquet (_pq_index) — if the
    sf data is regenerated or the params change, the index is rebuilt
    instead of silently serving stale codes; knn_pq_query re-validates
    both at query time."""
    from randas_spark.operators.similarity import knn_pq_query

    emb = t(spark, sf_dir, "embeddings")
    index_dir, fp = _pq_index(sf_dir, emb)
    return knn_pq_query(
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        index_dir,
        fingerprint=fp,
    )


@register(
    "llm_knn_pq_append", oracle=_pq_oracle(fit_where="vec_id % 10 <> 9")
)
def llm_knn_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ index maintenance (VERDICT r9 #4, the PQ half next
    to llm_knn_ivf_append): codebooks are FIT on the base ingest
    (vec_id % 10 <> 9) once, the base is encoded into the persisted
    codes, then a NEW batch (% 10 == 9) is appended by
    operators/similarity.pq_encode_batch — encoded against the frozen
    codebooks read back from the index, no Lloyd re-fit. The oracle
    replays the same semantics (Lloyd on base only, encode ALL rows
    against the final base centroids), so a green row proves the append
    path's codes are exactly what a full re-encode would produce —
    per-batch ingestion cost stays ∝ batch size. Marker committed with
    the full-corpus fingerprint only after the append (torn sequence ⇒
    not-ready ⇒ redo)."""
    from randas_spark.operators.similarity import (
        knn_pq_query,
        pq_build_index,
        pq_encode_batch,
    )

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 9)
    batch = emb.filter(F.col("vec_id") % 10 == 9)

    def build(index_dir, fp, **params):
        pq_build_index(base, "vec_id", "embedding", index_dir, **params)
        pq_encode_batch(batch, "vec_id", "embedding", index_dir, fingerprint=fp)

    index_dir, fp = _persisted_index(
        sf_dir, "pq_index", "append_m4k8i2s512_v1", "pq", _PQ_PARAMS, build
    )
    return knn_pq_query(
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        index_dir,
        fingerprint=fp,
    )


@register(
    "llm_tokenizer_fertility",
    oracle=f"""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_fround(f"sum({sql_token_count_bpe_ish('text')}) * 1.0 / "
                       "sum(len(string_split(lower(text), ' ')))", 4)} AS fertility,
           {sql_fround(f"sum(n_chars) * 1.0 / sum({sql_token_count_bpe_ish('text')})", 4)}
               AS chars_per_token
    FROM documents GROUP BY lang, source
    """,
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per (lang, source): subword tokens per
    whitespace word and chars per token — the standard check that a
    tokenizer doesn't over-fragment some language or domain (fertility
    spikes mean wasted context budget and skewed per-language compute).

    Scale: scan-side codegen token counting (functions/text.
    token_count_bpe_ish — no UDF) followed by one map-side-combined
    groupBy onto the tiny lang × source grid."""
    from randas_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        fround(
            F.sum(token_count_bpe_ish(F.col("text")))
            / F.sum(F.size(tokens(F.col("text")))),
            4,
        ).alias("fertility"),
        fround(
            F.sum("n_chars") / F.sum(token_count_bpe_ish(F.col("text"))),
            4,
        ).alias("chars_per_token"),
    )


@register(
    "llm_span_corruption",
    oracle="""
    WITH tok AS (
        SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens
        FROM documents
    ),
    posn AS (
        SELECT doc_id, unnest(generate_series(1, n_tokens)) AS i FROM tok
    ),
    starts AS (
        SELECT doc_id, i,
               1 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 9, 2)) AS BIGINT) % 3 AS span_len
        FROM posn
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 2) < '15'
    ),
    covered AS (
        SELECT DISTINCT doc_id, pos FROM (
            SELECT doc_id, i + unnest(generate_series(0, span_len - 1)) AS pos
            FROM starts
        )
    ),
    bounded AS (
        SELECT c.doc_id, c.pos
        FROM covered c JOIN tok USING (doc_id)
        WHERE c.pos <= tok.n_tokens
    ),
    islands AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM bounded
    )
    SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(m.n_masked, 0) AS BIGINT) AS n_masked,
           CAST(coalesce(m.n_spans, 0) AS BIGINT) AS n_spans
    FROM tok t
    LEFT JOIN (
        SELECT doc_id, count(*) AS n_masked, count(DISTINCT isl) AS n_spans
        FROM islands GROUP BY doc_id
    ) m USING (doc_id)
    """,
)
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask construction, fully deterministic:
    span starts are token positions whose md5(doc_id:pos) falls under a
    ~8.2% threshold (hex prefix < '15'), each start covers a 1-3 token
    span from a second hash nibble, overlapping/adjacent spans merge
    into sentinel islands (gaps-and-islands via pos − row_number), and
    the report carries tokens/masked/span counts per document — the
    denoising-objective statistics a pretraining pipeline monitors
    (corruption rate, mean span length). Hash-derived selection means
    any engine, run, or partitioning regenerates the identical masks —
    the reproducibility property seeded RNG masking cannot give.

    Scale: one scan-side position explode (the token-op fan-out pattern,
    ~n_tokens rows ≪ shingle ops), the island window partitioned per
    doc, and a per-doc rollup — no cross-doc shuffle beyond the final
    groupBy on doc_id, which the explode already partitioned."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    pos = tok.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("n_tokens"))).alias("i"),
    )
    h = F.md5(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("i").cast("string")
        )
    )
    starts = pos.filter(F.substring(h, 1, 2) < "15").select(
        "doc_id",
        "i",
        (
            F.lit(1)
            + F.conv(F.substring(h, 9, 2), 16, 10).cast("long") % 3
        ).alias("span_len"),
    )
    covered = (
        starts.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.col("span_len") - 1)
            ).alias("pos"),
        )
        .distinct()
        .join(tok, "doc_id")
        .filter(F.col("pos") <= F.col("n_tokens"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = covered.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("isl")
    )
    m = islands.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_masked"),
        F.countDistinct("isl").alias("n_spans"),
    )
    return tok.join(m, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_masked"), F.lit(0)).cast("long").alias("n_masked"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
    )


@register(
    "llm_sample_weighted",
    oracle="""
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   ORDER BY pow(
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0,
                       1.0 / n_chars
                   ) DESC, doc_id
               ) AS rk
        FROM documents WHERE n_chars > 0
    ) WHERE rk <= 100
    """,
)
def llm_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each doc gets key u^(1/w) with u the md5-unit hash
    of its id and w = n_chars; the 100 largest keys are a weighted
    sample — longer documents proportionally likelier, yet the selection
    is a pure function of ids, so reruns, engines, and partitionings
    agree (the weighted analogue of llm_sample_hash / llm_sample_topk).

    Scale: plans as TakeOrderedAndProject — per-partition top-100 heaps,
    no global sort, no RNG state; the sample updates incrementally as
    the corpus grows (a new doc enters iff its key beats the current
    100th)."""
    d = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    return (
        d.select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"),
            key.alias("__key__"),
        )
        .orderBy(F.desc("__key__"), "doc_id")
        .limit(100)
        .select("doc_id", "source", "n_chars")
    )


@register(
    "llm_sample_weighted_stratified",
    oracle="""
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY pow(
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0,
                       1.0 / n_chars
                   ) DESC, doc_id
               ) AS rk
        FROM documents WHERE n_chars > 0
    ) WHERE rk <= 10
    """,
)
def llm_sample_weighted_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sampling without replacement: exactly 10
    docs per source, each stratum drawn with Efraimidis-Spirakis keys
    u^(1/n_chars) — the balanced-and-weighted corpus subset (every
    domain represented, long docs proportionally likelier within each)
    that one global weighted draw (llm_sample_weighted) cannot give
    when a large domain would crowd the rest out.

    Scale: the rank window is PARTITIONED by source — per-stratum
    top-10s run as per-partition partial sorts after one shuffle on the
    stratum key, never a global order; selection stays a pure function
    of ids (engine/run/partitioning invariant)."""
    d = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("__key__"), "doc_id"
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.pow(u, F.lit(1.0) / F.col("n_chars")).alias("__key__"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "source", "n_chars")
    )


@register(
    "llm_preference_pairs",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang, source,
               ({sql_quality_score('text')}) AS q
        FROM documents
    ), best AS (
        SELECT lang, source, doc_id AS chosen_id, q AS chosen_q,
               row_number() OVER (PARTITION BY lang, source
                                  ORDER BY q DESC, doc_id) AS rk
        FROM s
    ), worst AS (
        SELECT lang, source, doc_id AS rejected_id, q AS rejected_q,
               row_number() OVER (PARTITION BY lang, source
                                  ORDER BY q ASC, doc_id) AS rk
        FROM s
    )
    SELECT b.lang, b.source, b.chosen_id, w.rejected_id,
           {sql_fround('b.chosen_q', 6)} AS chosen_q,
           {sql_fround('w.rejected_q', 6)} AS rejected_q,
           {sql_fround('b.chosen_q - w.rejected_q', 6)} AS margin
    FROM best b JOIN worst w USING (lang, source)
    WHERE b.rk = 1 AND w.rk = 1
      AND b.chosen_id <> w.rejected_id AND b.chosen_q - w.rejected_q > 0
    """,
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the alignment-data-prep step
    (DPO/RLHF reward modeling): within each (lang, source) stratum,
    pair the highest-quality document (chosen) with the lowest
    (rejected), ties broken by doc_id, emitting the pair with both
    scores and the quality margin. Degenerate strata (one doc, or a
    zero margin) are dropped — a preference pair with no preference is
    noise. In production the stratum is a prompt/topic cluster and the
    score a reward model; the shape — per-stratum argmax/argmin join —
    is exactly this, and both extremes come from ONE shuffle on the
    stratum key (two rank windows over the same partitioning, no
    global sort, no cross join)."""
    d = t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang", "source", quality_score(F.col("text")).alias("q")
    )
    wb = Window.partitionBy("lang", "source").orderBy(F.desc("q"), F.asc("doc_id"))
    ww = Window.partitionBy("lang", "source").orderBy(F.asc("q"), F.asc("doc_id"))
    best = (
        scored.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(
            "lang",
            "source",
            F.col("doc_id").alias("chosen_id"),
            F.col("q").alias("chosen_q"),
        )
    )
    worst = (
        scored.withColumn("rk", F.row_number().over(ww))
        .filter(F.col("rk") == 1)
        .select(
            "lang",
            "source",
            F.col("doc_id").alias("rejected_id"),
            F.col("q").alias("rejected_q"),
        )
    )
    return (
        best.join(worst, ["lang", "source"])
        .filter(
            (F.col("chosen_id") != F.col("rejected_id"))
            & (F.col("chosen_q") - F.col("rejected_q") > 0)
        )
        .select(
            "lang",
            "source",
            "chosen_id",
            "rejected_id",
            fround(F.col("chosen_q"), 6).alias("chosen_q"),
            fround(F.col("rejected_q"), 6).alias("rejected_q"),
            fround(F.col("chosen_q") - F.col("rejected_q"), 6).alias("margin"),
        )
    )


#: Poisson(1) CDF thresholds scaled to 2^32 (floor(P(W<=k) * 2^32) for
#: k = 0..6; weight 7 beyond) — ONE Python list feeds both the Spark
#: CASE ladder and the oracle SQL, so the two engines draw identical
#: integer weights from identical md5 uniforms by construction.
_POIS1_T = [1580030168, 3160060337, 3950075421, 4213413783,
            4279248373, 4292415291, 4294609777]
_BOOT_B = 200


def _bootstrap_w_spark(u32: F.Column) -> F.Column:
    w = F.lit(7)
    for k in range(len(_POIS1_T) - 1, -1, -1):
        w = F.when(u32 < _POIS1_T[k], F.lit(k)).otherwise(w)
    return w.cast("long")


def _bootstrap_w_sql(u32: str) -> str:
    cases = " ".join(
        f"WHEN {u32} < {t} THEN {k}" for k, t in enumerate(_POIS1_T)
    )
    return f"(CASE {cases} ELSE 7 END)"


@register(
    "llm_bootstrap_ci",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               CAST(floor(({sql_quality_score('text')}) * 1000000 + 0.5) AS BIGINT) AS sc
        FROM documents
    ), rep AS (
        SELECT b, doc_id, sc,
               {_bootstrap_w_sql(
                   "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT)"
               )} AS w
        FROM s, generate_series(0, {_BOOT_B - 1}) AS gb(b)
    ), means AS (
        SELECT b,
               CAST(sum(w) AS BIGINT) AS n_eff,
               CAST(CAST(sum(w * sc) AS BIGINT) AS DOUBLE)
                   / CAST(sum(w) AS DOUBLE) / 1000000.0 AS mean_q
        FROM rep GROUP BY b
    ), ranked AS (
        SELECT *, row_number() OVER (ORDER BY mean_q, b) AS rk FROM means
    ), ci AS (
        SELECT max(CASE WHEN rk = {int(0.025 * _BOOT_B) + 1} THEN mean_q END) AS lo,
               max(CASE WHEN rk = {_BOOT_B - int(0.025 * _BOOT_B)} THEN mean_q END) AS hi
        FROM ranked
    )
    SELECT m.b, m.n_eff,
           {sql_fround('m.mean_q', 6)} AS mean_q,
           {sql_fround('ci.lo', 6)} AS ci_lo,
           {sql_fround('ci.hi', 6)} AS ci_hi
    FROM means m, ci
    """,
)
def llm_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the corpus mean quality score
    — the AT-SCALE bootstrap: multinomial resampling needs the corpus
    size up front and a shared draw, but Poisson(1) weights are i.i.d.
    per (replicate, row), so ALL B=200 replicates compute in ONE scan
    (explode x B, map-side-combinable groupBy to B rows). Weights come
    from md5(doc_id:b) uniforms pushed through one integer CDF ladder —
    the SAME Python constant list feeds both engines, so replicate
    means are bit-identical cross-engine (quantized integer scores,
    exact integer weighted sums, one double division at the end).

    Output: one row per replicate (b, effective n, mean quality) plus
    the percentile CI bounds (2.5%/97.5% order statistics over the B
    replicate means — the rank window runs over B=200 rows, driver
    scale, not data scale). The statistical backbone for 'did corpus
    quality actually move between snapshots'."""
    d = t(spark, sf_dir, "documents")
    sc = F.floor(quality_score(F.col("text")) * 1_000_000 + F.lit(0.5)).cast("long")
    base = d.select(F.col("doc_id"), sc.alias("sc"))
    rep = base.select(
        "doc_id",
        "sc",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = _bootstrap_w_spark(u32)
    means = (
        rep.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            (
                F.sum(F.col("w") * F.col("sc")).cast("long").cast("double")
                / F.sum("w").cast("double")
                / F.lit(1_000_000.0)
            ).alias("mean_q"),
        )
    )
    rk = F.row_number().over(Window.orderBy("mean_q", "b"))
    lo_rk, hi_rk = int(0.025 * _BOOT_B) + 1, _BOOT_B - int(0.025 * _BOOT_B)
    ci = (
        means.withColumn("rk", rk)
        .filter(F.col("rk").isin(lo_rk, hi_rk))
        .agg(
            F.max(F.when(F.col("rk") == lo_rk, F.col("mean_q"))).alias("lo"),
            F.max(F.when(F.col("rk") == hi_rk, F.col("mean_q"))).alias("hi"),
        )
    )
    return means.crossJoin(F.broadcast(ci)).select(
        "b",
        "n_eff",
        fround(F.col("mean_q"), 6).alias("mean_q"),
        fround(F.col("lo"), 6).alias("ci_lo"),
        fround(F.col("hi"), 6).alias("ci_hi"),
    )


@register(
    "llm_pmi_collocations",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(tk) AS w,
               unnest(generate_series(1, len(tk))) AS pos
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents)
    ),
    tok_ne AS (SELECT * FROM tok WHERE w <> ''),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM tok_ne GROUP BY w),
    nu AS (SELECT CAST(sum(cu) AS DOUBLE) AS nu FROM uni),
    big AS (
        SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS cb
        FROM tok_ne a JOIN tok_ne b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2
    ),
    nb AS (SELECT CAST(sum(cb) AS DOUBLE) AS nb FROM big)
    SELECT w1, w2, cb,
           floor(log2((CAST(cb AS DOUBLE) / nb)
                      / ((CAST(u1.cu AS DOUBLE) / nu)
                         * (CAST(u2.cu AS DOUBLE) / nu))) * 10000 + 0.5)
               / 10000 AS pmi
    FROM big
    JOIN uni u1 ON u1.w = big.w1
    JOIN uni u2 ON u2.w = big.w2
    CROSS JOIN nu CROSS JOIN nb
    WHERE cb >= 5
    """,
)
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining over adjacent
    token pairs — the word2phrase-style statistic behind phrase
    detection and tokenizer merge candidates: PMI = log2(P(xy) /
    (P(x)P(y))) with a min-count floor so rare accidents don't surface.

    Scale: the token table is linear in the corpus and carries (doc_id,
    pos); the bigram stage is a co-partitioned equi-join on (doc_id,
    pos+1) — no array zips materializing per-doc pair lists, no skew
    (positions are unique within a doc). Unigram/bigram totals are
    1-row broadcast aggregates; PMI evaluates in codegen from exact
    integer counts, so both engines emit bit-equal doubles."""
    d = t(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos0", "w"),
        )
        .filter(F.col("w") != "")
        # the oracle's generate_series positions are 1-based; match them
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cu"))
    nu = uni.agg(F.sum("cu").cast("double").alias("nu"))
    a = tok.select("doc_id", "pos", F.col("w").alias("w1"))
    b = tok.select("doc_id", (F.col("pos") - 1).alias("pos"), F.col("w").alias("w2"))
    big = (
        a.join(b, ["doc_id", "pos"])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    nb = big.agg(F.sum("cb").cast("double").alias("nb"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2"))
    pmi = F.log2(
        (F.col("cb").cast("double") / F.col("nb"))
        / (
            (F.col("c1").cast("double") / F.col("nu"))
            * (F.col("c2").cast("double") / F.col("nu"))
        )
    )
    return (
        big.filter(F.col("cb") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "cb",
            (F.floor(pmi * 10000 + F.lit(0.5)) / 10000).alias("pmi"),
        )
    )


@register(
    "llm_nb_lang_confusion",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    toks_ne AS (SELECT * FROM toks WHERE w <> ''),
    train AS (SELECT * FROM toks_ne WHERE doc_id % 11 <> 0),
    test AS (SELECT * FROM toks_ne WHERE doc_id % 11 = 0),
    priors AS (
        SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM train GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM priors),
    vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM train),
    cw AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM train GROUP BY 1, 2
    ),
    ct AS (SELECT lang, CAST(count(*) AS BIGINT) AS t FROM train GROUP BY 1),
    classes AS (
        SELECT p.lang AS c_lang,
               CAST(floor(ln(CAST(p.n_docs AS DOUBLE) / n_total) * 1000000 + 0.5) AS BIGINT) AS prior_q,
               CAST(floor(ln(1.0 / (ct.t + v)) * 1000000 + 0.5) AS BIGINT) AS dq,
               ct.t, v
        FROM priors p JOIN ct ON ct.lang = p.lang CROSS JOIN tot CROSS JOIN vocab
    ),
    logp AS (
        SELECT cw.lang AS c_lang, cw.w,
               CAST(floor(ln(CAST(cw.c + 1 AS DOUBLE) / (ct.t + v)) * 1000000 + 0.5) AS BIGINT) AS lq
        FROM cw JOIN ct ON ct.lang = cw.lang CROSS JOIN vocab
    ),
    scored AS (
        SELECT te.doc_id, te.lang AS actual_lang, cl.c_lang,
               cl.prior_q + sum(coalesce(lp.lq, cl.dq)) AS score
        FROM test te
        CROSS JOIN classes cl
        LEFT JOIN logp lp ON lp.c_lang = cl.c_lang AND lp.w = te.w
        GROUP BY te.doc_id, te.lang, cl.c_lang, cl.prior_q
    ),
    pick AS (
        SELECT doc_id, actual_lang, c_lang AS predicted_lang,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, c_lang
               ) AS rn
        FROM scored
    )
    SELECT actual_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
    FROM pick WHERE rn = 1
    GROUP BY actual_lang, predicted_lang
    """,
)
def llm_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier — train, score, and
    evaluate in ONE declarative plan: Laplace-smoothed per-(class,
    token) log-probs from the train split (doc_id % 11 <> 0), held-out
    docs scored by argmax, output the confusion matrix. Log-probs are
    quantized to the 1e-6 grid so per-doc score sums are exact int64 —
    order-free — and the argmax (score desc, class asc tie-break) is
    deterministic on any engine.

    Scale: training is two map-combined count aggregations (the model
    IS the (class,token) count table — mergeable, so it IVM-updates
    like rel_incremental_rollup); scoring joins the token stream to the
    broadcast-sized model per class; no UDF, no iteration, and the
    class fan-out is |langs|, not data-sized."""
    d = t(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    train = toks.filter(F.col("doc_id") % 11 != 0)
    test = toks.filter(F.col("doc_id") % 11 == 0)
    priors = train.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    tot = priors.agg(F.sum("n_docs").cast("long").alias("n_total"))
    vocab = train.agg(F.countDistinct("w").cast("long").alias("v"))
    cw = train.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ct = train.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("t"))
    q = lambda col: F.floor(col * 1000000 + F.lit(0.5)).cast("long")
    classes = (
        priors.join(ct, "lang")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("c_lang"),
            q(F.log(F.col("n_docs").cast("double") / F.col("n_total"))).alias(
                "prior_q"
            ),
            q(F.log(F.lit(1.0) / (F.col("t") + F.col("v")))).alias("dq"),
        )
    )
    logp = (
        cw.join(ct, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("c_lang"),
            "w",
            q(
                F.log((F.col("c") + 1).cast("double") / (F.col("t") + F.col("v")))
            ).alias("lq"),
        )
    )
    scored = (
        test.crossJoin(F.broadcast(classes))
        .join(logp, ["c_lang", "w"], "left")
        .groupBy(
            F.col("doc_id"),
            F.col("lang").alias("actual_lang"),
            F.col("c_lang"),
            F.col("prior_q"),
        )
        .agg(F.sum(F.coalesce(F.col("lq"), F.col("dq"))).alias("s"))
        .select(
            "doc_id",
            "actual_lang",
            "c_lang",
            (F.col("prior_q") + F.col("s")).alias("score"),
        )
    )
    w_pick = Window.partitionBy("doc_id").orderBy(F.desc("score"), "c_lang")
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .groupBy("actual_lang", F.col("c_lang").alias("predicted_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
# Multimodal metadata probe (header sniffing, no decode)
# --------------------------------------------------------------------------


@register(
    "llm_multimodal_probe",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/png'
                           WHEN 1 THEN 'image/jpeg' END AS mime,
           CASE doc_id % 3 WHEN 0 THEN CAST(8 AS BIGINT)
                           WHEN 1 THEN CAST(16 + doc_id % 1000 AS BIGINT)
           END AS width,
           CASE doc_id % 3 WHEN 0 THEN CAST(8 AS BIGINT)
                           WHEN 1 THEN CAST(16 + (7 * doc_id) % 1000 AS BIGINT)
           END AS height
    FROM documents
    """,
)
def llm_multimodal_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only image metadata extraction over a MIXED binary corpus
    (operators/multimodal.sniff_image_dims via probe_image_meta): each
    document carries, keyed by doc_id % 3, a REAL stdlib-encoded 8x8 PNG,
    a structurally-valid JPEG whose SOF0 dimensions derive arithmetically
    from doc_id, or deliberate non-image garbage. The probe parses
    container headers only — PNG IHDR, the JPEG FF-marker chain (skipping
    the DHT segment jpeg_header_bytes plants before the SOF), GIF screen
    descriptor — and classifies garbage as NULL rows instead of failing,
    which is the posture a 100 TB metadata scan needs: header-sized reads,
    no pixel decode, no decode library, junk tolerated. The oracle
    recomputes mime/width/height from the doc_id arithmetic alone, so a
    value match proves the bytes were really built, really parsed, and
    really survived the junk rows.

    Scale: one embarrassingly-parallel mapInPandas scan, no shuffle; the
    kernel reads a bounded prefix of each payload."""
    from randas_spark.operators.multimodal import (
        attach_mixed_probe_payload,
        probe_image_meta,
    )

    d = t(spark, sf_dir, "documents")
    out = probe_image_meta(attach_mixed_probe_payload(d, "doc_id", "text"))
    return out.select("doc_id", "mime", "width", "height")


# --------------------------------------------------------------------------
# PCA (dimensionality reduction for embedding pipelines)
# --------------------------------------------------------------------------


def _pca_rounded(out: DataFrame, *keys: str) -> DataFrame:
    """A PCA query's output: the key columns as they are, every other
    column (loadings, ratios, scores) through fround(…, 6) — the oracle
    side rounds the same columns with sql_fround."""
    return out.select(
        *keys, *[fround(F.col(c), 6).alias(c) for c in out.columns if c not in keys]
    )


def _pca_topk_sql(k: int) -> str:
    from randas_spark.operators.pca import sql_pca_topk

    return sql_pca_topk("embeddings", "embedding", dim=64, k=k)


def _pca_project_sql(k: int) -> str:
    from randas_spark.operators.pca import sql_pca_project

    return sql_pca_project("embeddings", "vec_id", "embedding", dim=64, k=k)


@register(
    "llm_pca_power",
    oracle="SELECT dim_idx, loading, explained_ratio FROM ("
    + _pca_topk_sql(1)
    + ")",
)
def llm_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus
    (operators/pca.pca_topk at k=1, without the component column): ONE
    mapInPandas scan computes the quantized integer Gram matrix (numpy
    int64 matmul per Arrow batch, DECIMAL(38,0) cell reduce — exact at
    any N), the driver centers it in bigint arithmetic and runs 12
    deterministic power-iteration steps (O(d^2) state — the
    k-means-centroid discipline). Output: one row per dimension with
    the PC1 loading and the explained-variance ratio lambda_1 / trace.
    The oracle macro-expands the identical iteration (left folds,
    ascending index, 0.0 init) over the same exact integers, so
    loadings match bit-for-bit before fround."""
    from randas_spark.operators.pca import pca_topk

    out = pca_topk(t(spark, sf_dir, "embeddings"), "embedding", dim=64, k=1)
    return _pca_rounded(out.drop("component"), "dim_idx")


@register("llm_pca_project", oracle=_pca_project_sql(1))
def llm_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the learned PC1
    (operators/pca.pca_project, k=1): the component derivation is the
    pca_topk chain; the projection itself is a codegen'd left fold of
    double(n*q_j - s_j) * v_j over a second scan — no Python in the
    data-sized stage, n/s/v enter as literals. The whitening/compression
    primitive embedding pipelines run before dedup thresholds and ANN
    index builds."""
    from randas_spark.operators.pca import pca_project

    out = pca_project(t(spark, sf_dir, "embeddings"), "vec_id", "embedding", dim=64)
    return _pca_rounded(out, "vec_id")


@register(
    "llm_quality_calibration",
    oracle=f"""
    WITH s AS (
        SELECT CAST(floor(({_sql_qcls('text')}) * 1000000 + 0.5) AS BIGINT) AS pq,
               CASE WHEN {sql_quality_parts('text')['n_tokens']} BETWEEN 10 AND 5000
                     AND {sql_quality_score('text')} >= 0.5
                     AND {sql_lang_id('text')} = 'en'
                    THEN 1 ELSE 0 END AS label
        FROM documents
    )
    SELECT least(CAST(floor(pq / 100000) AS BIGINT), 9) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(label) AS BIGINT) AS n_keep,
           {sql_fround('CAST(sum(pq) AS DOUBLE) / count(*) / 1000000.0', 6)} AS mean_pred,
           {sql_fround('CAST(sum(label) AS DOUBLE) / count(*)', 6)} AS keep_rate,
           {sql_fround('CAST(sum(pq) AS DOUBLE) / count(*) / 1000000.0 '
                       '- CAST(sum(label) AS DOUBLE) / count(*)', 6)} AS gap
    FROM s GROUP BY 1
    """,
)
def llm_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the linear quality classifier: decile
    bins of predicted probability vs the empirical keep-rate of the
    independent heuristic gate (the llm_corpus_filter rule set), with
    the calibration gap per bin — the standard check before a learned
    filter replaces a rule set in a training-data pipeline. The
    classifier probability is quantized ONCE to the 1e-6 grid
    (``floor(p*1e6+0.5)`` int64, the llm_quality_classifier fround(6)
    atom); bins, sums, and rates all derive from that exact integer, so
    both engines aggregate identical values in any order. One scan, one
    10-row map-side-combined groupBy — trivially parallel at 100 TB."""
    d = t(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    pq = F.floor(_qcls(F.col("text")) * 1000000 + F.lit(0.5)).cast("long")
    label = (
        m["n_tokens"].between(10, 5000)
        & (quality_score(F.col("text")) >= 0.5)
        & (lang_id(F.col("text")) == "en")
    ).cast("long")
    s = d.select(pq.alias("pq"), label.alias("label"))
    return (
        s.groupBy(
            F.least(F.floor(F.col("pq") / 100000), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_keep"),
            F.sum("pq").alias("__sp__"),
        )
        .select(
            "bin",
            "n",
            "n_keep",
            fround(
                F.col("__sp__").cast("double") / F.col("n") / F.lit(1000000.0), 6
            ).alias("mean_pred"),
            fround(F.col("n_keep").cast("double") / F.col("n"), 6).alias("keep_rate"),
            fround(
                F.col("__sp__").cast("double") / F.col("n") / F.lit(1000000.0)
                - F.col("n_keep").cast("double") / F.col("n"),
                6,
            ).alias("gap"),
        )
    )


# --------------------------------------------------------------------------
# Unigram-LM tokenizer (the second subword family, next to BPE)
# --------------------------------------------------------------------------


def _unigram_learn_oracle() -> str:
    from randas_spark.operators.unigram import sql_unigram_learn

    return sql_unigram_learn("documents", "text")


def _unigram_segment_oracle() -> str:
    from randas_spark.operators.unigram import sql_unigram_segment

    return sql_unigram_segment("documents", "text")


@register("llm_unigram_lm", oracle=_unigram_learn_oracle())
def llm_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM vocabulary learned by hard EM
    (operators/unigram.py): top-32 candidate substrings + all single
    chars, integer micro-nat costs, two Viterbi E-steps over the
    Heaps-bounded distinct-word table (Arrow-batched pandas_udf with the
    tiny cost dict broadcast) with exact-int DP — so cross-engine
    equality needs no float reasoning. The oracle re-derives the ENTIRE
    model in DuckDB, Viterbi included (macro-expanded lateral-alias DP +
    cursor backtrace)."""
    from randas_spark.operators.unigram import unigram_learn

    return unigram_learn(t(spark, sf_dir, "documents"), "text")


@register("llm_unigram_segment", oracle=_unigram_segment_oracle())
def llm_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word segmentation under the learned unigram LM: (word, corpus
    count, piece count, '|'-joined pieces) — the tokenizer-apply side,
    segmenting with the post-EM costs. Fertility and compression audits
    derive directly from (c, n_pieces)."""
    from randas_spark.operators.unigram import unigram_segment

    return unigram_segment(t(spark, sf_dir, "documents"), "text")


@register("llm_pca_top2", oracle=_pca_topk_sql(2))
def llm_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components via Hotelling deflation
    (operators/pca.pca_topk, k=2): PC1 from the centered moment matrix,
    then PC2 from M - lam1*v1*v1^T with the identical fixed op order on
    both engines — one data-sized scan total, both iterations are
    O(d^2) driver arithmetic. The 2-D embedding map every
    corpus-visualization and stratified-diversity workflow starts
    from."""
    from randas_spark.operators.pca import pca_topk

    out = pca_topk(t(spark, sf_dir, "embeddings"), "embedding", dim=64, k=2)
    return _pca_rounded(out, "component", "dim_idx")


@register("llm_pca_topk", oracle=_pca_topk_sql(4))
def llm_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K principal components (operators/pca.pca_topk, VERDICT r7
    item 7): the Hotelling-deflation loop at k=4 — what 4-8-D
    corpus-triage stratification actually consumes. Still ONE
    data-sized scan: all K deflations and power iterations are
    O(K * rounds * d^2) driver arithmetic on the exact integer moments;
    the SQL twin macro-expands one CTE block per component with the
    identical op order."""
    from randas_spark.operators.pca import pca_topk

    out = pca_topk(t(spark, sf_dir, "embeddings"), "embedding", dim=64, k=4)
    return _pca_rounded(out, "component", "dim_idx")


#: Blocklist for llm_blocklist_filter — tiny here; production lists are
#: thousands of terms, still broadcast-literal scale.
_BLOCKLIST = ("slow", "merge", "forbidden")


@register(
    "llm_blocklist_filter",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               list_filter({sql_tokens('text')},
                   x -> list_contains({list(_BLOCKLIST)}, x)) AS hits
        FROM documents
    )
    SELECT doc_id,
           CAST(len(hits) AS BIGINT) AS n_hits,
           COALESCE(array_to_string(list_sort(list_distinct(hits)), ','), '') AS hit_terms,
           len(hits) >= 4 AS drop
    FROM s
    """,
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-blocklist filtering (the NSFW/spam/boilerplate word-list
    gate every curation suite ships): whole-word matches against a
    broadcast literal list, per-doc hit count, the distinct terms that
    fired (for audit), and the drop verdict at >= 4 hits. One codegen
    scan — array filter against a literal array, no shuffle, no UDF; a
    production list of thousands of terms is still literal/broadcast
    scale, and a regex-union compiled once would slot into the same
    single-scan shape."""
    from randas_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents")
    blk = F.array(*[F.lit(w) for w in _BLOCKLIST])
    hits = F.filter(tokens(F.col("text")), lambda x: F.array_contains(blk, x))
    return d.select(
        "doc_id",
        F.size(hits).cast("long").alias("n_hits"),
        F.array_join(F.array_sort(F.array_distinct(hits)), ",").alias("hit_terms"),
        (F.size(hits) >= 4).alias("drop"),
    )


@register(
    "llm_shard_balance",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, {sql_token_count_bpe_ish('text')} AS n_tokens,
               row_number() OVER (
                   ORDER BY {sql_token_count_bpe_ish('text')} DESC, doc_id
               ) - 1 AS rn
        FROM documents
    ),
    assigned AS (
        SELECT doc_id, n_tokens,
               CASE WHEN (rn // 8) % 2 = 0 THEN rn % 8
                    ELSE 7 - (rn % 8) END AS shard
        FROM ranked
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY shard
    """,
)
def llm_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment for training-data layout: docs
    ranked by token count descending and dealt to 8 shards in SNAKE
    order (0..7, 7..0, ...) — the deterministic, one-pass cousin of the
    greedy LPT bin-packer (snake alternation cancels the systematic
    size bias plain round-robin accrues; imbalance is bounded by one
    document per pass). Output: per-shard doc and token totals, the
    artifact a pretraining launcher checks before writing shards.

    Scale: the global rank is computed the DISTRIBUTED way — a bare
    row_number() over an unpartitioned window would funnel every row
    through one task. Instead (operators/rank.distributed_global_rank):
    range-repartition on the sort key (the machinery behind any global
    orderBy), rank WITHIN each partition (parallel), then add broadcast
    per-partition offsets (a 32-row cumulative table). Identical ranks,
    no single-task bottleneck. The
    assignment is scan-side arithmetic on the rank and the audit
    aggregate is map-side combined. For corpora where even a range
    shuffle is unwanted, the hash variant (llm_sample_hash's md5
    assignment) trades balance for shuffle-freedom — this op is the
    balanced end of that trade."""
    from randas_spark.operators.rank import distributed_global_rank

    d = t(spark, sf_dir, "documents")
    nt = token_count_bpe_ish(F.col("text"))
    proj = d.select("doc_id", nt.alias("n_tokens"))
    order = [F.col("n_tokens").desc(), F.col("doc_id")]
    ranked = distributed_global_rank(proj, order)
    pass_even = (F.col("rn") / 8).cast("long") % 2 == 0
    shard = F.when(pass_even, F.col("rn") % 8).otherwise(7 - F.col("rn") % 8)
    return (
        ranked.withColumn("shard", shard.cast("long"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


def _unigram_doc_score_oracle() -> str:
    from randas_spark.operators.unigram import sql_unigram_doc_score

    return sql_unigram_doc_score("documents", "doc_id", "text")


@register("llm_unigram_doc_score", oracle=_unigram_doc_score_oracle())
def llm_unigram_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cost under the corpus's OWN learned unigram LM
    (operators/unigram.unigram_doc_score): cheap-to-segment documents
    are in-distribution — the perplexity-filter loop closed with the
    tokenizer this engine trains, no external model. Word costs are
    exact integer Viterbi totals from the Heaps-bounded word table,
    broadcast onto one corpus explode; the oracle re-derives model AND
    scores from raw text."""
    from randas_spark.operators.unigram import unigram_doc_score

    return unigram_doc_score(t(spark, sf_dir, "documents"), "doc_id", "text")


@register("llm_pca_project2", oracle=_pca_project_sql(2))
def llm_pca_project2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D embedding map (operators/pca.pca_project, k=2): every
    vector's coordinates on the top two principal components — one
    moment scan, two codegen folds in one projection pass; the input to
    corpus visualization, stratified diversity sampling, and cluster
    triage."""
    from randas_spark.operators.pca import pca_project

    out = pca_project(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", dim=64, k=2
    )
    return _pca_rounded(out, "vec_id")


# --------------------------------------------------------------------------
# Sequence packing (round 9)
# --------------------------------------------------------------------------

_PACK_LEN = 512


from randas_spark.operators.corpus import sql_sequence_pack

_PACK_NTOK = sql_token_count_bpe_ish("text")


@register(
    "llm_sequence_pack",
    oracle=f"""
    WITH {sql_sequence_pack("documents", "doc_id", _PACK_NTOK, _PACK_LEN)}
    SELECT * FROM segs
    """,
)
def llm_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing (operators/corpus.sequence_pack):
    md5-interleave the corpus, concatenate token streams, cut every 512
    tokens — one row per (doc, pack) segment, the shard map a training
    loader consumes. The global token offset rides operators/rank.
    distributed_prefix_sum (two narrow shuffles + a 32-row broadcast
    offset table — the r8 prefix-scan primitive, never a single-task
    global window); everything downstream is int64 modular arithmetic,
    exact in both engines. The oracle's unpartitioned window is the
    SPEC, not the plan."""
    from randas_spark.functions.text import token_count_bpe_ish
    from randas_spark.operators.corpus import sequence_pack

    d = t(spark, sf_dir, "documents").select(
        "doc_id", token_count_bpe_ish(F.col("text")).alias("n_tok")
    )
    return sequence_pack(d, "doc_id", "n_tok", _PACK_LEN)

def _ngram_novelty_oracle() -> str:
    from randas_spark.functions.text import sql_shingles

    ratio = sql_fround(
        "CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)"
        " AS DOUBLE) / count(*)",
        6,
    )
    return f"""
    WITH ex AS (
        SELECT doc_id, unnest({sql_shingles('text', 5)}) AS s FROM documents
    ), firsts AS (
        SELECT s, min(doc_id) AS first_doc FROM ex GROUP BY s
    )
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           {ratio} AS novelty
    FROM ex e JOIN firsts f ON f.s = e.s
    GROUP BY e.doc_id
    """


@register("llm_ngram_novelty", oracle=_ngram_novelty_oracle())
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    5-shingles whose GLOBAL first occurrence (min doc_id) is this doc —
    the curation signal behind crawl-ordering and incremental-ingest
    triage ("how much text does this doc add that the corpus doesn't
    already have"), the doc-level complement of the pairwise dedup
    family. Plan: one shingle explode feeding one map-side-combinable
    min-groupBy, then a doc-level aggregate of the winners joined onto
    the (scan-side) per-doc shingle totals — the novel count per doc is
    derivable from the min-groupBy output ALONE, so the exploded
    shingle set is never shuffled a second time for a join-back (the
    naive join-back shape measured 3.15 s; this plan + the shared
    shingle checkpoint lands at 1.21 s). Ties resolve to the minimum
    doc_id on both engines, so the metric is deterministic and fully
    value-hash checked; the oracle keeps the join-back SPEC shape."""
    from randas_spark.operators.dedup import shingle_checkpoint

    # both branches (totals, explode) read the one shingle checkpoint
    d = shingle_checkpoint(t(spark, sf_dir, "documents"), "doc_id", "text", 5)
    totals = d.select("doc_id", F.size("sh").cast("long").alias("n_shingles"))
    firsts = (
        d.select("doc_id", F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    novels = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        totals.join(novels, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            fround(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_shingles"),
                6,
            ).alias("novelty"),
        )
    )


_PACK_BASE = """b AS (
        SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS base
        FROM d WHERE doc_id % 2 = 0
    )"""


@register(
    "llm_sequence_pack_incremental",
    oracle=f"""
    WITH {sql_sequence_pack("documents", "doc_id", _PACK_NTOK, _PACK_LEN,
                            batch="doc_id % 2 = 1", base=_PACK_BASE)}
    SELECT * FROM segs
    """,
)
def llm_sequence_pack_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sequence packing — the ingestion form of
    llm_sequence_pack: the even-doc_id half models the already-packed
    corpus (its total token count is the LEDGER SCALAR, the only state
    carried between batches), and the odd-doc_id batch packs starting
    at that offset, CONTINUING the global pack sequence: the prior tail
    pack gets topped up, pack ids keep counting, and per-batch cost is
    O(batch) — never a lifetime-quadratic re-pack of the accumulated
    corpus. Pairs with llm_dedup_incremental/llm_dedup_incremental_near
    as the third incremental-ingestion operator. The ledger scalar is
    the one driver-side collect (bounded model state, the pagerank-N
    class)."""
    from randas_spark.functions.text import token_count_bpe_ish
    from randas_spark.operators.corpus import sequence_pack

    d = t(spark, sf_dir, "documents").select(
        "doc_id", token_count_bpe_ish(F.col("text")).alias("n_tok")
    )
    base = d.filter(F.col("doc_id") % 2 == 0).agg(
        F.coalesce(F.sum("n_tok"), F.lit(0)).alias("b")
    ).collect()[0]["b"]
    batch = d.filter(F.col("doc_id") % 2 == 1)
    return sequence_pack(batch, "doc_id", "n_tok", _PACK_LEN, base_offset=int(base))


@register(
    "llm_zipf_fit",
    oracle=f"""
    WITH tc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest({sql_tokens('text')}) AS tok FROM documents)
        GROUP BY tok
        ORDER BY c DESC, tok LIMIT 100
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM tc
    ),
    q AS (
        SELECT CAST(floor(ln(r) * 1000000 + 0.5) AS BIGINT) AS x,
               CAST(floor(ln(c) * 1000000 + 0.5) AS BIGINT) AS y
        FROM ranked
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM q
    )
    SELECT n AS n_ranks,
           {sql_fround('CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)', 6)}
               AS zipf_slope,
           {sql_fround('(CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)) * sx) / n / 1000000', 6)}
               AS ln_c1
    FROM s
    """,
)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(count) vs ln(rank) for the top-100 tokens (natural text sits
    near slope -1; a far-off slope flags synthetic, templated, or
    tokenizer-broken corpora — a one-row corpus-health gauge next to
    token entropy and tokenizer fertility). Exactness: each log is
    quantized to int64 micro-units FIRST (the integer-atom discipline),
    so every sum the regression needs is an order-free integer total —
    the one place engines could drift (float accumulation order) never
    sees a float. Plan: map-side-combinable token counts, TakeOrdered
    top-100, a 100-row window + one aggregate — the only serial window
    is over the collapsed 100-row table."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(100)
    )
    w = Window.orderBy(F.col("c").desc(), "tok")
    q = top.withColumn("r", F.row_number().over(w)).select(
        F.floor(F.log("r") * 1_000_000 + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.log("c") * 1_000_000 + F.lit(0.5)).cast("long").alias("y"),
    )
    s = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den
    return s.select(
        F.col("n").alias("n_ranks"),
        fround(slope, 6).alias("zipf_slope"),
        fround(
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / F.col("n")
            / F.lit(1_000_000.0),
            6,
        ).alias("ln_c1"),
    )


_PACK_BY_SOURCE = sql_sequence_pack(
    "documents", "doc_id", _PACK_NTOK, _PACK_LEN, group_col="source"
)


@register(
    "llm_sequence_pack_by_source",
    oracle=f"""
    WITH {_PACK_BY_SOURCE}
    SELECT * FROM segs
    """,
)
def llm_sequence_pack_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sequence packing (operators/corpus.sequence_pack_by_group):
    every source gets its own pack stream — the layout when shards must
    not mix sources (curriculum stages, per-language shards, licensing
    boundaries). The oracle's source-PARTITIONED window is the SPEC;
    the Spark plan is deliberately NOT that shape — it computes ONE
    global distributed prefix sum under the source-major order and
    subtracts each source's broadcast starting offset, so a hot source
    (half the crawl from one host) never funnels into a single window
    task. The streaming twin is the pack_state kernel
    (streaming/engine.py), pinned batch==stream by pytest."""
    from randas_spark.functions.text import token_count_bpe_ish
    from randas_spark.operators.corpus import sequence_pack_by_group

    d = t(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count_bpe_ish(F.col("text")).alias("n_tok")
    )
    return sequence_pack_by_group(d, "source", "doc_id", "n_tok", _PACK_LEN)


@register(
    "llm_pack_efficiency",
    oracle=f"""
    WITH {_PACK_BY_SOURCE}
    SELECT source,
           CAST(sum(CASE WHEN seg_start = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(max(pack_id) + 1 AS BIGINT) AS n_packs,
           CAST(sum(seg_len) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_segments,
           {sql_fround(f"CAST(sum(seg_len) - max(pack_id) * {_PACK_LEN} AS DOUBLE)"
                       f" / {_PACK_LEN}", 6)} AS tail_fill_frac,
           {sql_fround("CAST(count(*) AS DOUBLE) / (max(pack_id) + 1)", 6)}
               AS docs_per_pack,
           {sql_fround("CAST(count(*) - sum(CASE WHEN seg_start = 0 THEN 1 ELSE 0 END)"
                       " AS DOUBLE) / sum(CASE WHEN seg_start = 0 THEN 1 ELSE 0 END)",
                       6)} AS split_frac
    FROM segs GROUP BY source
    """,
)
def llm_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit (VERDICT r9 #7 — the docstring promise
    that padding waste 'falls out of the segment rows for free', now a
    green row instead of prose): ONE aggregate over the per-source
    segment rows answers the questions packing exists to answer, per
    source —

    - ``tail_fill_frac``: how partial the LAST pack is (every other
      pack is exactly full by construction, so per-source waste is
      (1 - tail_fill) * pack_len tokens, total);
    - ``docs_per_pack``: mean segments per context window (how many
      attention-boundary resets a window carries);
    - ``split_frac``: continuation segments per document — how often a
      document gets cut by a pack boundary (a doc's first segment has
      seg_start = 0, so splits = segments - docs, exactly).

    The aggregate is strictly cheaper than the packing it audits (one
    combinable groupBy over segment rows); all counts are int64-exact
    and the three ratios are fround'd like every cross-engine double."""
    from randas_spark.functions.text import token_count_bpe_ish
    from randas_spark.operators.corpus import sequence_pack_by_group

    d = t(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count_bpe_ish(F.col("text")).alias("n_tok")
    )
    segs = sequence_pack_by_group(d, "source", "doc_id", "n_tok", _PACK_LEN)
    n_docs = F.sum(F.when(F.col("seg_start") == 0, 1).otherwise(0)).cast("long")
    n_packs = (F.max("pack_id") + 1).cast("long")
    n_tokens = F.sum("seg_len").cast("long")
    n_segments = F.count(F.lit(1))
    return segs.groupBy("source").agg(
        n_docs.alias("n_docs"),
        n_packs.alias("n_packs"),
        n_tokens.alias("n_tokens"),
        n_segments.alias("n_segments"),
        fround(
            (F.sum("seg_len") - F.max("pack_id") * F.lit(_PACK_LEN)).cast("double")
            / F.lit(float(_PACK_LEN)),
            6,
        ).alias("tail_fill_frac"),
        fround(
            F.count(F.lit(1)).cast("double") / (F.max("pack_id") + 1), 6
        ).alias("docs_per_pack"),
        fround(
            (
                F.count(F.lit(1))
                - F.sum(F.when(F.col("seg_start") == 0, 1).otherwise(0))
            ).cast("double")
            / F.sum(F.when(F.col("seg_start") == 0, 1).otherwise(0)),
            6,
        ).alias("split_frac"),
    )


def _bitext_oracle() -> str:
    """Replay of margin-based bitext mining over the shared coarse
    quantizer: same md5-seeded centroids, right side assigned top-1,
    left side probing top-2, candidates per shared cell, mutual-best
    with a top-2 difference margin."""
    return f"""
    WITH {_sql_ivf_cent(_CELLS_SQRT)},
    {_sql_nearest_cells("ra", "r", 1, where="r.vec_id % 2 = 1")},
    {_sql_nearest_cells("lp", "l", 2, where="l.vec_id % 2 = 0")},
    cand AS (
        SELECT lp.lid, ra.rid, {sql_cosine('lp.lv', 'ra.rv')} AS cos
        FROM lp JOIN ra USING (cell)
    ),
    ranked AS (
        SELECT lid, rid, cos,
               row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid) AS lrk,
               row_number() OVER (PARTITION BY rid ORDER BY cos DESC, lid) AS rrk,
               lead(cos, 1) OVER (PARTITION BY lid ORDER BY cos DESC, rid) AS cos2
        FROM cand
    )
    SELECT lid, rid, cos, cos - coalesce(cos2, 0.0) AS margin
    FROM ranked WHERE lrk = 1 AND rrk = 1
    """


@register("llm_bitext_mine", oracle=_bitext_oracle())
def llm_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (the CCMatrix/LASER recipe, public:
    Artetxe & Schwenk 2019; Schwenk et al. 2021) — the parallel-corpus
    construction step of a multilingual training pipeline: two corpus
    halves stand in for two languages (vec_id parity; real deployments
    embed both languages into one space), and a pair is emitted iff each
    side is the other's BEST candidate (mutual top-1) with the top-2
    margin attached so callers threshold precision/recall downstream.

    Scale shape — this is NOT the broadcast-kNN plan: both sides are
    corpus-sized, so neither broadcasts. A shared deterministic coarse
    quantizer (md5-seeded max(16, floor(sqrt(N))) cells) buckets BOTH
    sides; the right side lands in its top-1 cell, the left probes
    top-2; candidates are scored inside a cell-keyed COGROUP kernel
    (candidate volume ~ n_probe x N/cells per left row, never
    |L| x |R|) which emits only the exact per-cell union prune —
    (per-lid top-2) UNION (per-rid top-1), provably rank-preserving
    for mutual-top-1 + margin semantics (proof at the kernel below) —
    then two rank windows (per-left, per-right) over the ~3N pruned
    rows decide mutuality and the lead() window prices the margin
    (r13; pre-prune the windows sorted the full ~N^2/cells candidate
    set, the dominant cost at 100x scale). At 100 TB every stage is a
    narrow shuffle on cell / lid / rid; the mutual-filter semantics and
    margins are exactly what the oracle replays, so approximation
    choices (cells, probes) are pinned, not hidden. Tie margins (cos1 == cos2) emit 0.0 and survive; a left with
    a single candidate prices margin against 0 (documented convention).

    Cell formula (r11): sqrt(N), NOT the serving IVF's N/32. Total cost
    here is assignment + candidate scoring = N*n_cells + N^2/n_cells,
    minimized at n_cells = sqrt(N) -> 2*N^1.5. The r10 form's N/32
    cells made the ASSIGNMENT leg N^2/32 — measured 650 s at 100x data
    (benchdata/sf10, 1.25B 64-dim cosines in the two assignment
    cross-joins) where the sqrt form pays ~90M; the 100x slope table in
    BASELINE.md records the before/after.
    """
    from randas_spark.operators.sampling import _md5_hex
    from randas_spark.operators.similarity import (
        _ivf_assign,
        assign_topk_cells,
        norm,
    )

    emb = t(spark, sf_dir, "embeddings")
    n_cells = max(16, math.isqrt(table_num_rows(sf_dir, "embeddings")))
    cent = (
        emb.orderBy(_md5_hex(F.col("vec_id")), F.col("vec_id"))
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("embedding").alias("center"),
            norm(F.col("embedding")).alias("center_nrm"),
        )
    )
    right = emb.filter(F.col("vec_id") % 2 == 1)
    left = emb.filter(F.col("vec_id") % 2 == 0)
    ra = _ivf_assign(right, "vec_id", "embedding", cent).select(
        F.col("cid").alias("rid"), F.col("cv").alias("rv"),
        F.col("cn").alias("rn_"), "cell",
    )
    l = left.select(
        F.col("vec_id").alias("lid"),
        F.col("embedding").alias("lv"),
        norm(F.col("embedding")).alias("ln_"),
    )
    # top-2 probe via the shared Arrow assignment kernel (r12 — the
    # crossJoin + row_number shape it replaces is the interpreted-fold
    # N*n_cells leg the kernel retired family-wide; bit-exact, see
    # assign_topk_cells), vectors re-attached by one narrow equi-join
    lp = (
        assign_topk_cells(left, "vec_id", "embedding", cent, n_probe=2)
        .select(F.col("vid").alias("lid"), "cell")
        .join(l, "lid")
        .select("lid", "lv", "ln_", "cell")
    )
    # r13 (VERDICT r12 order #1): EXACT per-cell union prune. The two
    # mutual-rank windows below only ever read (a) each lid's global
    # top-2 candidates (mutuality + the lead() margin) and (b) each
    # rid's global top-1 (mutuality). Both survive a per-cell prune
    # under the same total orders:
    #   - a lid row in the GLOBAL (cos DESC, rid ASC) top-2 is beaten by
    #     at most one candidate anywhere, hence by at most one cell-mate
    #     — so it is inside its own cell's per-lid top-2;
    #   - a rid lives in EXACTLY one cell (top-1 assignment), so its
    #     per-cell top-1 IS its global top-1.
    # Hence windows over the pruned union
    #     (per-lid-per-cell top-2) UNION (per-rid-per-cell top-1)
    # assign the identical lrk=1 / rrk=1 rows, the identical lead()
    # value (any extra kept row sorts at position >= 3 of its lid's
    # window), and the identical cos2-nullity (a lid with >= 2
    # candidates keeps >= 2). The cogrouped Arrow kernel scores each
    # cell's panel vectorized — bit-exact with the dot/norm columns it
    # replaces: float64 upcast, acc += l_j*r_j dim-by-dim (the
    # zip_with/list_reduce rounding sequence), cos = dot/(ln*rn), ties
    # replayed with a full lexsort, NEVER argpartition — and emits only
    # ~(2|L_c| + |R_c|) rows per cell. The ~N^2/cells candidate set the
    # r12 profile flagged (the dominant remaining cost: two corpus-sized
    # window sorts) never materializes or shuffles. Probe rows stream
    # through the panel in fixed-size blocks with a running per-rid
    # best, so kernel memory is O(block x |R_c|), not O(|L_c| x |R_c|)
    # — at 10^9 vectors a sqrt(N) cell holds ~31k rows a side and the
    # blocked panel stays ~256 MB while the unblocked one would be 8 GB.
    def _prune_cells(key, lp_pdf, ra_pdf):
        import numpy as np
        import pandas as pd

        if not len(lp_pdf) or not len(ra_pdf):
            return pd.DataFrame({"lid": [], "rid": [], "cos": []}).astype(
                {"lid": "int64", "rid": "int64", "cos": "float64"}
            )
        rv = np.stack([np.asarray(v, dtype=np.float64) for v in ra_pdf["rv"]])
        rn = ra_pdf["rn_"].to_numpy()
        rids = ra_pdf["rid"].to_numpy()
        n_r = len(rids)
        best_cos = np.full(n_r, -np.inf)
        best_lid = np.zeros(n_r, dtype=np.int64)
        out_l: list = []
        out_r: list = []
        out_c: list = []
        blk_sz = 1024
        for s in range(0, len(lp_pdf), blk_sz):
            blk = lp_pdf.iloc[s : s + blk_sz]
            lv = np.stack([np.asarray(v, dtype=np.float64) for v in blk["lv"]])
            ln = blk["ln_"].to_numpy()
            lids = blk["lid"].to_numpy()
            # strict left fold, dim by dim (zip_with/list_reduce order)
            dots = np.zeros((len(lv), n_r))
            tmp = np.empty_like(dots)
            for j in range(lv.shape[1]):
                np.multiply(lv[:, j : j + 1], rv[:, j], out=tmp)
                dots += tmp
            cos = dots / (ln[:, None] * rn[None, :])
            for i in range(len(lv)):
                row = cos[i]
                order = np.lexsort((rids, -row))[:2]  # (cos DESC, rid ASC)
                out_l.extend([lids[i]] * len(order))
                out_r.extend(rids[order])
                out_c.extend(row[order])
                # running per-rid best under (cos DESC, lid ASC)
                upd = (row > best_cos) | (
                    (row == best_cos) & (lids[i] < best_lid)
                )
                best_cos[upd] = row[upd]
                best_lid[upd] = lids[i]
        out = pd.concat(
            [
                pd.DataFrame({"lid": out_l, "rid": out_r, "cos": out_c}),
                pd.DataFrame({"lid": best_lid, "rid": rids, "cos": best_cos}),
            ]
        ).drop_duplicates(["lid", "rid"])
        return out.astype({"lid": "int64", "rid": "int64", "cos": "float64"})

    pruned = (
        lp.groupBy("cell")
        .cogroup(ra.groupBy("cell"))
        .applyInPandas(_prune_cells, schema="lid long, rid long, cos double")
    )
    wl = Window.partitionBy("lid").orderBy(F.col("cos").desc(), F.col("rid"))
    wr = Window.partitionBy("rid").orderBy(F.col("cos").desc(), F.col("lid"))
    return (
        pruned.withColumn("lrk", F.row_number().over(wl))
        .withColumn("cos2", F.lead("cos", 1).over(wl))
        .withColumn("rrk", F.row_number().over(wr))
        .filter((F.col("lrk") == 1) & (F.col("rrk") == 1))
        .select(
            "lid",
            "rid",
            "cos",
            (F.col("cos") - F.coalesce(F.col("cos2"), F.lit(0.0))).alias("margin"),
        )
    )


def _ann_recall_oracle() -> str:
    """Replay of the recall audit panel: per method (adaptive-cell IVF;
    IVFPQ, r11), the approximate top-10 LEFT-JOINed against the exact
    brute-force top-10 per query. The IVFPQ leg nests the full composite
    replay (_pq_oracle with n_probe, 50 queries) as a CTE — the
    _pq_rerank_oracle nested-WITH pattern."""
    return f"""
    WITH {_sql_ivf_chain(_CELLS_N32, "q.vec_id < 50")},
    approx AS (
        {_sql_ivf_topk(10, "qid, cid")}
    ),
    approx_ivfpq AS (
        {_pq_oracle(n_queries=50, top_k=10, n_probe=4)}
    ),
    truth AS (
        SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {sql_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id
                   ) AS rk
            FROM embeddings q CROSS JOIN embeddings c
            WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id
        ) WHERE rk <= 10
    )
    SELECT 'ivf_det' AS method, t.qid,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(count(a.cid) AS BIGINT) AS n_found,
           CAST(count(a.cid) AS DOUBLE) / count(*) AS recall
    FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.cid = t.cid
    GROUP BY t.qid
    UNION ALL
    SELECT 'ivfpq' AS method, t.qid,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(count(b.cid) AS BIGINT) AS n_found,
           CAST(count(b.cid) AS DOUBLE) / count(*) AS recall
    FROM truth t LEFT JOIN approx_ivfpq b ON b.qid = t.qid AND b.cid = t.cid
    GROUP BY t.qid
    """


@register("llm_ann_recall_audit", oracle=_ann_recall_oracle())
def llm_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@10 audit — the measurement an index owner reads
    before trusting (or re-tuning) the approximate path: for 50 probe
    queries, the adaptive-cell deterministic IVF's top-10
    (max(16, N/32) cells, 4 probes — the persisted index's production
    formula) is scored against the exact brute-force top-10, per query.
    The MinHash family already carries this discipline
    (llm_minhash_recall_audit: the banding S-curve measured, not
    assumed); this is the embedding-ANN twin, and it closes the loop on
    the whole IVF ladder: build/query/append/stream-ingest/compaction
    are all oracle-checked, and now so is the QUALITY of what they
    serve.

    Scale: truth is the expensive leg (brute force), but it runs over a
    FIXED 50-query panel — cost is 50 × corpus scored pairs regardless
    of corpus size, the standard recall-panel design; the approximate
    leg is the production plan itself. One (qid,cid) equi-join + one
    combinable groupBy stitch them."""
    from randas_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_det,
        knn_ivfpq_query,
    )

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 50)
    n_cells = max(16, table_num_rows(sf_dir, "embeddings") // 32)
    truth = (
        knn_bruteforce(qs, emb, "vec_id", "vec_id", "embedding", top_k=10)
        .select("qid", "cid")
        # MATERIALIZED once: truth is the left side of BOTH method legs,
        # and Spark reuses nothing across the union — the corpus-sized
        # brute-force crossJoin + its top-10 window ran TWICE (plan
        # audit r14: the BroadcastNestedLoopJoin subtree appears once
        # per leg; its single-task scoring job was 1.8 s of the 8.5 s
        # profile). The checkpoint pins the |panel| x top_k = 500-row
        # truth table instead (guide §2.4).
        .localCheckpoint()
    )
    approx_ivf = knn_ivf_det(
        qs, emb, "vec_id", "vec_id", "embedding",
        n_cells=n_cells, n_probe=4, top_k=10,
    ).select("qid", "cid", F.lit(1).alias("hit"))
    # r11: the composite persisted index joins the panel — same 50-query
    # panel, same truth leg, so its recall cell is directly comparable
    # to the raw-vector IVF's (quantization loss shows up HERE, which is
    # what makes the pq_rerank repair measurable rather than assumed)
    index_dir, fp = _ivfpq_index(spark, sf_dir)
    approx_pq = knn_ivfpq_query(
        qs, "vec_id", "embedding", index_dir, n_probe=4, top_k=10, fingerprint=fp
    ).select("qid", "cid", F.lit(1).alias("hit"))

    def leg(approx: DataFrame, method: str) -> DataFrame:
        # approx is <= |panel| x top_k rows at any corpus size —
        # broadcast so the stitch join can't SMJ-shuffle the truth leg
        return (
            truth.join(F.broadcast(approx), ["qid", "cid"], "left")
            .groupBy("qid")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_true"),
                F.count("hit").cast("long").alias("n_found"),
                (F.count("hit").cast("double") / F.count(F.lit(1))).alias("recall"),
            )
            .select(
                F.lit(method).alias("method"), "qid", "n_true", "n_found", "recall"
            )
        )

    return leg(approx_ivf, "ivf_det").unionByName(leg(approx_pq, "ivfpq"))


def _pq_rerank_oracle() -> str:
    """The persisted-PQ replay widened to a 50-candidate shortlist,
    wrapped with the exact-cosine rerank (nested WITH inside the CTE
    body — DuckDB scopes it to the subquery)."""
    return f"""
    WITH short AS (
        {_pq_oracle(top_k=50)}
    )
    SELECT qid, cid, cos, rk FROM (
        SELECT s.qid, s.cid,
               {sql_cosine('q.embedding', 'c.embedding')} AS cos,
               row_number() OVER (
                   PARTITION BY s.qid
                   ORDER BY {sql_cosine('q.embedding', 'c.embedding')} DESC, s.cid
               ) AS rk
        FROM short s
        JOIN embeddings q ON q.vec_id = s.qid
        JOIN embeddings c ON c.vec_id = s.cid
    ) WHERE rk <= 10
    """


@register("llm_knn_pq_rerank", oracle=_pq_rerank_oracle())
def llm_knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN search: PQ-ADC SHORTLIST then exact-cosine RERANK —
    the standard accuracy recovery for quantized indexes (public
    recipe: Jégou et al. 2011 §IV 'asymmetric distance with re-ranking';
    every production vector store ships this shape). Stage 1 runs the
    persisted-index ADC plan wide (top-50 per query, same codes scan +
    broadcast LUT joins as llm_knn_pq_persisted); stage 2 fetches raw
    vectors for ONLY those 50×|queries| candidates (an id equi-join
    against the corpus — never a scan-side decode) and re-scores them
    exactly, keeping top-10.

    Why it matters at 100 TB: the 64x-compressed codes table absorbs
    the corpus-sized scan, the exact leg touches a candidate set whose
    size is fixed per query (50 raw-vector lookups), and the result
    repairs most of the quantization error the recall audit
    (llm_ann_recall_audit) would otherwise charge to the index. The
    oracle replays shortlist AND rerank, so the full two-stage
    composition is value-pinned."""
    from randas_spark.operators.similarity import _cosine_topk, _vec_side, knn_pq_query

    emb = t(spark, sf_dir, "embeddings")
    index_dir, fp = _pq_index(sf_dir, emb)
    shortlist = knn_pq_query(
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        index_dir,
        top_k=50,
        fingerprint=fp,
    ).select("qid", "cid")
    qv = _vec_side(emb, "vec_id", "embedding", "q")
    cv = _vec_side(emb, "vec_id", "embedding", "c")
    # the shortlist is BOUNDED (top_k x |queries| ids) — broadcast it
    # onto the corpus-sized raw-vector side explicitly, so the exact
    # leg is one corpus scan + hash probe at any scale, never a corpus
    # shuffle on cid; it already excludes self-matches
    return _cosine_topk(
        F.broadcast(shortlist.join(F.broadcast(qv.filter(F.col("qid") < 5)), "qid"))
        .join(cv, "cid"),
        10,
    )


@register(
    "llm_corpus_scorecard",
    oracle=f"""
    WITH base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT {sql_fingerprint('text')}) AS BIGINT) AS n_unique,
               CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_words_total,
               {sql_fround('avg(n_chars)', 4)} AS mean_doc_chars,
               {sql_fround('avg(CASE WHEN n_chars < 200 THEN 1.0 ELSE 0.0 END)', 6)} AS pct_short
        FROM documents
    ),
    lc AS (SELECT count(*) AS c FROM documents GROUP BY lang),
    ent AS (
        SELECT {sql_fround('CAST(sum(q) AS BIGINT) * 1.0 / 1000000', 6)} AS lang_entropy
        FROM (
            SELECT CAST(floor(
                -(c * 1.0 / t) * log2(c * 1.0 / t) * 1000000 + 0.5
            ) AS BIGINT) AS q
            FROM lc, (SELECT CAST(count(*) AS DOUBLE) AS t FROM documents)
        )
    ),
    sc AS (
        SELECT {sql_fround('max(c) * 1.0 / (SELECT count(*) FROM documents)', 6)}
               AS source_top_share
        FROM (SELECT count(*) AS c FROM documents GROUP BY source)
    )
    SELECT base.n_docs, base.n_unique,
           {sql_fround('1.0 - base.n_unique * 1.0 / base.n_docs', 6)} AS dup_rate,
           base.n_words_total, base.mean_doc_chars, base.pct_short,
           ent.lang_entropy, sc.source_top_share
    FROM base, ent, sc
    """,
)
def llm_corpus_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health scorecard — the dashboard number a data
    curator reads before/after every pipeline change: volume (docs,
    whitespace words), exact-dup rate (distinct normalized-md5
    fingerprints over docs), length profile (mean chars, short-doc
    fraction), language balance (Shannon entropy of the lang mix,
    bits), and source concentration (top source's share — the
    one-crawl-dominates warning).

    Numeric discipline: every ratio is an exact int/int division done
    identically by both engines; the entropy is the ONE genuine float
    accumulation, so each -p*log2(p) term is quantized to int64
    micro-units BEFORE the sum (the llm_zipf_fit rule) — order-free and
    ulp-robust across engines. Scale: one scan for the base aggregate
    (count-distinct expands then combines map-side), two tiny key-count
    aggregates, three one-row broadcasts stitched at the end."""
    d = t(spark, sf_dir, "documents")
    base = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(fingerprint(F.col("text"))).cast("long").alias("n_unique"),
        F.sum(F.size(tokens(F.col("text"))).cast("long")).cast("long").alias("n_words_total"),
        fround(F.avg("n_chars"), 4).alias("mean_doc_chars"),
        fround(
            F.avg(F.when(F.col("n_chars") < 200, 1.0).otherwise(0.0)), 6
        ).alias("pct_short"),
    )
    tot = table_num_rows(sf_dir, "documents")
    lc = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    p = F.col("c") * 1.0 / F.lit(float(tot))
    ent = (
        lc.select(
            F.floor(-p * F.log2(p) * 1_000_000 + F.lit(0.5)).cast("long").alias("q")
        )
        .agg(fround(F.sum("q").cast("long") * 1.0 / 1_000_000, 6).alias("lang_entropy"))
    )
    sc = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(fround(F.max("c") * 1.0 / F.lit(tot), 6).alias("source_top_share"))
    )
    return (
        base.crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(sc))
        .select(
            "n_docs",
            "n_unique",
            fround(1.0 - F.col("n_unique") * 1.0 / F.col("n_docs"), 6).alias("dup_rate"),
            "n_words_total",
            "mean_doc_chars",
            "pct_short",
            "lang_entropy",
            "source_top_share",
        )
    )


@register(
    "llm_cross_source_overlap",
    oracle=f"""
    WITH {_sql_jaccard_head()}, pairs AS (
        SELECT id_a, id_b, {_SQL_JACCARD} AS jaccard
        {_sql_jaccard_edges(0.6)}
    )
    SELECT least(da.source, db.source) AS src_a,
           greatest(da.source, db.source) AS src_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(floor(CAST(sum(CAST(floor(p.jaccard * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                / (1000000.0 * count(*)) * 1000000 + 0.5) AS BIGINT) / 1000000.0
               AS mean_jaccard
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2
    """,
)
def llm_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the curation question behind
    source selection: WHICH crawls/feeds duplicate each other, and how
    hard. Exact 5-gram Jaccard near-dup pairs (>= 0.6, the
    llm_dedup_ngram_jaccard ground truth, shingle equi-join — never
    all-pairs) are attributed to their documents' sources; the
    unordered (src_a, src_b) cell counts pairs and carries the mean
    overlap strength. A heavy diagonal means intra-source boilerplate
    (dedup within the source); a heavy off-diagonal cell means two
    sources mirror each other (drop or down-weight one BEFORE paying to
    process both).

    Numeric discipline: each pair's jaccard is quantized to int64
    micro-units before the per-cell sum (order-free), and the mean is
    one exact-int division re-quantized — cross-engine value-exact with
    no fround-on-accumulated-floats hazard. Scale: the pair set is the
    already-bounded near-dup join; the attribution is two broadcastable
    dimension joins (doc -> source) + one combinable groupBy on a
    handful of source-pair cells."""
    from randas_spark.operators.dedup import ngram_jaccard_pairs

    d = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.6)
    src = d.select("doc_id", "source")
    attributed = (
        pairs.join(
            F.broadcast(src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "sa")),
            "id_a",
        )
        .join(
            F.broadcast(src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "sb")),
            "id_b",
        )
    )
    q = F.floor(F.col("jaccard") * 1_000_000 + F.lit(0.5)).cast("long")
    return (
        attributed.select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            q.alias("q"),
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (
                F.floor(
                    F.sum("q").cast("double")
                    / (F.lit(1_000_000.0) * F.count(F.lit(1)))
                    * 1_000_000
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(1_000_000.0)
            ).alias("mean_jaccard"),
        )
    )


@register(
    "llm_knn_filtered",
    oracle=_ivf_knn_oracle(_CELLS_N32, "q.vec_id < 5", cand="a.cid % 3 = 0"),
)
def llm_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the vector-store staple: top-k nearest
    AMONG corpus rows satisfying a metadata predicate (here cid % 3 == 0
    standing in for a tenant/language/license filter). Strategy is
    post-filter-in-cell: probe the usual n_probe cells, apply the
    predicate to the candidate rows BEFORE ranking, rank the survivors.

    Why this shape at 100 TB: the predicate lands on the assignment
    scan (column-pruned, partition-pruned to the probed cells), so the
    filter costs nothing extra — the alternative, pre-filtering the
    corpus and re-indexing per predicate, is a per-query index build.
    The known failure mode is honest here too: a highly selective
    filter can leave < k survivors in the probed cells (raise n_probe
    or fall back to brute force over the filtered subset — the recall
    audit family measures exactly this trade). The oracle replays the
    same post-filter semantics, so the returned-fewer-than-k behavior
    is value-pinned, not papered over."""
    from randas_spark.operators.similarity import knn_ivf_query

    emb = t(spark, sf_dir, "embeddings")
    index_dir, fp = _ivf_adaptive_index(sf_dir, emb)
    out = knn_ivf_query(
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        index_dir,
        n_probe=4,
        top_k=10,
        fingerprint=fp,
        candidate_filter=F.col("cid") % 3 == 0,
    )
    return out


def _ivf_stats_oracle() -> str:
    """Replay of the index balance report: adaptive-cell assignment
    counts rolled up to distribution stats."""
    return f"""
    WITH {_sql_ivf_cent(_CELLS_N32)},
    {_sql_nearest_cells("assign", "c", 1, vec=False)},
    cc AS (SELECT cell, count(*) AS c FROM assign GROUP BY cell)
    SELECT CAST((SELECT count(*) FROM cent) AS BIGINT) AS n_cells,
           CAST(count(*) AS BIGINT) AS n_nonempty_cells,
           CAST(sum(c) AS BIGINT) AS n_vectors,
           CAST(max(c) AS BIGINT) AS max_cell,
           {sql_fround('max(c) * count(*) * 1.0 / sum(c)', 4)} AS balance_ratio
    FROM cc
    """


@register("llm_ann_index_stats", oracle=_ivf_stats_oracle())
def llm_ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index balance report — the operational gauge for a served IVF
    index (rel_join_skew_report's twin for vector cells): cell count,
    non-empty cells, vector total, the hottest cell, and max/mean
    balance ratio. A ratio drifting up over ingestion means new data no
    longer matches the frozen centroids (distribution shift) — the
    signal to re-cluster offline, which is exactly the decision this
    one-aggregate query exists to inform. Scale: one count per cell
    (map-combinable) + a scalar roll-up; runs against the persisted
    assignments scan, no vector math at all."""
    import os

    from randas_spark.operators.similarity import ivf_assignment_counts

    emb = t(spark, sf_dir, "embeddings")
    index_dir, _ = _ivf_adaptive_index(sf_dir, emb)
    # Report the PERSISTED centroid count, not the requested formula
    # literal: on a corpus smaller than the cell formula
    # the seeding LIMIT clamps, and the oracle counts the cent CTE —
    # the persisted table is the ground truth both sides agree on.
    n_cells_actual = parquet_num_rows(os.path.join(index_dir, "centroids.parquet"))
    cc = ivf_assignment_counts(spark, index_dir)
    return cc.agg(
        F.lit(int(n_cells_actual)).cast("long").alias("n_cells"),
        F.count(F.lit(1)).cast("long").alias("n_nonempty_cells"),
        F.sum("c").cast("long").alias("n_vectors"),
        F.max("c").cast("long").alias("max_cell"),
        fround(
            F.max("c") * F.count(F.lit(1)) * 1.0 / F.sum("c"), 4
        ).alias("balance_ratio"),
    )


@register(
    "llm_dedup_survivorship",
    oracle=f"""
    WITH src AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 7 = 3 THEN 'common duplicated body'
                    ELSE text END AS body
        FROM documents
    ),
    f AS (
        SELECT doc_id, source, {sql_fingerprint('body')} AS fp FROM src
    ),
    w AS (SELECT fp, min(doc_id) AS win_id FROM f GROUP BY fp)
    SELECT lf.source AS loser_source, wf.source AS winner_source,
           CAST(count(*) AS BIGINT) AS n_dropped
    FROM f lf
    JOIN w ON lf.fp = w.fp AND lf.doc_id <> w.win_id
    JOIN f wf ON wf.doc_id = w.win_id
    GROUP BY 1, 2
    """,
)
def llm_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship matrix — who WINS when duplicates collide:
    for every document dropped by the exact-dedup keep-min rule, the
    (loser source, winner source) cell counts it. The point is bias
    accounting: keep-on-minimum-id silently favors whichever source was
    ingested first (low ids), and when an off-diagonal cell is heavy in
    one direction, one source's documents are systematically surviving
    at another's expense — the attribution a curation decision (or a
    licensing question) needs to see, and the exact-dedup twin of the
    near-dup cross-source matrix (llm_cross_source_overlap). The
    fixture corpus has no organic exact dups at small sf, so the
    llm_dedup_incremental synthetic-duplication discipline applies: a
    shared body is injected into every doc_id % 7 == 3 document, giving
    the matrix real cross-source collisions at every scale.

    Scale: fingerprint groupBy is map-side combinable; the winner is a
    per-fp window min (no second aggregate pass); the winner's source
    comes from ONE id equi-join; the output is a handful of
    source-pair cells."""
    d = t(spark, sf_dir, "documents")
    body = F.when(
        F.col("doc_id") % 7 == 3, F.lit("common duplicated body")
    ).otherwise(F.col("text"))
    f = d.select("doc_id", "source", fingerprint(body).alias("fp"))
    w = Window.partitionBy("fp")
    losers = (
        f.withColumn("win_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("win_id"))
        .select(F.col("source").alias("loser_source"), "win_id")
    )
    winners = f.select(
        F.col("doc_id").alias("win_id"), F.col("source").alias("winner_source")
    )
    return (
        losers.join(winners, "win_id")
        .groupBy("loser_source", "winner_source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
    )


def _ivfpq_index(spark: SparkSession, sf_dir: str) -> tuple:
    """Build-if-absent persisted IVFPQ index for ``sf_dir``'s embeddings
    (m4/k8/i2/s512) — shared by the headline query and the recall audit
    so one build per (sf, corpus-fingerprint) serves both. Returns
    (index_dir, fingerprint).

    Coarse granularity is max(16, floor(sqrt(N))) — the FAISS-canonical
    IVF sizing — NOT the raw-vector IVF's max(16, N/32). The two
    formulas answer different cost models: the raw IVF serves
    UNCOMPRESSED vectors, so per-candidate scoring dominates and cells
    stay small (32 rows) to bound candidate volume; here every
    candidate is 4 codes scored by LUT lookups (~100x cheaper), while
    each cell is a PHYSICAL PARTITION of the persisted codes table —
    N/32 cells means unboundedly many tiny dirs/files (measured: the
    sf1.0 serve scan spent more listing 625 partitions than scanning),
    whereas sqrt(N) cells keeps per-cell bytes GROWING with the corpus
    (file-system-sized partitions at scale: 1B rows -> ~31.6k cells of
    ~31.6k rows) with candidate volume n_probe*sqrt(N), still
    sub-linear. The oracle's pcent LIMIT replays the same formula."""
    from randas_spark.operators.similarity import ivfpq_build_index

    emb = t(spark, sf_dir, "embeddings")
    n_cells = max(16, math.isqrt(table_num_rows(sf_dir, "embeddings")))
    return _persisted_index(
        sf_dir,
        "ivfpq_index",
        "sqrt_m4k8i2s512_v2",
        "ivfpq",
        {"n_cells": n_cells, **_PQ_PARAMS},
        lambda d, fp, **p: ivfpq_build_index(
            emb, "vec_id", "embedding", d, fingerprint=fp, **p
        ),
    )


@register("llm_knn_ivfpq", oracle=_pq_oracle(n_probe=4))
def llm_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite IVF+PQ persisted ANN index (VERDICT r10 order #1) —
    the IVFADC layout (Jégou et al. PAMI'11 §V; FAISS IndexIVFPQ with
    by_residual=false): coarse cells at the FAISS-canonical
    max(16, floor(sqrt(N))) granularity (file-sized partitions — see
    _ivfpq_index for the contrast with the raw-vector IVF's N/32)
    prune WHICH code rows a query panel scores,
    product quantization compresses each survivor to m=4 codes. The
    codes table — the only corpus-sized artifact — is persisted
    PARTITIONED BY coarse cell, so the measured plan is: broadcast
    probe join prunes the (64x-compressed, cell-partitioned) codes scan
    to n_probe·N/n_cells rows, m broadcast LUT joins, fixed-order ADC
    sum, one top-k window. This retires the last full-corpus-per-panel
    ANN plan (llm_knn_pq_adc keeps its slot as the oracle-replayable
    fused baseline; llm_knn_pq_persisted proves the fit/query split;
    this row proves the pruned scan).

    The oracle composes the two already-proven replay chains — the
    blocked deterministic PQ fit (_pq_oracle) and the adaptive coarse
    assignment (_sql_ivf_cent/_sql_nearest_cells) — joined on candidate
    cells, so the full composite is value-pinned, not just row-counted.

    Integrity: index keyed by all build params + source-parquet
    fingerprint (build-if-absent, rebuild on corpus regeneration);
    knn_ivfpq_query re-validates params and fingerprint at query
    time."""
    from randas_spark.operators.similarity import knn_ivfpq_query

    emb = t(spark, sf_dir, "embeddings")
    index_dir, fp = _ivfpq_index(spark, sf_dir)
    return knn_ivfpq_query(
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        index_dir,
        n_probe=4,
        top_k=10,
        fingerprint=fp,
    )


def _ivfpq_rerank_oracle() -> str:
    """The composite IVFPQ replay widened to a 50-candidate shortlist,
    wrapped with the exact-cosine rerank (the _pq_rerank_oracle
    nested-WITH pattern over the pruned chain)."""
    return f"""
    WITH short AS (
        {_pq_oracle(top_k=50, n_probe=4)}
    )
    SELECT qid, cid, cos, rk FROM (
        SELECT s.qid, s.cid,
               {sql_cosine('q.embedding', 'c.embedding')} AS cos,
               row_number() OVER (
                   PARTITION BY s.qid
                   ORDER BY {sql_cosine('q.embedding', 'c.embedding')} DESC, s.cid
               ) AS rk
        FROM short s
        JOIN embeddings q ON q.vec_id = s.qid
        JOIN embeddings c ON c.vec_id = s.cid
    ) WHERE rk <= 10
    """


@register("llm_knn_ivfpq_rerank", oracle=_ivfpq_rerank_oracle())
def llm_knn_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production vector-search stack in one plan (FAISS's
    IndexIVFPQR shape; Jégou et al. §IV re-ranking over §V IVFADC):
    coarse cells prune the scan, PQ codes compress the candidates, and
    a bounded exact-cosine rerank repairs the quantization error on the
    shortlist. Stage 1 is llm_knn_ivfpq's partition-pruned ADC widened
    to top-50 per query; stage 2 fetches raw vectors for ONLY those
    50x|queries| ids (two id equi-joins — never a corpus scan) and
    re-scores exactly, keeping top-10.

    At 100 TB this is the plan a serving tier actually runs: the one
    corpus-sized artifact touched is the cell-partitioned codes table,
    pruned to n_probe cells by DPP; everything downstream is bounded by
    the panel. Completes the two-stage family next to llm_knn_pq_rerank
    (flat scan + rerank) — the delta between their stage-1 costs is the
    pruning win, measured on the same corpus."""
    from randas_spark.operators.similarity import _cosine_topk, _vec_side, knn_ivfpq_query

    emb = t(spark, sf_dir, "embeddings")
    index_dir, fp = _ivfpq_index(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") < 5)
    short = knn_ivfpq_query(
        qs, "vec_id", "embedding", index_dir, n_probe=4, top_k=50, fingerprint=fp
    ).select("qid", "cid")
    # query-side raw vectors come from the PANEL frame itself (qs), not
    # a second pass through the shortlist — reusing `short` twice would
    # duplicate the whole stage-1 subplan (codes scan included)
    qv = _vec_side(qs, "vec_id", "embedding", "q")
    cv = _vec_side(emb, "vec_id", "embedding", "c")
    return _cosine_topk(
        F.broadcast(short).join(cv, "cid").join(F.broadcast(qv), "qid"), 10
    )
