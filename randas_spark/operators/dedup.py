"""Deduplication operators for LLM training-data pipelines.

Five dedup families over a (id, text) / (id, embedding) corpus, ordered by
cost and fuzziness:

1. exact        — hash-groupBy on a normalized fingerprint (md5)
2. ngram-jaccard— exact k-shingle set Jaccard via shingle equi-join
3. minhash+LSH  — banded MinHash signatures; candidate pairs from band
                  buckets, verified with exact Jaccard
4. simhash      — sign-of-sum fingerprint, hamming-banded
5. embedding    — cosine threshold over vector pairs (LSH-bucketed at scale)

Scale notes per operator sit on each function. The pair-generating
operators never materialize the O(n²) pair matrix: candidates come from
equi-joins on shingles / bands / buckets, which is the whole point of
MinHash-LSH banding (probability of sharing a band ≈ 1-(1-j^r)^b).

MinHash and SimHash each have ONE implementation, built from md5 and
integer arithmetic only (minhash_lsh_pairs_portable,
simhash_portable_pairs): the signatures are plain columns that compose
with the rest of the engine, carry no ML-pipeline fitting step, and are
bit-identical on any engine with md5() — so the DuckDB oracle replays
the exact pipeline the engine runs.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql.types import ArrayType, StringType
from pyspark.sql import functions as F

from randas_spark.functions.text import fingerprint, shingles, tokens

_LOG = logging.getLogger(__name__)


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure scan parallelism before a CPU-heavy per-row stage.

    A small single parquet file arrives as ONE input split, so shingling /
    hashing / token expansion then runs single-threaded no matter how many
    cores the session has — the dominant cost of the dedup operators at
    test scale. At cluster scale inputs are many-file/many-split and this
    is a no-op (the frame is returned unchanged whenever it already has at
    least `min_parts` partitions); when it does fire, it shuffles only the
    raw input rows, orders of magnitude lighter than the expansion stage
    it unlocks."""
    if df.isStreaming:  # partitioning is the source's concern in a stream
        return df
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def overlap(side, main):
    """Run ``side()`` on a second driver thread while ``main()`` runs on
    this one; return ``(side_result, main_result)``.

    For two independent eager legs (each materializes its own jobs):
    Spark's FIFO scheduler back-fills the idle tail of one leg's jobs
    with the other's tasks — same jobs, no longer serialized. Always
    waits for BOTH legs. If either raises, the first failure to happen
    is re-raised; a failure of the other leg is attached to it as a note,
    never dropped."""
    from concurrent.futures import ThreadPoolExecutor

    failures: list[Exception] = []  # in the order the legs failed

    def recorded(fn):
        try:
            return fn()
        except Exception as exc:
            failures.append(exc)
            raise

    with ThreadPoolExecutor(max_workers=1) as pool:
        side_fut = pool.submit(recorded, side)
        try:
            main_result = recorded(main)
        except Exception:
            main_result = None  # recorded in ``failures``
    # leaving the pool joined the side thread: both legs are done here
    if failures:
        first, *others = failures
        for other in others:
            first.add_note(f"the overlapped leg also failed: {other!r}")
        raise first
    return side_fut.result(), main_result


# --------------------------------------------------------------------------
# 1. exact dedup
# --------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate groups: normalize → md5 fingerprint → hash groupBy.

    Returns (fp, n_docs, keep_id) with n_docs >= 2 — the duplicate sets and
    the canonical survivor (min id). One shuffle on the fingerprint;
    map-side partial agg collapses most of the traffic. At 100 TB this is
    the cheapest dedup pass and always runs first.
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") >= 2)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per fingerprint — the actual dedup pass."""
    w = Window.partitionBy("__fp__").orderBy(F.col(id_col))
    return (
        df.withColumn("__fp__", fingerprint(F.col(text_col)))
        .withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") == 1)
        .drop("__fp__", "__rk__")
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 15,
) -> DataFrame:
    """CCNet-style segment-level (paragraph) dedup: split each document
    into consecutive ``seg_tokens``-token segments, hash each segment,
    and keep only the FIRST occurrence of every segment hash corpus-wide
    (first = smallest (doc_id, seg_idx)) — the pass that strips shared
    boilerplate (headers, nav bars, subscribe blocks) that doc-level
    dedup can't see because the surrounding text differs per page
    (Wenzek et al., CCNet, LREC'20 dedups on paragraph hashes exactly
    this way).

    Returns (doc_id, n_segs, n_kept, kept_md5): per-doc segment counts
    and the md5 of the surviving text (segments re-joined in seg_idx
    order); kept_md5 is NULL when every segment was removed.

    Scale: segmentation is scan-side array math (tokenize once, slice
    per window — no shuffle); the first-occurrence rule is a map-side-
    combinable groupBy(hash).min(packed (doc_id, seg_idx) key) — an
    integer MIN, deliberately NOT a row_number window over the hash
    partition, because the whole point is that boilerplate hashes are
    HOT (millions of instances of one hash at crawl scale) and a window
    would sort each hot partition while the partial-agg min collapses
    it map-side. The verdict joins back on the hash (AQE handles the
    residual skew); the per-doc rollup shuffles on doc_id. The packed
    key bounds seg_idx < 1e6 — fine for any document under ~15M tokens."""
    toks = tokens(F.col(text_col))
    n_segs = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    segs = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.array_join(
                        F.slice(toks, i * seg_tokens + 1, seg_tokens), " "
                    ),
                )
            ).alias("seg_idx", "seg_text"),
        )
        .withColumn("h", F.md5(F.col("seg_text")))
        .withColumn(
            "pk", F.col("doc_id").cast("long") * 1_000_000 + F.col("seg_idx")
        )
    )
    firsts = segs.groupBy("h").agg(F.min("pk").alias("first_pk"))
    flagged = segs.join(firsts, "h").withColumn(
        "kept", F.col("pk") == F.col("first_pk")
    )
    kept_join = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("kept"), F.struct("seg_idx", "seg_text"))
                )
            ),
            lambda s: s["seg_text"],
        ),
        " ",
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
        F.when(
            F.sum(F.col("kept").cast("long")) > 0, F.md5(kept_join)
        ).alias("kept_md5"),
    )


def incremental_dedup(
    batch: DataFrame,
    ledger: DataFrame,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW ingestion batch against the fingerprint LEDGER of all
    prior runs — continuous-ingestion dedup, where re-deduping the whole
    accumulated corpus per batch would be quadratic over the pipeline's
    lifetime.

    ``ledger`` holds (fp, doc_id) of previously-kept docs. Returns
    ``(labeled, new_ledger)``:

    - ``labeled``: every batch row with ``status`` —
      ``dup_vs_ledger`` (fingerprint already in the ledger),
      ``dup_in_batch`` (not in the ledger, but another batch row with
      the same fingerprint has a smaller id), or ``kept``.
    - ``new_ledger``: ledger ∪ kept rows' (fp, doc_id) — feed it to the
      next batch.

    Scale shape: one window over fp within the batch (small), one join
    against the ledger on fp. At 100 TB the ledger side dwarfs the
    batch: keep the ledger parquet BUCKETED on fp (io/layout.
    write_bucketed) so the per-batch join shuffles only the batch, and
    put a Bloom prefilter (operators/sketches.bloom_join_reduction) in
    front when the dup rate is low so most batch rows never reach the
    join.
    """
    w = Window.partitionBy("fp").orderBy(F.col(id_col))
    fps = batch.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fp"),
    ).withColumn("rk", F.row_number().over(w))
    # Null-safe ledger membership: fingerprint(null text) is null, and a
    # plain equi-join drops null keys — a null-fp doc would be re-labeled
    # 'kept' in EVERY batch (and the ledger would grow one null row per
    # batch) even though the within-batch window already treats null fps
    # as one group. eqNullSafe keeps batch and cross-batch semantics
    # consistent.
    led = (
        ledger.select(F.col("fp").alias("__lfp__"))
        .distinct()
        .withColumn("in_ledger", F.lit(True))
    )
    labeled = (
        fps.join(led, fps["fp"].eqNullSafe(F.col("__lfp__")), "left")
        .drop("__lfp__")
        .select(
            F.col(id_col),
            F.col("fp"),
            F.when(F.col("in_ledger"), F.lit("dup_vs_ledger"))
            .when(F.col("rk") > 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )
    kept = labeled.filter(F.col("status") == "kept").select(
        "fp", F.col(id_col).alias("doc_id")
    )
    new_ledger = ledger.select("fp", "doc_id").unionByName(kept)
    return labeled, new_ledger


# --------------------------------------------------------------------------
# 2. exact n-gram Jaccard pairs (the ground truth for the fuzzy variants)
# --------------------------------------------------------------------------


def _cap_hot_keys(df, key_cols, max_freq):
    """Drop rows whose key occurs more than ``max_freq`` times — the
    shared skew cap under every pair generator's self-equi-join (join
    cost is Σ_key freq², so one boilerplate key can dominate the whole
    stage). Window count partitioned on the join key itself: one shuffle
    the downstream self-join re-uses, no extra stage. Capping only
    REMOVES candidate pairs (conservative for every caller: Jaccard /
    containment / band-bucket / fingerprint / span semantics all treat
    missing candidates as "not a duplicate")."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    wf = Window.partitionBy(*key_cols)
    return (
        df.withColumn("__freq__", F.count(F.lit(1)).over(wf))
        .filter(F.col("__freq__") <= max_freq)
        .drop("__freq__")
    )


def _check_shingle_arrays(sh: DataFrame) -> DataFrame:
    """Fail fast on a malformed caller-supplied ``shingle_arrays`` frame:
    it must carry ``doc_id`` and an ``sh`` column of array<string>. An
    ``sh`` of another element type would still explode and hash, into
    signatures and sizes that silently disagree with the text. Reads the
    schema only — no Spark job."""
    fields = {f.name: f.dataType for f in sh.schema.fields}
    if "doc_id" not in fields:
        raise ValueError(f"shingle_arrays lacks a doc_id column: {sorted(fields)}")
    dt = fields.get("sh")
    if not (isinstance(dt, ArrayType) and isinstance(dt.elementType, StringType)):
        got = dt.simpleString() if dt is not None else "no sh column"
        raise ValueError(f"shingle_arrays.sh must be array<string>, got {got}")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.6,
    max_shingle_freq: int | None = None,
    log_dropped: bool = False,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with k-shingle-set Jaccard >= threshold.

    Plan: explode distinct shingles → self-equi-join on shingle →
    per-pair intersection count → |A∪B| = |A|+|B|-|A∩B|.

    Scale: the join is an equi-join on the shingle value, so cost is
    Σ_shingle(freq²) not n² — fine while shingle frequencies are bounded.
    Hot shingles (boilerplate) are the skew risk: ``max_shingle_freq``
    drops shingles appearing in more than that many documents BEFORE the
    self-join (prefix-filtering style), bounding the per-key join fan-out
    at max_shingle_freq². The cap is conservative: intersection counts
    lose only ultra-common shingles (which carry ~no discriminative
    signal, exactly like BM25's max_df), so capped Jaccard is a lower
    bound — pairs can drop below threshold, never falsely rise above it.
    ``log_dropped=True`` triggers one extra count job and logs how many
    hot shingles were dropped. Default None preserves exact semantics;
    beyond the cap, MinHash-LSH (below) is the scale path.

    ``shingle_arrays`` (optional): an ALREADY-MATERIALIZED
    (doc_id, sh array) frame equal to ``shingles(text_col, k)`` per doc
    — callers composing several shingle consumers over the same corpus
    (llm_minhash_recall_audit: exact pairs + LSH pairs) pass one shared
    checkpoint so the shingle construction scan runs once, not once per
    operator (guide §2.4). A frame without ``doc_id`` or with an ``sh``
    that is not array<string> raises ValueError.
    """
    # MATERIALIZED once: the self-join's a/b sides plus the two size
    # legs all derive from sh, and Spark reuses nothing across the four
    # references — shingle construction (slice + concat_ws per position,
    # the dominant cost) would run up to 4x. Downstream derivations
    # (explode, size) are cheap over the checkpointed arrays.
    if shingle_arrays is not None:
        sh = _check_shingle_arrays(shingle_arrays)
    else:
        sh = fan_out(df).select(
            F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k).alias("sh")
        ).localCheckpoint()
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    exploded = sh.select("doc_id", F.explode("sh").alias("s"))
    if max_shingle_freq is not None:
        exploded = _cap_hot_keys(exploded, "s", max_shingle_freq)
        if log_dropped:
            n_hot = (
                sh.select(F.explode("sh").alias("s"))
                .groupBy("s")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > max_shingle_freq)
                .count()
            )
            _LOG.info(
                "ngram_jaccard_pairs: dropped %d shingles with freq > %d",
                n_hot,
                max_shingle_freq,
            )
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the
    SSJoin/PPJoin family, Chaudhuri et al. ICDE'06 / Xiao et al.
    WWW'08): all pairs with k-shingle Jaccard >= threshold — the same
    output contract as :func:`ngram_jaccard_pairs`, reached through a
    candidate set that is a strict subset of the full shingle self-join.

    Prefix principle: order every doc's shingles by ONE global total
    order (ascending document frequency, ties by shingle text — rarest
    first) and keep only the first ``|S| - ceil(t*|S|) + 1`` as the
    doc's PREFIX. Two sets with J >= t overlap in at least
    ``ceil(t/(1+t) * (|a|+|b|))`` elements, which pigeonholes at least
    one shared element into both prefixes — so joining prefix-to-prefix
    loses no qualifying pair, while skipping every pair whose only
    shared shingles are common ones. Exactness is enforced, not
    assumed: candidates are verified with the full intersection before
    the threshold filter (and the DuckDB oracle recomputes plain
    Jaccard from scratch).

    Scale: candidate cost is Σ_over_PREFIX_shingles(freq²) — prefixes
    are the RAREST shingles, exactly the ones with tiny freq, so the
    quadratic term collapses relative to the full self-join's
    Σ_all(freq²) (boilerplate shingles never generate candidates
    because no doc carries them in its prefix); the SSJoin LENGTH
    filter (min size >= t * max size — a necessary condition for
    J >= t) prunes size-mismatched pairs inside the candidate join
    itself. The global order needs no global rank: each doc sorts its
    own shingles by the broadcast-free ``(freq, shingle)`` tuple via a
    per-doc sort_array — no single-task row_number funnel.
    Verification joins candidate pairs (already few) back to the two
    shingle arrays and intersects in-memory per pair.

    Both pre-filters are made CONSERVATIVE against IEEE rounding: when
    t*n is integral in exact arithmetic but the float product rounds up
    (t=0.07, n=100 -> ceil gives 8 vs exact 7), a naive ceil(t*n) would
    shorten the prefix and silently drop an exact-threshold pair. A
    1e-9 slack keeps the prefix one longer / the length band one wider
    in those cases; a longer prefix is always safe because the full
    verification leg decides membership.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"ppjoin_pairs: threshold must be in (0, 1], got {threshold!r}"
        )
    sh, cand = _ppjoin_candidates(df, id_col, text_col, k, threshold)
    return _ppjoin_verify(sh, cand, threshold)


def _ppjoin_candidates(
    df: DataFrame, id_col: str, text_col: str, k: int, threshold: float
):
    """Candidate half of :func:`ppjoin_pairs`: (checkpointed shingle
    frame, candidate (id_a, id_b) pairs). Split out so stage timing
    (tools/ppjoin_stages.py) can adjudicate the candidate-join vs
    verify-leg slopes independently without duplicating the plan."""
    sh = fan_out(df).select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k).alias("sh")
    ).localCheckpoint()
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    # per-doc shingles sorted by the global (freq, shingle) order. The
    # document frequency attaches via a WINDOW COUNT partitioned on the
    # shingle itself — one exchange of the exploded rows — instead of
    # the r13 groupBy(s) + equi-join back, which shuffled the same rows
    # for the aggregate AND AGAIN for the join probe (guide §2.4 "two
    # operations keyed the same way can share one exchange"; profiled
    # 8.3 s -> 4.7 s on the candidate stage at sf0.1). Same counts, same
    # (f, s) structs, same order.
    wf = Window.partitionBy("s")
    ordered = (
        ex.withColumn("f", F.count(F.lit(1)).over(wf))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("f", "s"))).alias("ord"))
    )
    n = F.size("ord")
    # prefix length |S| - ceil(t*|S| - eps) + 1 (>=1 always: t <= 1);
    # the eps makes the ceil conservative where float t*n rounds above
    # the exact integer product (see docstring)
    plen = (
        n
        - F.ceil(F.lit(float(threshold)) * n - F.lit(1e-9)).cast("int")
        + 1
    )
    # MATERIALIZED once: both candidate-join sides explode this frame
    pref = ordered.select(
        "doc_id",
        n.alias("n_sh"),
        F.transform(
            F.slice("ord", F.lit(1), plen), lambda x: x["s"]
        ).alias("pref"),
    ).localCheckpoint()
    ex_a = pref.select(
        F.col("doc_id").alias("id_a"),
        F.col("n_sh").alias("__na__"),
        F.explode("pref").alias("s"),
    )
    ex_b = pref.select(
        F.col("doc_id").alias("id_b"),
        F.col("n_sh").alias("__nb__"),
        F.explode("pref").alias("s"),
    )
    # SSJoin LENGTH filter, applied inside the candidate join: J(a,b) is
    # at most min(|a|,|b|)/max(|a|,|b|), so any qualifying pair has
    # min >= t*max — pairs outside the size band are pruned BEFORE the
    # distinct/verify legs ever see them. Pure candidate pruning: the
    # verification step still decides membership, so exactness is
    # untouched (and the losslessness pytest + plain-Jaccard oracle
    # would catch an over-aggressive bound).
    t_lit = F.lit(float(threshold))
    cand = (
        ex_a.join(
            ex_b,
            (ex_a["s"] == ex_b["s"])
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("__na__").cast("double") >= t_lit * F.col("__nb__") - F.lit(1e-9))
            & (F.col("__nb__").cast("double") >= t_lit * F.col("__na__") - F.lit(1e-9)),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return sh, cand


def _ppjoin_verify(sh: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Verify half of :func:`ppjoin_pairs`: join candidates back to both
    shingle arrays, intersect per pair, keep J >= threshold."""
    verified = (
        cand.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """DIRECTED near-duplicate containment: pairs (a, b) where
    C(a→b) = |S(a) ∩ S(b)| / |S(a)| >= threshold — "most of a's k-shingles
    also appear in b". The asymmetric complement of Jaccard: a short doc
    quoted wholesale inside a long one scores C ≈ 1 while Jaccard stays
    tiny, so symmetric dedup never finds it. This is the
    subset/quotation/boilerplate-absorption detector (and the measure
    behind MinHash-containment sketches in web dedup).

    Plan: identical shingle equi-join skeleton as ngram_jaccard_pairs —
    cost Σ_shingle(freq²), never n²; ``max_shingle_freq`` caps hot-shingle
    fan-out the same way (capped containment is a lower bound, pairs can
    only drop). The join emits BOTH directions (a≠b, not a<b) because
    containment is directed; the output is still ≤2× the undirected pair
    count above the threshold.
    """
    # MATERIALIZED once — same rationale as ngram_jaccard_pairs: the
    # a/b join sides and the size leg would otherwise re-run shingle
    # construction per reference.
    sh = fan_out(df).select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k).alias("sh")
    ).localCheckpoint()
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    exploded = sh.select("doc_id", F.explode("sh").alias("s"))
    if max_shingle_freq is not None:
        exploded = _cap_hot_keys(exploded, "s", max_shingle_freq)
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    return (
        inter.join(sa, "id_a")
        .withColumn("containment", F.col("n_inter").cast("double") / F.col("n_a"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# --------------------------------------------------------------------------
# 3-4. MinHash-LSH and SimHash: one engine-portable implementation each
# (md5-derived hashes, integer arithmetic), defined further down —
# minhash_lsh_pairs_portable and simhash_portable_pairs.
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# 5. embedding cosine near-dup
# --------------------------------------------------------------------------


def embedding_near_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_planes: int = 0,
    dim: int | None = None,
    bucket_cap: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Vector pairs with cosine >= threshold.

    With n_planes=0 (default): the exact variant — all-pairs theta join,
    only sane for small n or a pre-blocked corpus; this is what the DuckDB
    oracle checks. With n_planes>0 (requires dim): the scale path — both
    sides carry a random-hyperplane sign bucket (similarity.project_buckets)
    and the join becomes an equi-join on the bucket, so the shuffle is
    partitioned by bucket and only same-bucket pairs are scored (approximate:
    recall follows the hyperplane collision probability (1 - θ/π)^n_planes).
    Scoring is the codegen'd cosine expression in both modes.

    ``n_planes`` should come from similarity.adaptive_plane_count at
    scale — a FIXED plane count makes the in-bucket candidate volume
    quadratic in N (the r11 100x audit: 1.25e9 scored pairs at 200k
    vectors with 4 planes).

    ``bucket_cap`` (VERDICT r11 order #1b) is the skew safety rail on
    top of the adaptive planes: a bucket holding more than cap vectors
    (an adversarial near-identical embedding mass that no plane can
    split) keeps only its ``cap`` smallest ids — a DETERMINISTIC,
    engine-portable rule (rank by id within bucket), so the DuckDB
    oracle replays the identical cap and the twin stays value-exact
    even when the cap binds. Dropped rows are accounted, never silent:
    pass ``stats`` to get {n_vectors, n_kept, n_dropped_rows,
    n_capped_buckets} (capped + dropped = uncapped, the
    stream_capped_drop_audit identity), and any binding cap logs a
    warning with the same numbers.
    """
    from randas_spark.functions.vectors import dot, norm

    # Norms are STAGED AS COLUMNS below the join: the inline cosine(a,b)
    # form re-evaluates both norm folds per PAIR (no CSE inside lambda
    # folds), tripling the fold ops in the quadratic stage; staged, each
    # norm is one fold per VECTOR and a pair costs a single dot fold.
    # Same left folds, same sqrt/multiply/divide sequence → values
    # bit-identical to the declarative oracle (the knn_graph_ivf
    # rationale, applied to the pair join).
    # The all-pairs mode parallelizes over the LEFT side's partitions
    # (nested-loop join) — fan a single-split input out first.
    cond = F.col("id_a") < F.col("id_b")
    if n_planes > 0:
        if dim is None:
            raise ValueError("dim is required when n_planes > 0")
        from pyspark.sql import Window

        from randas_spark.operators.similarity import project_buckets

        base = fan_out(df).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("nn"),
            project_buckets(vec_col, dim, n_planes).alias("bucket"),
        )
        if bucket_cap is not None:
            uncapped = base
            wb = Window.partitionBy("bucket").orderBy("id")
            base = (
                base.withColumn("__brn__", F.row_number().over(wb))
                .filter(F.col("__brn__") <= bucket_cap)
                .drop("__brn__")
            )
            if stats is not None:
                # One job: every stat is a function of the per-bucket
                # size histogram — n_kept = Σ least(n, cap) is exactly
                # what the row_number cap keeps, so re-running the
                # capped projection (a second fan_out+project_buckets
                # pass) just to count it was two redundant Spark jobs.
                srow = (
                    uncapped.groupBy("bucket")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .agg(
                        F.sum("n").alias("nv"),
                        F.sum(F.least(F.col("n"), F.lit(bucket_cap))).alias("nk"),
                        F.count_if(F.col("n") > bucket_cap).alias("nc"),
                    )
                    .collect()[0]  # bounded: one 3-scalar row
                )
                n_vec = srow["nv"] or 0
                n_kept = srow["nk"] or 0
                n_capped = srow["nc"]
                stats.update(
                    n_vectors=n_vec,
                    n_kept=n_kept,
                    n_dropped_rows=n_vec - n_kept,
                    n_capped_buckets=n_capped,
                    bucket_cap=bucket_cap,
                    n_planes=n_planes,
                )
                if n_vec != n_kept:
                    _LOG.warning(
                        "embedding_near_pairs: bucket_cap=%d bound on %d "
                        "bucket(s), dropped %d of %d vectors from the "
                        "candidate generator",
                        bucket_cap, n_capped, n_vec - n_kept, n_vec,
                    )
        a = base.select(
            F.col("id").alias("id_a"), F.col("v").alias("v_a"),
            F.col("nn").alias("n_a"), "bucket",
        )
        b = base.select(
            F.col("id").alias("id_b"), F.col("v").alias("v_b"),
            F.col("nn").alias("n_b"), "bucket",
        )
        joined = a.join(b, "bucket").filter(cond)
    else:
        a = fan_out(df).select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("v_a"),
            norm(F.col(vec_col)).alias("n_a"),
        )
        b = df.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("v_b"),
            norm(F.col(vec_col)).alias("n_b"),
        )
        joined = a.join(b, cond)
    return (
        joined.withColumn(
            "cos", dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# --------------------------------------------------------------------------
# 6. Edit-distance (Levenshtein) near-dup
# --------------------------------------------------------------------------


def levenshtein_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_len_diff: int = 5,
    max_distance: int = 50,
    len_col: str | None = None,
) -> DataFrame:
    """Pairs whose edit distance <= max_distance, candidate-blocked.

    Levenshtein is O(len²) per pair, so the all-pairs form is unusable at
    scale; this blocks on `block_cols` (e.g. source+lang) AND a length
    band (|len_a - len_b| <= max_len_diff — edit distance is lower-bounded
    by the length gap, so the band loses nothing below the threshold).
    The distance itself runs JVM-side (F.levenshtein, codegen).

    Scale: the length band is part of the JOIN KEY, not a post-join
    filter — lengths bucket into width-max_len_diff bands and the probe
    side explodes into its {B−1, B, B+1} neighbor buckets, so the join is
    a hash equi-join on (block_cols…, bucket) and only near-same-length
    pairs are ever materialized (any |Δlen| ≤ max_len_diff pair differs
    by ≤1 bucket, and each pair meets in exactly one bucket). Joining on
    block_cols alone with the band as a filter computes |block|² pairs
    first — measured 200+ s at sf0.1 vs ~2 s banded. The O(len²)
    Levenshtein runs only on bucket-matched pairs.
    """
    length = F.col(len_col) if len_col else F.length(F.col(text_col))
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("txt"),
        *[F.col(c) for c in block_cols],
        length.alias("n_len"),
    )
    w = max(max_len_diff, 1)
    bkt = (F.col("n_len") / w).cast("long")
    # dunder name so a caller's own "bkt" block column can't collide
    # (same convention as exact_dedup's __fp__/__rk__)
    a = base.withColumn("__bkt__", F.explode(F.array(bkt - 1, bkt, bkt + 1))).alias("a")
    b = base.withColumn("__bkt__", bkt).alias("b")
    cond = (F.col("a.doc_id") < F.col("b.doc_id")) & (
        F.abs(F.col("a.n_len") - F.col("b.n_len")) <= max_len_diff
    )
    for c in block_cols + ["__bkt__"]:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .withColumn("distance", F.levenshtein(F.col("a.txt"), F.col("b.txt")))
        .filter(F.col("distance") <= max_distance)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            "distance",
        )
    )


# --------------------------------------------------------------------------
# 7. Dedup clusters: connected components over near-dup pair edges
# --------------------------------------------------------------------------


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star —
    component = min node id reachable via edges.

    Pairwise near-dup output (§2-§6 above) is not yet a dedup decision:
    similarity is not transitive, so keep-one-per-group needs the
    transitive closure. This is the Kiveris et al. (MapReduce
    "Connected Components in MapReduce and Beyond") algorithm. Min-label
    propagation needs O(diameter) rounds — hopeless for high-diameter
    graphs (a 1M-node chain = 1M rounds); star rounds contract paths
    aggressively and converge in O(log² n) rounds on ANY topology:

    - large-star: for each node u, every strictly-LARGER neighbor v
      re-attaches to u's current minimum m(u) — emit (v, m(u)).
    - small-star: every neighbor v <= u (plus u) attaches to m(u).

    Each round is one groupBy-min + one join-shaped regroup on the node —
    the same shuffle key every round. Driver loop carries only the
    convergence check (edge-set stability via count), never node data;
    localCheckpoint truncates lineage per round. Property-tested equal
    to a driver-side union-find on random graphs; round-count bound
    proven on a chain graph.

    Labels ONLY the nodes the converged star forest touches: a node
    whose edges are all self-loops is absent, and so is any node outside
    the edge list. Callers own the node universe —
    :func:`dedup_cluster_assignments` left-joins the labels onto it and
    labels absent nodes to themselves — so no node-universe distinct
    (exchange + agg) or left join runs in here, and the raw edge list is
    single-consumer: the contraction checkpoint below materializes the
    upstream pair generators directly.
    """
    def sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    # canonical orientation: every edge points downhill (larger → smaller)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )

    # LOCAL CONTRACTION pre-pass (the standard distributed-CC opening
    # move): each partition solves its own edges exactly with an
    # in-memory union-find (min-root) and emits only its spanning
    # forest (node -> local root, <= one edge per non-root node).
    # Connectivity is preserved — the union of per-partition closures
    # has the same components — while chains that live inside one
    # partition contract to stars in ONE Arrow-batched pass, so the
    # global star rounds start from partition-hop diameter, not raw
    # diameter (locally: 6 rounds -> 2 on the semantic-dedup graph).
    # Memory is bounded by the partition's edge count (the shuffle
    # split size); output orientation stays downhill (root = min).
    # Measured (sf0.1/sf1.0, isolated median-of-3): with the check-first
    # exit below, contraction + zero-round exit beats the pre-contraction
    # code on EVERY CC query — clusters 2.10 -> 1.88 s sf0.1 and
    # 13.4 -> 5.1 s sf1.0; semantic dedup 5.18 -> 3.69 s; hybrid dedup
    # 27.1 -> 8.7 s sf1.0 (BASELINE.md r6 continuation tables).
    def _local_cc(pdfs):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in pdfs:
            for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        us, vs = [], []
        for x in parent:
            r = find(x)
            if r != x:
                us.append(x)
                vs.append(r)
        if us:
            yield pd.DataFrame({"u": us, "v": vs})

    # Checkpointed so the pre-loop convergence check below doesn't force
    # a second contraction pass; contracted size <= node count.
    e = e.mapInPandas(_local_cc, schema=e.schema).localCheckpoint()

    def converged(g: DataFrame) -> bool:
        # SOUND star-forest certificate — BOTH conditions, in one job:
        # (a) no length-2 chain (no parent v is itself a child u), AND
        # (b) every child has exactly ONE distinct parent. (a) alone is
        # NOT sufficient: the local contraction can emit (x -> r1) and
        # (x -> r2) from different partitions (x's edges split across
        # shuffle splits), and star rounds can emit a child attached to
        # two distinct stars' minima — in both shapes no parent is a
        # child, yet the set is not a disjoint star forest, and the
        # final groupBy-min labeling would SPLIT the true component
        # (r1 and r2 are connected through x but would label apart).
        # With (a)+(b) the set is a function whose image is disjoint
        # from its domain = a disjoint min-rooted star forest, which is
        # exactly the fixpoint family of the alternating rounds
        # (Kiveris et al.) and labels correctly. Still strictly cheaper
        # than the symmetric-difference check (2x exceptAll + union)
        # this replaces.
        parents = g.select(F.col("u").alias("v")).distinct()
        chain = g.join(parents, "v", "left_semi").select(F.lit(1).alias("bad"))
        multi = (
            g.groupBy("u")
            .agg(F.count_distinct("v").alias("np"))
            .filter(F.col("np") > 1)
            .select(F.lit(1).alias("bad"))
        )
        return chain.union(multi).limit(1).count() == 0

    def with_min(g: DataFrame) -> DataFrame:
        # m(u) = min(Γ(u) ∪ {u}) attached to every edge row via a window
        # — ONE shuffle on u, where the groupBy(min)+join formulation
        # costs two (agg exchange + join exchange of the same rows). The
        # join side always needed the full edge shuffle, so the window
        # strictly removes an exchange per star step; round wall-clock on
        # small edge sets is exchange-count-bound.
        w = Window.partitionBy("u")
        return g.withColumn("m", F.least(F.min("v").over(w), F.col("u")))

    def one_round(e: DataFrame) -> DataFrame:
        # large-star: each v ∈ Γ(u) with v > u re-attaches to m(u)
        g = with_min(sym(e))
        large = (
            g.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )  # dups tolerated here; the round output dedups once
        # small-star: each v ∈ Γ⁺(u) with v <= u attaches to m(u)
        g2 = with_min(sym(large))
        return (
            g2.filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(g2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # One star round per materialize+check cycle. (Measured dead end:
    # batching 2 lazy rounds per checkpoint DOUBLES wall-clock — each
    # sym()/mins() reference re-expands the inner round's unmaterialized
    # plan, so a 2-deep composition replans and recomputes the inner
    # round several times inside one job. Checkpoint = plan barrier.)
    # CHECK-FIRST loop: when the local contraction already solved the
    # graph (single-partition local inputs, or components that never
    # cross a partition boundary), the pre-loop check exits with ZERO
    # star rounds — measured ~1.5 s saved per CC query locally. After
    # round 1, checks run on EVEN rounds only: no deep edge set
    # converges in one more round, and each check is a full job —
    # skipping odd rounds trades at most one no-op star round (cheap on
    # a forest) for halving the check jobs, which dominate late-round
    # cost.
    rounds = 0
    done = False
    round_edges: list[int] = []
    if stats is not None:
        # per-round profile (VERDICT r11 order #2): edge count entering
        # the loop (post-contraction) then after each star round — cheap
        # counts on already-materialized localCheckpoint RDDs, opt-in
        round_edges.append(e.count())
    while rounds < max_iter:
        if (rounds % 2 == 0) and converged(e):
            done = True
            break
        rounds += 1
        e = one_round(e).localCheckpoint()
        if stats is not None:
            round_edges.append(e.count())
    if not done and not converged(e):
        _LOG.warning(
            "connected_components_star: max_iter=%d exhausted before the edge "
            "set became a star forest — the groupBy-min labeling below may "
            "SPLIT true components; raise max_iter",
            max_iter,
        )
        done = False
    else:
        done = True
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = done
        stats["round_edges"] = round_edges

    comp = sym(e).groupBy("u").agg(F.min("v").alias("comp"))
    # star ROOTS appear in sym(e) with min(children) > root, so the
    # least() is what labels them to themselves
    return comp.select(
        F.col("u").alias("node"),
        F.least(F.col("comp"), F.col("u")).alias("comp"),
    )


def dedup_cluster_assignments(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """(id, cluster, keep): every document labeled with its near-dup
    cluster and a keep flag on the cluster's minimum id — the final emit
    of a dedup pipeline. ``pairs`` (id_a, id_b) closes under star CC;
    ``df``'s ids are the node universe, so singletons (docs in no edge,
    or only in self-loops) cluster to themselves."""
    comp = connected_components_star(pairs)
    ids = df.select(F.col(id_col).alias("node"))
    full = ids.join(comp, "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce("comp", F.col("node")).alias("cluster"),
    )
    return full.withColumn("keep", F.col(id_col) == F.col("cluster"))


#: Modulus for the portable permutation family: largest prime below 2^32.
MINHASH_MOD = 4294967291


def minhash_perm_consts(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_p, b_p) for the portable permutation family
    h_p(x) = (a_p·x + b_p) mod MINHASH_MOD. Knuth/xxhash-prime derived,
    a_p forced odd and < 2^30 so a_p·x < 2^62 — BIGINT-safe (no overflow
    wraparound) on BOTH Spark and DuckDB, which is what keeps the two
    engines bit-identical."""
    return [
        (
            ((2654435761 * (p + 1)) % (1 << 30)) | 1,
            (2246822519 * (p + 7)) % (1 << 30),
        )
        for p in range(num_perm)
    ]


def sql_minhash_h32(s_expr: str) -> str:
    """DuckDB twin of the Spark-side shingle hash: first 8 hex digits of
    md5 as a 32-bit integer."""
    return f"(('0x' || substr(md5({s_expr}), 1, 8))::BIGINT)"


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    max_fp_freq: int | None = None,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS plagiarism-detection selection rule): hash every k-gram, slide
    a window of w consecutive hashes, keep each window's MINIMUM — the
    selected set (doc_id, fp) is a position-robust fingerprint with
    guaranteed density ~2/(w+1) and the guarantee that any shared run of
    >= w+k-1 tokens contributes at least one SHARED fingerprint. The
    local/robust alternative to whole-document fingerprints
    (functions/text.fingerprint): insertions far from a match region
    cannot change the fingerprints it selects.

    Gram hashes are the portable md5→32-bit family (sql twin replayable
    on any engine). Plan: positional grams (scan-side), a per-doc
    ordered window (one shuffle on doc_id, constant state), distinct —
    output is ~2n/(w+1) rows, a fraction of the gram stream.
    Docs with fewer than ``w`` k-grams (shorter than ~k+w-1 tokens)
    emit NO fingerprints — below one full window the selection guarantee
    is undefined, so such docs are invisible to winnowing_shared_pairs
    (mirror of duplicated_spans' "< k tokens emit no grams" rule; route
    short docs through exact/ngram dedup, which has no window floor).

    ``max_fp_freq`` mirrors the hot-shingle caps: drop fingerprints in
    more than that many docs before any pair join on them.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    gram_idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    )
    grams = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(gram_idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        ).alias("pos", "g"),
    )
    h = F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 8), 16, 10).cast("long")
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    sel = (
        grams.select("doc_id", "pos", h.alias("h"))
        .select("doc_id", "pos", F.min("h").over(win).alias("fp"))
        .filter(F.col("pos") >= w - 1)
        .select("doc_id", "fp")
        .distinct()
    )
    if max_fp_freq is not None:
        sel = _cap_hot_keys(sel, "fp", max_fp_freq)
    return sel


def winnowing_shared_pairs(
    fps: DataFrame, min_shared: int = 3
) -> DataFrame:
    """(id_a, id_b, n_shared): doc pairs sharing >= min_shared winnowing
    fingerprints — same Σfreq² equi-join bound as the shingle joins.
    The fingerprint table is materialized once: both join sides consume
    it with zero subplan reuse, and fingerprint selection (gram hash +
    ordered window + distinct) is the dominant cost."""
    fps = fps.localCheckpoint()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def portable_banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 5,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_id, bk) — the engine-portable MinHash band keys
    (md5→32-bit shingle hash, (a_p·h+b_p) mod P integer permutations,
    num_perm/bands rows concatenated per band). Shared by the
    within-corpus LSH (minhash_lsh_pairs_portable) and the incremental
    ledger variant (incremental_near_dedup); per-doc and deterministic,
    so signatures computed on any subset equal those computed on the
    union — the property that lets a stored ledger stay valid.

    ``shingle_arrays`` (optional): a precomputed (doc_id, sh array)
    frame equal to ``shingles(text_col, k)`` per doc — the signature
    explode then reads it instead of re-running the shingle
    construction scan (guide §2.4; see ngram_jaccard_pairs). A frame
    without ``doc_id`` or with an ``sh`` that is not array<string>
    raises ValueError."""
    rows_per_band = num_perm // bands
    if rows_per_band * bands != num_perm:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    if shingle_arrays is not None:
        sh = _check_shingle_arrays(shingle_arrays).select(
            "doc_id", F.explode("sh").alias("s")
        )
    else:
        sh = fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles(F.col(text_col), k)).alias("s"),
        )
    h32 = F.conv(F.substring(F.md5(F.col("s").cast("binary")), 1, 8), 16, 10).cast("long")
    shh = sh.withColumn("h", h32)
    mins = shh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_MOD)).alias(f"m{p}")
            for p, (a, b) in enumerate(minhash_perm_consts(num_perm))
        ]
    )
    return mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|", *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("bk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "x.band_id", "x.bk")


def incremental_near_dedup(
    batch: DataFrame,
    ledger_docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 5,
    threshold: float = 0.6,
) -> DataFrame:
    """NEAR-duplicate dedup of an ingestion batch against the accumulated
    corpus — the fuzzy companion of :func:`incremental_dedup` (exact
    fingerprints). Each batch doc is labeled ``near_dup_vs_ledger``
    (with its lowest-id verified match and that match's Jaccard) or
    ``kept``.

    Plan: batch band keys equi-join the LEDGER's band keys (portable
    MinHash — :func:`portable_banded_signatures`), then exact-Jaccard
    verification shingles CANDIDATE docs only. Deterministic best match
    = min ledger id among verified matches (no float tie ordering).

    Scale: lifetime cost stays linear — each batch joins the ledger on
    band keys, never re-pairing the whole corpus. In production the
    ledger's (doc_id, band_id, bk) rows are PRECOMPUTED at ingest and
    stored bucketed on bk (io/layout.write_bucketed), so the per-batch
    join shuffles only the batch side; this function recomputes them
    from ``ledger_docs`` for the self-contained form. Signatures are
    per-doc, so ledger signatures never go stale as the corpus grows.
    """
    b_banded = portable_banded_signatures(batch, id_col, text_col, num_perm, bands, k)
    l_banded = portable_banded_signatures(
        ledger_docs, id_col, text_col, num_perm, bands, k
    )
    cand = (
        b_banded.alias("a")
        .join(l_banded.alias("b"), ["band_id", "bk"])
        .select(F.col("a.doc_id").alias("id_batch"), F.col("b.doc_id").alias("id_led"))
        .distinct()
        .localCheckpoint()
    )

    def cand_shingles(df: DataFrame, side: str) -> DataFrame:
        ids = cand.select(F.col(side).alias(id_col)).distinct()
        return (
            fan_out(df)
            .join(ids, id_col, "left_semi")
            .select(
                F.col(id_col).alias("doc_id"),
                F.explode(shingles(F.col(text_col), k)).alias("s"),
            )
        )

    # The two candidate-shingle materializations are independent (one
    # reads the batch, one the ledger; both depend only on the already-
    # checkpointed cand) — materialize the ledger side on a second
    # driver thread so its scan+explode runs WHILE the batch side's job
    # executes (guide §2.6 overlap).
    sh_l, sh_b = overlap(
        lambda: cand_shingles(ledger_docs, "id_led").localCheckpoint(),
        lambda: cand_shingles(batch, "id_batch").localCheckpoint(),
    )
    sizes_b = sh_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_b"))
    sizes_l = sh_l.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_l"))
    inter = (
        cand.join(sh_b.select(F.col("doc_id").alias("id_batch"), "s"), "id_batch")
        .join(sh_l.select(F.col("doc_id").alias("id_led"), "s"), ["id_led", "s"])
        .groupBy("id_batch", "id_led")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_b") + F.col("n_l") - F.col("n_inter")
    )
    verified = (
        inter.join(sizes_b.select(F.col("doc_id").alias("id_batch"), "n_b"), "id_batch")
        .join(sizes_l.select(F.col("doc_id").alias("id_led"), "n_l"), "id_led")
        .filter(jac >= threshold)
        .select("id_batch", "id_led", jac.alias("jaccard"))
    )
    best = verified.groupBy("id_batch").agg(F.min("id_led").alias("match_id"))
    best = best.join(
        verified.select(
            F.col("id_batch"), F.col("id_led").alias("match_id"), "jaccard"
        ),
        ["id_batch", "match_id"],
    )
    return (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(best.withColumnRenamed("id_batch", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "match_id",
            "jaccard",
            F.when(F.col("match_id").isNotNull(), F.lit("near_dup_vs_ledger"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 5,
    threshold: float = 0.6,
    shingle_arrays: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs with ENGINE-PORTABLE hashing:
    each shingle is hashed ONCE (first 8 hex digits of md5 → 32-bit int)
    and permutation p is the integer family (a_p·h + b_p) mod P — every
    op replayable on any engine with md5() and 64-bit integers (Spark,
    DuckDB, Python), so the signatures, candidate set, and final verified
    pairs are bit-identical cross-engine: a 100 TB dedup run can be
    spot-audited per-shard by ANY engine recomputing the same pairs.

    bands × rows split of num_perm sets the S-curve: pair-candidate
    probability 1-(1-j^rows)^bands. Candidates come only from
    band-bucket equi-joins — no O(n²) stage; verification joins shingle
    sets for candidate docs only (semi-join pruning before the pair
    join).

    Cost note: one md5 + num_perm multiply-adds per shingle (the md5
    amortizes across all permutations), BIGINT signature mins instead of
    hex-string mins.

    ``max_bucket_size`` is the hot-bucket guard: any (band_id, bk)
    bucket larger than the cap — boilerplate text hashing identically
    across millions of docs, whose self-join would fan out |bucket|²
    pairs on ONE join key — is dropped before pairing. Recall cost is
    bounded: docs in a dropped bucket still meet through any of their
    other bands-1 buckets (true near-dups agree on many bands,
    boilerplate-only collisions on few), which is why capping, not
    salting, is what production MinHash dedup does. The count is a
    window partitioned on the join key itself, so the one band shuffle
    is shared with the self-join. Default None: no cap, no window.

    ``shingle_arrays`` (optional): a caller-materialized (doc_id, sh
    array) frame equal to ``shingles(text_col, k)`` per doc. Both the
    signature build AND the candidate-verification shingling then read
    it instead of re-running the shingle construction scan — the
    recall-audit composition (exact pairs + LSH pairs over ONE corpus)
    shares a single shingle checkpoint across both operators
    (guide §2.4). A frame without ``doc_id`` or with an ``sh`` that is
    not array<string> raises ValueError."""
    # No banded checkpoint, by measurement: the band self-join exchanges
    # both sides on the identical (band_id, bk) key, so exchange reuse
    # already serves both from one signature build.
    banded = portable_banded_signatures(
        df, id_col, text_col, num_perm, bands, k, shingle_arrays=shingle_arrays
    )
    if max_bucket_size is not None:
        banded = _cap_hot_keys(banded, ["band_id", "bk"], max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band_id", "bk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        # cand is referenced by cand_ids, inter, and the final emit; the
        # EAGER local checkpoint pins the LSH-bounded pair set (a sliver
        # of the corpus) so the signature pipeline — full-corpus md5 +
        # banded self-join — executes exactly once instead of once per
        # reference (eager: lazy checkpoints re-materialize under AQE
        # stage re-execution)
        .localCheckpoint()
    )
    cand_ids = cand.select(F.col("id_a").alias("doc_id")).union(
        cand.select(F.col("id_b").alias("doc_id"))
    ).distinct()
    # verification shingles ONLY candidate docs: the semi-join lands
    # BELOW the explode (doc granularity), so the pass scans |candidates|
    # docs instead of shingling the whole corpus and semi-joining the
    # exploded rows — at 100 TB candidates are a sliver of the corpus.
    # With a caller-shared shingle frame the explode reads the already-
    # materialized arrays instead of re-shingling the candidate docs.
    if shingle_arrays is not None:
        sh_c_src = shingle_arrays.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", F.explode("sh").alias("s")
        )
    else:
        sh_c_src = (
            fan_out(df)
            .join(cand_ids.withColumnRenamed("doc_id", id_col), id_col, "left_semi")
            .select(
                F.col(id_col).alias("doc_id"),
                F.explode(shingles(F.col(text_col), k)).alias("s"),
            )
        )
    # referenced 3x (sizes + both sides of inter); candidates-only, so
    # small enough to pin eagerly
    sh_c = sh_c_src.localCheckpoint()
    # sh_c holds the COMPLETE shingle set of every candidate doc, and only
    # candidate ids reach the final joins — so sizes comes from sh_c, not
    # from a third full-corpus shingling pass (shingles() is distinct per
    # doc, so count(1) here equals the old whole-corpus count)
    sizes = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(sh_c.select(F.col("doc_id").alias("id_a"), "s"), "id_a")
        .join(sh_c.select(F.col("doc_id").alias("id_b"), "s"), ["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_span: int = 20,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Exact duplicated token SPANS across documents (the substring-
    level dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", re-expressed relationally): every maximal
    run of >= min_span tokens shared verbatim between two docs, located
    by position in both.

    Plan: position-aware k-grams (posexplode — scan-side), equi-join on
    the gram (same Σfreq² cost bound as shingle Jaccard, never
    all-pairs), then a gaps-and-islands window per (pair, diagonal):
    matches at positions (i, j) with equal i−j and consecutive i form
    one island = one maximal shared span of length island_len + k − 1.
    The window partitions by (id_a, id_b, diag) — never global.

    Output: (id_a, id_b, start_a, start_b, span_len), span_len in
    tokens. A suffix-array build is the single-node way to this answer;
    the k-gram join + islands window is the shuffle-native way.

    ``max_gram_freq`` is the same hot-key cap as ngram_jaccard_pairs'
    max_shingle_freq: a boilerplate k-gram occurring in f corpus
    positions fans out f² rows on ONE join key; the cap drops grams
    above the frequency BEFORE the self-join (window count partitioned
    on the join key itself — shares the join's shuffle). Effect on
    results: a span whose every k-gram is ultra-common disappears, one
    with any sub-cap gram splits at the hot spots — capped output is a
    conservative subset, never a false span. A 100 TB run ships with
    the cap on.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    # docs shorter than k tokens emit NO grams (a truncated gram would
    # match another short doc and report span_len = k — overstating a
    # shared run of fewer than k tokens)
    gram_idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(gram_idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        ).alias("pos", "g"),
    )
    if max_gram_freq is not None:
        grams = _cap_hot_keys(grams, "g", max_gram_freq)
    # MATERIALIZED once: the a/b join sides share zero subplan — gram
    # construction (slice+concat_ws per position) and the hot-gram
    # window would run twice (same class as the shingle-table fix).
    grams = grams.localCheckpoint()
    a = grams.select(F.col("doc_id").alias("id_a"), F.col("pos").alias("i"), "g")
    b = grams.select(F.col("doc_id").alias("id_b"), F.col("pos").alias("j"), "g")
    matches = a.join(b, "g").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "i", "j", (F.col("i") - F.col("j")).alias("diag")
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("i")
    islands = matches.withColumn("island", F.col("i") - F.row_number().over(w))
    return (
        islands.groupBy("id_a", "id_b", "diag", "island")
        .agg(
            F.min("i").alias("start_a"),
            F.min("j").alias("start_b"),
            (F.max("i") - F.min("i") + k).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
        .select("id_a", "id_b", "start_a", "start_b", "span_len")
    )


_HEX_DIGITS = "0123456789abcdef"


def simhash_portable_fp(text_col, n_bits: int = 16):
    """Engine-portable SimHash fingerprint: over the doc's DISTINCT
    tokens, bit b's weight is Σ_tok (2·bit_b(md5(tok)) − 1) with
    bit_b read from the hex digits of md5 (instr-based digit value —
    the same primitive the Count-Min buckets use), and the fingerprint
    sets bit b iff the weight is >= 0. Integer arithmetic end-to-end →
    bit-identical on Spark / DuckDB / Python.

    n_bits=16 (4 hex digits) keeps the expression tree sane; hamming
    banding below needs only short fingerprints anyway.
    """
    # ONE aggregate pass threading an array-of-weights accumulator: each
    # token is md5-hashed exactly once, and every fingerprint bit's ±1
    # contribution is read off that one hash. The previous form ran
    # n_bits separate aggregate() calls over the same token-hash array —
    # higher-order functions sit outside codegen subexpression
    # elimination, so each re-evaluated every md5 (n_bits× the hashing;
    # measured 8.1 s → ~1 s at sf0.1 for the 32-bit registry query).
    hashes = F.transform(
        F.array_distinct(F.split(F.lower(text_col), " ")),
        lambda t: F.md5(t.cast("binary")),
    )
    idx = F.sequence(F.lit(0), F.lit(n_bits - 1))
    pow2 = F.array(*[F.lit(1 << s) for s in range(4)])  # 2^shift lookup

    def pm1(h, b):
        # ±1 for bit b of the hash: hex digit b//4 (1-based substr),
        # bit 3-(b%4) within the digit — same layout as the SQL twin
        digit = F.conv(h.substr((b / 4).cast("int") + 1, F.lit(1)), 16, 10).cast("int")
        shift = F.lit(3) - (b % 4).cast("int")
        return ((digit / F.element_at(pow2, shift + 1)).cast("int") % 2) * 2 - 1

    # finish= binds the final accumulator as a LAMBDA VARIABLE, so the
    # fingerprint assembly reads the weights array without re-evaluating
    # the aggregate (an outer-expression reference inside another HOF's
    # lambda would be re-evaluated per element)
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.transform(idx, lambda b: F.element_at(acc, b.cast("int") + 1) + pm1(h, b)),
        lambda acc: F.aggregate(
            idx,
            F.lit(0).cast("long"),
            lambda f, b: f
            + F.when(
                F.element_at(acc, b.cast("int") + 1) >= 0,
                F.pow(F.lit(2.0), b.cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def sql_simhash_portable_fp(n_bits: int = 16) -> str:
    """DuckDB twin of :func:`simhash_portable_fp` — same digit/shift
    arithmetic, generated from the same constants."""
    # Two-part contract: callers materialize sql_simhash_hashes(text) AS
    # hs in a CTE (md5 once per token), then this expression reads every
    # bit off the cached `hs` column.
    parts = []
    for b in range(n_bits):
        pos, shift = b // 4 + 1, 3 - (b % 4)
        w = (
            f"list_sum(list_transform(hs, h -> "
            f"(((instr('{_HEX_DIGITS}', substr(h, {pos}, 1)) - 1) >> {shift}) % 2)"
            f" * 2 - 1))"
        )
        parts.append(f"(CASE WHEN ({w}) >= 0 THEN {1 << b} ELSE 0 END)")
    return "CAST((" + " + ".join(parts) + ") AS BIGINT)"


def sql_simhash_hashes(text: str) -> str:
    """Per-token md5 list for :func:`sql_simhash_portable_fp`'s ``hs``."""
    return f"list_transform(list_distinct(string_split(lower({text}), ' ')), t -> md5(t))"


def simhash_portable_fps(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 16
) -> DataFrame:
    """(doc_id, fp) portable-SimHash fingerprints, the distributed shape:
    explode distinct tokens, md5 each token ONCE as a plain column, then
    n_bits integer bit-sums as grouped aggregates. Every stage is
    whole-stage-codegen arithmetic with map-side partial aggregation —
    unlike the Column form (:func:`simhash_portable_fp`, kept for
    expression contexts), whose interpreted array-accumulator pays
    O(tokens × n_bits) array rebuilds per row. Bit values are identical.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))).alias("t"),
    )
    hashed = toks.select("doc_id", F.md5(F.col("t").cast("binary")).alias("h"))

    def pm1(b: int):
        pos, shift = b // 4 + 1, 3 - (b % 4)
        return (
            (
                F.shiftright(
                    F.conv(F.substring("h", pos, 1), 16, 10).cast("int"), shift
                )
                % 2
            )
            * 2
            - 1
        )

    sums = hashed.groupBy("doc_id").agg(
        *[F.sum(pm1(b)).alias(f"w{b}") for b in range(n_bits)]
    )
    fp = F.lit(0).cast("long")
    for b in range(n_bits):
        fp = fp + F.when(F.col(f"w{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sums.select("doc_id", fp.alias("fp"))


def simhash_portable_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by portable-SimHash hamming distance <= max_hamming,
    candidate-blocked by the pigeonhole principle: split the fingerprint
    into ``bands`` equal bit-bands; any pair within hamming k < bands
    must agree exactly on >= 1 band, so candidates come from an
    equi-join on (band_id, band_bits) — never all-pairs. Verification
    is bit_count(xor) — exact, engine-portable.

    Output: (id_a, id_b, hamming).
    """
    bits_per_band = n_bits // bands
    if bits_per_band * bands != n_bits:
        raise ValueError(f"bands={bands} must divide n_bits={n_bits}")
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole needs max_hamming < bands, got {max_hamming} >= {bands}"
        )
    # MATERIALIZED once: the banded self-join's two sides would re-run
    # the fingerprint build (token explode + md5 + n_bits aggregates)
    # with zero subplan reuse; fps is one small row per doc.
    fps = simhash_portable_fps(fan_out(df), id_col, text_col, n_bits).localCheckpoint()
    mask = (1 << bits_per_band) - 1
    banded = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        (F.shiftright("fp", b * bits_per_band) % (mask + 1)).alias("bb"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "fp", "x.band_id", "x.bb")
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b_, ["band_id", "bb"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def graph_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph (id_a,
    id_b) — importance/centrality propagation on the near-dup or link
    graph (pick-the-canonical-doc by authority rather than min-id;
    graph-based quality propagation à la Harmonic/TrustRank).

    A BOUNDED unroll (iters is small and fixed) builds one plan of
    chained join+agg rounds — no driver-side loop state, so unlike
    open-ended label propagation this is fully SQL-expressible and
    carries a cross-engine oracle. Each round shuffles on the node
    key (contribution sum) — the same partitioning every round, so AQE
    reuses the exchange layout. Dangling nodes keep the (1−d)/N floor.

    The EDGE LIST is materialized once up front: the unrolled plan
    references it 2x per round (contribution join + degree) and round
    k's ranks re-expand round k-1's whole subtree, so an expensive
    producing plan (the near-dup pair join) would re-execute ~2·iters
    times lazily (A/B at sf0.1: 2.79 s lazy vs 1.81 s checkpointed for
    llm_graph_rank). Values are unchanged — the oracle stays the same
    declarative round unroll.
    """
    edges = edges.localCheckpoint()
    und = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).union(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = (
        nodes.select(F.col(node_col).alias("node"))
        .crossJoin(F.broadcast(n_df))
        .select("node", "n", (F.lit(1.0) / F.col("n")).alias("r"))
    )
    for _ in range(iters):
        contrib = (
            und.join(ranks.select(F.col("node").alias("u"), "r"), "u")
            .join(deg, "u")
            .select(F.col("v").alias("node"), (F.col("r") / F.col("deg")).alias("c"))
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            ranks.select("node", "n")
            .join(summed, "node", "left")
            .select(
                "node",
                "n",
                (
                    (1 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select("node", "r")
