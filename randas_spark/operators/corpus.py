"""Corpus-curation operators for training-data pipelines: per-domain
quotas, source-mixture sampling, vocabulary building, and corpus-level
boilerplate detection.

The reference has none of these (its surface stops at single-frame ops,
SURVEY.md §2.12); they are beyond-reference operators a 100 TB corpus
build needs between raw crawl and tokenizer:

- :func:`domain_quota_cap` — at most ``cap`` docs per domain, selected
  by md5(id) order so the kept set is deterministic across runs,
  partitionings, and engines (same contract as operators/sampling.py).
- :func:`mixture_sample` — per-source Bernoulli rates (the "data
  mixture" step that rebalances crawl/books/code/wiki proportions),
  again via the engine-portable md5 threshold.
- :func:`vocab_build` — top-N token vocabulary with dense ids.
- :func:`boilerplate_coverage` — corpus-frequent k-gram detection and
  per-doc boilerplate coverage (the CCNet/C4-style template filter).

Scale notes:
- domain_quota_cap ranks inside a window PARTITIONED by domain — never
  global. A single hot domain (half the crawl is one host) serializes
  its own rank; at web scale pre-thin hot domains first with
  ``hash_sample(rate ≈ 2·cap / est_count)`` from an approximate
  per-domain count, then rank exactly — the cheap pass bounds the
  window input without changing the selected set's determinism.
- mixture_sample is a pure scan-side filter (codegen'd md5 + compare),
  no shuffle at all.
- vocab_build aggregates token counts with map-side partial aggregation
  and takes the top-N via ``orderBy().limit()`` — Spark plans
  TakeOrderedAndProject (per-partition heap + driver merge), not a
  global sort; the dense-id window runs on the N-row result only.
- boilerplate_coverage shuffles shingles once on the shingle key; the
  doc-frequency agg and the boilerplate semi-join share that
  partitioning. The frequent-shingle set is NOT assumed broadcastable
  (at 100 TB it can be billions of rows) — the semi-join is a shuffle
  join on the same key, and Spark's AQE will downgrade it to broadcast
  when the corpus makes it small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from randas_spark.functions.text import shingles, tokens
from randas_spark.operators.sampling import _hash_below, _md5_hex


def domain_quota_cap(df: DataFrame, domain_col: str, id_col: str, cap: int) -> DataFrame:
    """Keep at most ``cap`` rows per domain, md5(id)-ordered.

    The md5 order is a deterministic shuffle within the domain, so the
    kept subset is stable across engines and re-runs — the property a
    resumable 100 TB curation run needs. Adds the within-domain rank as
    ``rk`` (1-based, dense by construction of row_number).
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    w = Window.partitionBy(domain_col).orderBy(_md5_hex(F.col(id_col)), F.col(id_col))
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= cap)


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float,
) -> DataFrame:
    """Per-source Bernoulli sampling: source s keeps ``rates.get(s,
    default_rate)`` of its rows via the deterministic md5(id) threshold.

    This is the data-mixture step: given target proportions for
    crawl/books/code/wiki, the caller converts them to per-source rates
    and this filter realizes them reproducibly. Scan-side only — no
    shuffle, no RNG state, membership recomputable from the key alone.
    """
    for src, rate in {**rates, "<default>": default_rate}.items():
        if not (0.0 <= rate <= 1.0):
            raise ValueError(f"rate for {src!r} must be in [0,1], got {rate}")
    keep = _hash_below(F.col(id_col), default_rate)
    for src in sorted(rates):
        keep = F.when(F.col(domain_col) == src, _hash_below(F.col(id_col), rates[src])).otherwise(
            keep
        )
    return df.filter(keep)


def sql_mixture_keep(domain_expr: str, id_expr: str, rates: dict[str, float], default_rate: float) -> str:
    """DuckDB twin of mixture_sample's keep predicate (same thresholds,
    same 8-hex-digit resolution as operators/sampling._hash_below)."""

    def below(rate: float) -> str:
        if rate >= 1.0:
            return "TRUE"
        return f"md5(CAST({id_expr} AS VARCHAR)) < '{format(int(rate * 16**8), '08x')}'"

    if not rates:
        # CASE with zero WHEN arms is a parse error — the twin of
        # mixture_sample's everything-default behavior is just the
        # default predicate
        return below(default_rate)
    cases = " ".join(
        f"WHEN {domain_expr} = '{src}' THEN {below(rates[src])}" for src in sorted(rates)
    )
    return f"CASE {cases} ELSE {below(default_rate)} END"


def vocab_build(df: DataFrame, text_col: str, top_n: int) -> DataFrame:
    """Top-N token vocabulary: (token, cnt, token_id) with dense ids
    assigned in (cnt desc, token) order — the tokenizer-training /
    feature-hashing precursor.

    Counts aggregate with map-side combine; the top-N is
    ``orderBy().limit()`` (TakeOrderedAndProject — parallel heaps, no
    global sort); the id window ranks only the N surviving rows.
    """
    if top_n <= 0:
        raise ValueError(f"top_n must be positive, got {top_n}")
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), "token").limit(top_n)
    w = Window.orderBy(F.desc("cnt"), "token")
    return top.withColumn("token_id", F.row_number().over(w).cast("long"))


def temperature_mixture_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Temperature-scaled mixture sampling (the mT5/Pile α-sampling
    trick): target mixture q_s ∝ n_s^α flattens source imbalance
    (α=1 keeps natural proportions, α=0 makes them uniform); per-source
    keep-rates realize an expected ``target_frac`` of the corpus at
    that mixture, capped at 1.

    Fully in-engine — unlike :func:`mixture_sample` the rates are
    COMPUTED from the per-source counts (one tiny agg, broadcast back),
    so the operator rebalances whatever the data is. Membership stays a
    deterministic pure function of the id: rates are quantized to 1e-6
    (floor — absorbs cross-libm pow() ulp) and compared against
    md5(id)'s 32-bit value mod 1e6, identically replayable on any
    engine. Scan-side otherwise: no shuffle of the corpus, no RNG
    state.
    """
    counts = df.groupBy(F.col(domain_col).alias("__src__")).agg(
        F.count(F.lit(1)).cast("double").alias("__n__")
    )
    tot = counts.agg(
        F.sum(F.pow(F.col("__n__"), F.lit(alpha))).alias("__z__"),
        F.sum("__n__").alias("__total__"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "__src__",
        F.floor(
            F.least(
                F.lit(1.0),
                (F.col("__total__") * F.lit(target_frac))
                * (F.pow(F.col("__n__"), F.lit(alpha)) / F.col("__z__"))
                / F.col("__n__"),
            )
            * F.lit(1_000_000)
        )
        .cast("long")
        .alias("__thr__"),
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8), 16, 10
        ).cast("long")
        % 1_000_000
    )
    # null-safe join: rows with a NULL domain still counted toward
    # __total__/__z__ above, so dropping them via the null-propagating
    # equi-join would undershoot target_frac and make NULL-source docs
    # unsampleable (mixture_sample gives them the default rate)
    return (
        df.join(F.broadcast(rates), df[domain_col].eqNullSafe(rates["__src__"]))
        .filter(h < F.col("__thr__"))
        .drop("__src__", "__thr__")
    )


def vocab_apply(df: DataFrame, id_col: str, text_col: str, vocab: DataFrame) -> DataFrame:
    """Encode documents against a built vocabulary: per doc, total token
    count, out-of-vocabulary count/rate, and an order-independent
    token-id checksum (sum of matched ids) — the vocabulary-application
    stage of corpus prep, and the signal (OOV rate) that decides whether
    the vocab needs retraining on drifted data.

    Scale: the vocab is top-N rows → BROADCAST into the token explode;
    the only shuffle is the per-doc aggregation, with map-side combine.
    Hot tokens are harmless (broadcast hash lookup, no skewed join key).
    Docs with zero tokens produce no row (nothing to encode) — same on
    both engines by construction.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    joined = toks.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    )
    n_oov = F.sum(F.when(F.col("token_id").isNull(), 1).otherwise(0))
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        n_oov.cast("long").alias("n_oov"),
        F.sum(F.coalesce(F.col("token_id"), F.lit(0))).cast("long").alias("ids_checksum"),
    )


def boilerplate_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_df: int = 2,
    drop_threshold: float = 0.5,
) -> DataFrame:
    """Per-doc boilerplate coverage: the fraction of a doc's distinct
    k-gram shingles that are corpus-frequent (appearing in >= ``min_df``
    docs), plus a drop flag at ``drop_threshold`` — the template/
    boilerplate filter (headers, footers, cookie banners) that exact
    and near dedup both miss because the surrounding text differs.

    Output: (doc_id, n_shingles, n_boiler, coverage, drop).
    """
    if min_df < 2:
        raise ValueError(f"min_df < 2 would mark every shingle boilerplate, got {min_df}")
    # ONE shingling pass. shingles() is array_distinct per doc, so the
    # per-shingle row count IS its document frequency — computed as an
    # unordered count window over the shingle key (one hash exchange,
    # constant per-partition state), then rolled up per doc. The prior
    # form shingled the corpus three times (df-agg input, semi-join
    # probe, per-doc sizes) and paid two joins; shingle construction
    # (slice + concat_ws per position) dominates, so passes are the
    # cost. Measured at sf0.1: 5.8 s -> ~2 s. A corpus-wide boilerplate
    # shingle is a hot window key; count-only state keeps that safe, and
    # the doc-side rollup restores per-doc parallelism immediately.
    sh = df.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles(F.col(text_col), k)).alias("s")
    )
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("s"))
    per = sh.withColumn("boiler", (dfreq >= min_df).cast("long"))
    cov = F.col("n_boiler").cast("double") / F.col("n_shingles")
    return (
        per.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("boiler").cast("long").alias("n_boiler"),
        )
        .withColumn("coverage", cov)
        .withColumn("drop", cov >= drop_threshold)
    )


def bpe_learn(
    df: DataFrame,
    text_col: str,
    n_merges: int = 16,
) -> DataFrame:
    """Distributed BPE merge-rule learning (Sennrich et al. 2016): the
    greedy merge sequence over a word-frequency table — the tokenizer-
    training stage between vocab counting and vocab application
    (``vocab_build`` counts whole tokens; this LEARNS subword merges).

    Returns the merge table (merge_rank, lhs, rhs, merged, freq) — tiny
    by construction (one row per merge); the corpus-sized work stays
    distributed.

    Shape, Spark-first:

    - ONE distributed corpus pass builds the distinct-WORD table with
      counts (the classic trick: pair statistics over words x frequency,
      never over running text — the iteration state is |vocab| rows, not
      |corpus|). This scan+agg is the only data-sized stage.
    - The greedy merge loop itself runs as ONE Arrow kernel task
      (repartition(1) + mapInPandas) over that Heaps-bounded table: per
      round, count adjacent symbol pairs weighted by word count, pick
      the max with the deterministic (freq desc, lhs, rhs) tie-break,
      and apply the merge leftmost-non-overlapping (including the a==b
      self-overlap case) — the exact sequence the retired per-round
      Spark formulation produced, pinned by
      test_bpe_learn_matches_python_reference.

    Why a kernel and not n_merges Spark rounds: each round is a merge
    DECISION over the |vocab| table — inherently sequential and tiny —
    so the distributed form paid one full job (plan + schedule + a
    LIMIT-1 collect) per round plus periodic localCheckpoint
    materializations, ~12 driver round-trips for a 12-rule table
    (optimization guide §1.2: fix the algorithm's pass structure first;
    §4.2: hand the whole batch to native code). The kernel makes the
    entire learn ONE job: scan -> agg -> 1-partition exchange of the
    word table -> 12 rows out.

    Scale — the repartition(1) kernel's MEMORY BOUND (r14, VERDICT r13
    order #3): the single Arrow task must hold the ENTIRE distinct-word
    table as a pandas frame (mapInPandas cannot spill a materialized
    batch). Measured cells (pure recount of this word-table definition,
    BASELINE.md r14): sf0.1 = 31 rows / ~1.9 KB task bytes; sf1.0 = 32
    rows / ~2.0 KB; sf10 = 32 rows / ~2.0 KB — flat because the scaled
    fixtures' copy markers split away under [^a-z]+, so the synthetic
    corpora do NOT exercise Heaps growth. The honest 100 TB bound is
    analytic: V(n) ~ K·n^β (Heaps; K~30, β~0.5 for natural text) gives
    ~1.1e8 distinct words at 1.4e13 tokens — ~60 B/row in a pandas
    object frame => ~6-10 GB in ONE task, past any sane task budget.
    Before running this kernel at 100 TB, prune the word table exactly:
    a pair's total frequency is a sum over words containing it, so
    dropping all count-1 words changes any pair count by at most the
    number of count-1 words containing that pair — safe ONLY when the
    selected merge's margin over the runner-up exceeds that mass, which
    must be checked per round (no static proof exists: ties are decided
    lexicographically). The shippable alternative is two-level: per-
    shard partial pair counts (distributed agg) -> driver-side merge
    DECISION per round — one distributed agg per merge instead of one
    kernel, the pre-r13 shape, linear and spill-safe. The kernel is the
    right shape while the word table fits a task (<~1 GB, i.e. up to
    ~1e7 distinct words); swap to the two-level form past that.
    The corpus scan is distributed and happens exactly once either way.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    words = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def _greedy_merges(pdfs):
        import pandas as pd

        cnts: list[int] = []
        states: list[tuple] = []
        for pdf in pdfs:
            cnts.extend(int(c) for c in pdf["cnt"].tolist())
            states.extend(tuple(w) for w in pdf["word"].tolist())
        out_rank: list[int] = []
        out_lhs: list[str] = []
        out_rhs: list[str] = []
        out_merged: list[str] = []
        out_freq: list[int] = []
        # only multi-symbol words can ever contribute a pair again
        live = [i for i, s in enumerate(states) if len(s) >= 2]
        for k in range(1, n_merges + 1):
            pairs: dict = {}
            for i in live:
                s, c = states[i], cnts[i]
                for j in range(len(s) - 1):
                    p = (s[j], s[j + 1])
                    pairs[p] = pairs.get(p, 0) + c
            if not pairs:
                break
            (a, b), freq = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out_rank.append(k)
            out_lhs.append(a)
            out_rhs.append(b)
            out_merged.append(a + b)
            out_freq.append(freq)
            nxt_live = []
            for i in live:
                s = states[i]
                # leftmost non-overlapping application (a==b safe)
                j, hit = 0, False
                while j < len(s) - 1:
                    if s[j] == a and s[j + 1] == b:
                        hit = True
                        break
                    j += 1
                if hit:
                    merged, j = [], 0
                    while j < len(s):
                        if j + 1 < len(s) and s[j] == a and s[j + 1] == b:
                            merged.append(a + b)
                            j += 2
                        else:
                            merged.append(s[j])
                            j += 1
                    s = tuple(merged)
                    states[i] = s
                if len(s) >= 2:
                    nxt_live.append(i)
            live = nxt_live
        if out_rank:
            yield pd.DataFrame(
                {
                    "merge_rank": pd.Series(out_rank, dtype="int64"),
                    "lhs": out_lhs,
                    "rhs": out_rhs,
                    "merged": out_merged,
                    "freq": pd.Series(out_freq, dtype="int64"),
                }
            )

    return words.repartition(1).mapInPandas(
        _greedy_merges,
        schema="merge_rank long, lhs string, rhs string, merged string, freq long",
    )


def bpe_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Encode documents against a learned BPE merge list (the output of
    :func:`bpe_learn`, rank-ordered): per document, word count, symbol
    (character) count, post-merge subword count, and the compression
    ratio chars/subwords — the tokenizer-application stage, and the
    number (tokens per document) every training-data budget is priced
    in.

    ENTIRELY scan-side: the merge list is driver-tiny by construction
    (one row per merge rule) and folds into the plan as literals — each
    word is paren-coded and the merges chain as ``replace`` calls in
    rank order inside an array ``transform``; the subword count is ONE
    ``regexp_count`` of the paren openers (merged symbols never contain
    parens — and a single count pass, because Catalyst does no CSE
    inside lambdas, so a len-minus-len formulation would evaluate the
    whole merge chain twice per word). No UDF, no explode, no shuffle —
    a 100 TB corpus is tokenized-counted at scan parallelism;
    single-split local inputs are fanned out to core count first
    (no-op on many-split cluster scans).
    """
    from randas_spark.operators.dedup import fan_out

    ws = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda w: w != ""
    )

    def enc_count(w):
        e = F.regexp_replace(w, "(.)", "($1)")
        for a, b in merges:
            e = F.replace(e, F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
        return F.regexp_count(e, F.lit("\\("))

    zero = F.lit(0).cast("long")
    base = fan_out(df.select(F.col(id_col), ws.alias("__ws__")))
    ws_c = F.col("__ws__")
    n_sub = F.aggregate(ws_c, zero, lambda acc, w: acc + enc_count(w).cast("long"))
    n_chars = F.aggregate(ws_c, zero, lambda acc, w: acc + F.length(w).cast("long"))
    return base.select(
        F.col(id_col),
        F.size(ws_c).cast("long").alias("n_words"),
        n_chars.alias("n_chars"),
        n_sub.alias("n_subwords"),
    )


def quantile_bands(df: DataFrame, score_col: str, n_bands: int) -> DataFrame:
    """Attach a 1..n_bands quantile band over ``score_col``: band =
    1 + floor(n_bands * |{rows with score < mine}| / N). Ties share a
    band, so the assignment is partitioning-invariant, engine-portable,
    and (unlike ntile) never splits equal scores across bands.

    NULL scores get a NULL band (left join back), are excluded from N,
    and never shift other rows' cumulative counts — without this an
    equi-join would silently DROP null-score rows while still counting
    them in N and (nulls-first) in every cum_before, skewing all bands.

    Scale: avoids both ntile's single-partition global window and
    percent_rank — cumulative counts run over the collapsed
    distinct-score table (≪ corpus when scores are discrete/bounded,
    e.g. lengths or integer quality grades), which broadcasts back onto
    the corpus. The one serial window is over that collapsed table only.
    """
    scored = df.filter(F.col(score_col).isNotNull())
    cb = scored.groupBy(F.col(score_col).alias("__s__")).agg(
        F.count(F.lit(1)).alias("__c__")
    )
    w = Window.orderBy("__s__").rowsBetween(Window.unboundedPreceding, -1)
    total = scored.select(F.count(F.lit(1)).alias("__n__"))
    bands = (
        cb.select(
            "__s__", F.coalesce(F.sum("__c__").over(w), F.lit(0)).alias("__cb__")
        )
        .crossJoin(F.broadcast(total))
        .select(
            "__s__",
            (
                F.lit(1)
                + F.floor(F.lit(float(n_bands)) * F.col("__cb__") / F.col("__n__"))
            ).cast("long").alias("band"),
        )
    )
    return df.join(
        F.broadcast(bands), df[score_col] == bands["__s__"], "left"
    ).select(*[df[c] for c in df.columns], "band")


def sequence_pack(
    df: DataFrame,
    id_col: str,
    ntok_col: str,
    pack_len: int,
    n_parts: int = 32,
    base_offset: int = 0,
) -> DataFrame:
    """Concat-and-chop sequence packing — the GPT-style training-batch
    layout: order documents deterministically (md5 interleave, the
    repo's standard engine-portable shuffle), concatenate their token
    streams, and cut the stream every ``pack_len`` tokens. Documents may
    span cuts; the output is one row per (document, pack) SEGMENT — the
    shard map a training loader actually consumes:

    - ``pack_id``       — 0-based pack (context window) index
    - ``doc_start``     — the doc's global token-stream offset
    - ``seg_start``     — segment start WITHIN the doc (0 for its first)
    - ``seg_len``       — tokens of this doc inside this pack (>= 1)
    - ``pack_offset``   — where the segment begins inside the pack

    Packing is a pure function of the exclusive prefix sum of token
    counts under the interleave order: a doc starting at global offset
    ``s`` with ``n`` tokens spans packs ``s // L .. (s+n-1) // L``, and
    each segment's bounds are modular arithmetic on (s, n, L) — all
    int64, exact in both engines. Zero-token docs are excluded (they
    occupy no stream positions).

    Scale: the prefix sum is operators/rank.distributed_prefix_sum (two
    narrow shuffles + a broadcast n_parts-row offset table — NO
    single-task global window), the explode emits only
    ceil(n / L) + 1 segments per doc, and everything else is scan-side
    codegen. Every pack except the last is exactly full by
    construction — the padding-waste question packing exists to answer
    is 'how partial is the tail pack', which falls out of the segment
    rows for free.

    ``base_offset`` shifts the whole stream: pass the running token
    total of previously-packed corpus (a ledger scalar) to pack a NEW
    ingestion batch that CONTINUES the global pack sequence — the prior
    tail pack gets topped up, ids keep counting, and re-packing the
    accumulated corpus per batch (lifetime-quadratic) is never needed.
    """
    from randas_spark.operators.rank import distributed_prefix_sum

    if pack_len <= 0:
        raise ValueError(f"sequence_pack: pack_len must be positive, got {pack_len}")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(ntok_col).cast("long").alias("n_tok"),
        F.md5(F.col(id_col).cast("string")).alias("__ord__"),
    ).filter(F.col("n_tok") > 0)
    started = distributed_prefix_sum(
        base,
        [F.col("__ord__"), F.col("doc_id")],
        "n_tok",
        out_col="doc_start",
        n_parts=n_parts,
    )
    if base_offset:
        started = started.withColumn(
            "doc_start", F.col("doc_start") + F.lit(int(base_offset))
        )
    return _chop_segments(started, pack_len)


def sequence_pack_by_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    ntok_col: str,
    pack_len: int,
    n_parts: int = 32,
    interleave: bool = True,
) -> DataFrame:
    """Per-group concat-and-chop packing: every group (source, domain,
    language) gets its OWN pack sequence — the layout when training
    shards must not mix sources (curriculum stages, per-language shards,
    licensing boundaries). Same segment contract as
    :func:`sequence_pack`, plus the ``group_col`` column.

    Scale shape: within-group offsets come from ONE GLOBAL distributed
    prefix sum under the group-major order (group, interleave, id)
    minus each group's broadcast starting offset (per-group totals are
    a tiny table; its cumulative window is over |groups| rows). A hot
    group therefore never funnels into a single window task — the
    group-partitioned window formulation (the oracle's SPEC shape)
    would serialize half the corpus when one source dominates, which is
    exactly the crawl reality.

    ``interleave=False`` orders by plain ``id_col`` instead of the md5
    shuffle — the arrival-order twin the streaming pack kernel
    (streaming/engine.pack_state) replays against.
    """
    from randas_spark.operators.rank import distributed_prefix_sum

    if pack_len <= 0:
        raise ValueError(f"sequence_pack_by_group: pack_len must be positive, got {pack_len}")
    # interleave=False must order NUMERICALLY by id (a string cast would
    # put "20" before "3"); a constant __ord__ defers entirely to the
    # numeric doc_id tiebreak in the prefix-sum order
    ordc = (
        F.md5(F.col(id_col).cast("string")) if interleave else F.lit("")
    )
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("doc_id"),
        F.col(ntok_col).cast("long").alias("n_tok"),
        ordc.alias("__ord__"),
    ).filter(F.col("n_tok") > 0)
    g = distributed_prefix_sum(
        base,
        [F.col("grp"), F.col("__ord__"), F.col("doc_id")],
        "n_tok",
        out_col="gprior",
        n_parts=n_parts,
    )
    wg = Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        base.groupBy("grp")
        .agg(F.sum("n_tok").alias("__tot__"))
        .withColumn("goff", F.coalesce(F.sum("__tot__").over(wg), F.lit(0)))
        .select("grp", "goff")
    )
    started = g.join(F.broadcast(offsets), "grp").select(
        "grp",
        "doc_id",
        "n_tok",
        (F.col("gprior") - F.col("goff")).cast("long").alias("doc_start"),
    )
    return _chop_segments(started, pack_len, group_col)


def _chop_segments(
    started: DataFrame, pack_len: int, group_col: str | None = None
) -> DataFrame:
    """The chop shared by both packers: explode each doc of ``started``
    (``[grp,] doc_id, n_tok, doc_start``) into the packs it spans and
    cut its segment bounds g0/g1 by int64 modular arithmetic; ``grp``
    leaves as ``group_col``. :func:`sql_sequence_pack` is the DuckDB
    twin."""
    L = F.lit(int(pack_len))
    lead = [] if group_col is None else ["grp"]
    segs = started.select(
        *lead,
        "doc_id",
        "n_tok",
        "doc_start",
        F.explode(
            F.sequence(
                # integral DIV, not double '/': the double quotient is
                # exact only up to 2^53, and for non-power-of-two L it
                # can round across an integer near that edge — DIV is
                # the int64 floordiv that matches the oracle's '//' for
                # every (doc_start, pack_len)
                F.expr(f"doc_start DIV {int(pack_len)}"),
                F.expr(f"(doc_start + n_tok - 1) DIV {int(pack_len)}"),
            )
        ).alias("pack_id"),
    )
    g0 = F.greatest(F.col("doc_start"), F.col("pack_id") * L)
    g1 = F.least(F.col("doc_start") + F.col("n_tok"), (F.col("pack_id") + 1) * L)
    return segs.select(
        *[F.col(c).alias(group_col) for c in lead],
        "doc_id",
        "pack_id",
        "doc_start",
        (g0 - F.col("doc_start")).alias("seg_start"),
        (g1 - g0).alias("seg_len"),
        (g0 - F.col("pack_id") * L).alias("pack_offset"),
    )


def sql_sequence_pack(
    table: str,
    id_col: str,
    n_tok: str,
    pack_len: int,
    group_col: str | None = None,
    batch: str | None = None,
    base: str | None = None,
) -> str:
    """DuckDB twin of :func:`sequence_pack` / :func:`sequence_pack_by_group`
    as CTEs for a caller's ``WITH``: ``d`` (``n_tok`` an SQL expression
    over ``table``), ``nz`` (non-empty docs, narrowed by the ``batch``
    predicate), ``st`` (each doc's exclusive prefix-sum ``doc_start``
    under the md5 interleave, partitioned by ``group_col``, plus the
    ``base`` column of the optional ``base`` CTE ``b``, which may read
    ``d``) and ``segs`` (the Spark output's columns). The window is the
    SPEC, not the Spark plan."""
    lead = "" if group_col is None else f"{group_col}, "
    part = "" if group_col is None else f"PARTITION BY {group_col} "
    b_cte = "" if base is None else f"{base}, "
    b_col = "" if base is None else "(SELECT base FROM b) + "
    keep = "" if batch is None else f" AND {batch}"
    L = int(pack_len)
    return f"""d AS (
        SELECT {lead}{id_col} AS doc_id, {n_tok} AS n_tok,
               md5(CAST({id_col} AS VARCHAR)) AS ord
        FROM {table}
    ), {b_cte}nz AS (SELECT * FROM d WHERE n_tok > 0{keep}),
    st AS (
        SELECT {lead}doc_id, n_tok,
               {b_col}CAST(coalesce(sum(n_tok) OVER (
                   {part}ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS doc_start
        FROM nz
    ), segs AS (
        SELECT {lead}doc_id, pack_id, doc_start,
               greatest(doc_start, pack_id * {L}) - doc_start AS seg_start,
               least(doc_start + n_tok, (pack_id + 1) * {L})
                   - greatest(doc_start, pack_id * {L}) AS seg_len,
               greatest(doc_start, pack_id * {L}) - pack_id * {L} AS pack_offset
        FROM st, UNNEST(generate_series(
                     doc_start // {L},
                     (doc_start + n_tok - 1) // {L})) AS u(pack_id)
    )"""
