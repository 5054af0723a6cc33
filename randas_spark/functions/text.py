"""Text-analysis expression builders for LLM data pipelines.

Everything here is a composition of built-in pyspark.sql.functions —
whole-stage-codegen'd, Arrow-free, no Python in the row path — so the same
operator costs the same per-row at sf0.001 and at 100 TB.

Each builder has a DuckDB-SQL twin (``sql_*``) used by the oracle harness;
both sides are written as the *same* arithmetic so results match exactly.

The reference has zero scalar text functions (SURVEY.md §2.10); these are
the beyond-reference operators the north star asks for (language ID,
quality scoring, token counting, fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword lists for the n-gram/stopword language-ID heuristic. Tiny by
# design: language ID at pipeline scale is a lookup against per-language
# marker sets, not a model. Deterministic and SQL-expressible.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "to", "and", "is", "in", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "ce"],
    "zh": ["de5", "shi4", "bu4", "le5", "zai4", "you3", "he2", "ren2", "wo3", "ta1"],
}
#: Fixed priority for argmax ties (ordered comparisons, both engines).
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization, lowercased — array<string>."""
    return F.split(F.lower(text), " ")


def sql_tokens(text: str) -> str:
    return f"string_split(lower({text}), ' ')"


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: each word contributes max(1, ceil(len/4))
    subword pieces (the ~4-chars-per-token rule of thumb). Pure integer
    arithmetic → identical across engines."""
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.greatest(F.lit(1).cast("long"), F.ceil(F.length(w) / 4)),
    )


def sql_token_count_bpe_ish(text: str) -> str:
    # Outer CAST matters: DuckDB's list_sum over BIGINT returns HUGEINT,
    # which pandas surfaces as float64 — flipping the driver's value hash
    # against Spark's int64 even though the numbers are equal.
    return (
        f"CAST(list_sum(list_transform({sql_tokens(text)},"
        f" w -> greatest(1, CAST(ceil(length(w) / 4.0) AS BIGINT)))) AS BIGINT)"
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over the token array."""
    toks = tokens(text)
    out = {}
    for lang, words in LANG_MARKERS.items():
        out[lang] = F.size(F.filter(toks, lambda x: x.isin(*words)))
    return out


def lang_id(text: Column) -> Column:
    """Argmax language with the fixed LANG_PRIORITY tiebreak."""
    s = lang_scores(text)
    expr = F.lit(LANG_PRIORITY[-1])
    # build the CASE chain back-to-front: each lang wins if >= all later ones
    for i in range(len(LANG_PRIORITY) - 2, -1, -1):
        lang = LANG_PRIORITY[i]
        cond = None
        for later in LANG_PRIORITY[i + 1 :]:
            c = s[lang] >= s[later]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def sql_lang_id(text: str) -> str:
    toks = sql_tokens(text)

    def score(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        return f"len(list_filter({toks}, x -> x IN ({words})))"

    scores = {lang: score(lang) for lang in LANG_PRIORITY}
    sql = f"'{LANG_PRIORITY[-1]}'"
    for i in range(len(LANG_PRIORITY) - 2, -1, -1):
        lang = LANG_PRIORITY[i]
        conds = " AND ".join(
            f"({scores[lang]}) >= ({scores[later]})" for later in LANG_PRIORITY[i + 1 :]
        )
        sql = f"CASE WHEN {conds} THEN '{lang}' ELSE {sql} END"
    return sql


def quality_metrics(text: Column) -> dict[str, Column]:
    """Document quality heuristics: length, token count, mean word length,
    stopword ratio, alpha ratio. All double arithmetic in a fixed shape so
    Spark and DuckDB agree bit-for-bit."""
    toks = tokens(text)
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(text).cast("long")
    sw = F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"]))).cast("long")
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("long")
    return {
        "n_chars_m": n_chars,
        "n_tokens": n_tok,
        "mean_word_len": (n_chars - (n_tok - 1)) / n_tok,  # chars minus separators
        "stopword_ratio": sw / n_tok,
        "alpha_ratio": alpha / n_chars,
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish score: favors mid-length docs with sane
    stopword share (the C4/Gopher-style filter shape, simplified)."""
    m = quality_metrics(text)
    len_term = F.least(m["n_tokens"] / 100.0, F.lit(1.0))
    sw_term = F.least(m["stopword_ratio"] * 5.0, F.lit(1.0))
    return len_term * 0.5 + sw_term * 0.3 + m["alpha_ratio"] * 0.2


def sql_quality_parts(text: str) -> dict[str, str]:
    toks = sql_tokens(text)
    en = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    return {
        "n_chars_m": f"CAST(length({text}) AS BIGINT)",
        "n_tokens": f"CAST(len({toks}) AS BIGINT)",
        "mean_word_len": (
            f"(CAST(length({text}) AS BIGINT) - (CAST(len({toks}) AS BIGINT) - 1))"
            f" / CAST(len({toks}) AS DOUBLE)"
        ),
        "stopword_ratio": (
            f"CAST(len(list_filter({toks}, x -> x IN ({en}))) AS BIGINT)"
            f" / CAST(len({toks}) AS DOUBLE)"
        ),
        "alpha_ratio": (
            f"CAST(length(regexp_replace({text}, '[^A-Za-z]', '', 'g')) AS BIGINT)"
            f" / CAST(length({text}) AS DOUBLE)"
        ),
    }


def sql_quality_score(text: str) -> str:
    p = sql_quality_parts(text)
    return (
        f"least(({p['n_tokens']}) / 100.0, 1.0) * 0.5"
        f" + least(({p['stopword_ratio']}) * 5.0, 1.0) * 0.3"
        f" + ({p['alpha_ratio']}) * 0.2"
    )


#: Fixed logistic-regression weights for the quality classifier —
#: (bias, len_term, sw_term, alpha_ratio). Stand-in for a trained
#: fastText/LR quality model: the *serving* path (feature extraction +
#: linear score, all codegen'd scan-side) is what matters at 100 TB;
#: swapping learned weights in changes nothing structurally.
CLASSIFIER_WEIGHTS = (-2.0, 2.5, 1.5, 1.0)


def quality_classifier_prob(text: Column) -> Column:
    """P(high-quality) from a fixed linear model over the quality
    features: sigmoid(w·x). Same feature terms as quality_score, so the
    whole classifier is one codegen'd expression — no model server, no
    UDF, no Python in the row path."""
    w0, w1, w2, w3 = CLASSIFIER_WEIGHTS
    m = quality_metrics(text)
    len_term = F.least(m["n_tokens"] / 100.0, F.lit(1.0))
    sw_term = F.least(m["stopword_ratio"] * 5.0, F.lit(1.0))
    logit = len_term * w1 + sw_term * w2 + m["alpha_ratio"] * w3 + w0
    return F.lit(1.0) / (F.exp(-logit) + 1.0)


def sql_quality_classifier_prob(text: str) -> str:
    """DuckDB twin of :func:`quality_classifier_prob` — identical term
    order so the IEEE op sequence matches bit-for-bit (exp() may differ
    in the last ulp between libm builds; oracles fround to absorb it)."""
    w0, w1, w2, w3 = CLASSIFIER_WEIGHTS
    p = sql_quality_parts(text)
    logit = (
        f"least(({p['n_tokens']}) / 100.0, 1.0) * {w1}"
        f" + least(({p['stopword_ratio']}) * 5.0, 1.0) * {w2}"
        f" + ({p['alpha_ratio']}) * {w3} + {w0}"
    )
    return f"1.0 / (exp(-({logit})) + 1.0)"


#: Characters scrubbed by clean_text: C0 controls, DEL, zero-width
#: (ZWSP/ZWNJ/ZWJ/BOM). Spelled as \xNN / literal chars so the SAME
#: pattern parses identically under Java regex (Spark) and RE2 (DuckDB).
_CLEAN_CLASS = "[\\x00-\\x1f\\x7f​‌‍﻿]"


def clean_text(text: Column) -> Column:
    """Pipeline text cleaning, fully JVM-side: C0-control / DEL /
    zero-width chars → space, whitespace runs collapsed, trimmed. The
    codegen'd prelude to :func:`randas_spark.functions.udfs.nfc_normalize`
    (the only stage needing Python); everything here is regexp built-ins
    so 100 TB pays zero Python cost for the common case."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(text, _CLEAN_CLASS, " "), "\\s+", " ")
    )


def sql_clean_text(text: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace({text}, '{_CLEAN_CLASS}', ' ', 'g'),"
        f" '\\s+', ' ', 'g'))"
    )


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized, lowercased
    text — the exact-dedup key. (Near-dup fingerprints: see
    operators/dedup.py simhash/minhash.)"""
    normalized = F.regexp_replace(F.trim(F.lower(text)), "\\s+", " ")
    return F.md5(normalized.cast("binary"))


def sql_fingerprint(text: str) -> str:
    return f"md5(regexp_replace(trim(lower({text})), '\\s+', ' ', 'g'))"


def kgrams(toks: Column, k: int) -> Column:
    """Every run of k consecutive tokens of ``toks``, in order, each joined
    with ' ' — array<string> of greatest(n-k+1, 1) grams. A document
    shorter than k tokens is one whole-document gram; NULL ``toks`` gives
    NULL. Callers with another short-document rule wrap this in
    ``F.when`` on the token count.

    Cost: k whole-array slices per row — slice j is toks[j+1 .. j+cnt] —
    zipped element-wise, then a lambda that reads only its own struct, so
    the work is linear in the token count. The per-position form
    ``transform(sequence(1, cnt), i -> slice(toks, i, k))`` copies the
    whole array on every call and is quadratic."""
    cnt = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    cols = F.arrays_zip(*[F.slice(toks, j + 1, cnt) for j in range(k)])
    return F.transform(cols, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))


def shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-word shingles — array<string>; the unit set for Jaccard
    similarity. Empty-safe: shorter-than-k docs produce the whole doc as
    one shingle, and NULL text has no shingles (as ``sql_shingles``).
    Built by :func:`kgrams`: k whole-array slices per row, linear in the
    document length."""
    grams = F.array_distinct(kgrams(tokens(text), k))
    return F.coalesce(grams, F.array().cast("array<string>"))


def sql_shingles(text: str, k: int = 5) -> str:
    toks = sql_tokens(text)
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {k - 1}, 1)),"
        f" i -> array_to_string({toks}[i:i+{k - 1}], ' ')))"
    )


def repetition_stats(text: Column, k: int = 3) -> tuple[Column, Column, Column]:
    """(total k-grams, distinct k-grams, duplicate fraction) — the
    Gopher/C4-style repetition quality signal: templated or looping text
    has a high duplicate-n-gram fraction. All codegen array ops."""
    toks = tokens(text)
    total = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    distinct = F.size(shingles(text, k))
    dup_frac = (total - distinct).cast("double") / total
    return total, distinct, dup_frac


def sql_repetition_parts(text: str, k: int = 3) -> tuple[str, str]:
    """DuckDB twins of repetition_stats' total/distinct counts."""
    toks = sql_tokens(text)
    total = f"greatest(len({toks}) - {k - 1}, 1)"
    # reuse sql_shingles — a re-implemented shingle expression here would
    # have to track every future fix to the canonical one by hand
    distinct = f"len({sql_shingles(text, k)})"
    return total, distinct


#: Tracking query parameters stripped by URL canonicalization — the
#: standard crawl-pipeline allowlist (utm_* campaign tags + click ids).
_TRACKING_PARAM_RE = "^(utm_[^=]*|gclid|fbclid|msclkid|ref)="


def url_canonicalize(url: Column) -> Column:
    """Canonical URL for crawl dedup — pure codegen (no UDF, RE2-safe
    patterns so the DuckDB twin is char-identical in behavior):

    - strip the fragment;
    - lowercase scheme://host[:port] (never the path/query);
    - drop default ports (http:80, https:443);
    - remove tracking params (``_TRACKING_PARAM_RE``), keeping the
      remaining params in their original order;
    - strip trailing slashes from the path (example.com/ == example.com).

    Non-absolute-URL strings (no scheme://) pass through with only the
    fragment strip + lowercase — honest fallback, never a throw. The
    standard pre-content-dedup stage: cheaper than any shingle op and
    collapses the big crawl equivalence class (scheme/host case,
    tracking decorations) before text ever gets hashed.
    """
    u1 = F.regexp_replace(url, "#.*", "")
    head = F.regexp_extract(u1, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    rest = F.substring(u1, F.length(head) + 1, F.lit(1 << 30))
    head2 = F.regexp_replace(
        F.regexp_replace(F.lower(head), "^(http://.*):80$", "$1"),
        "^(https://.*):443$",
        "$1",
    )
    path = F.regexp_extract(rest, "^([^?]*)", 1)
    query = F.when(
        F.length(rest) > F.length(path), F.substring(rest, F.length(path) + 2, F.lit(1 << 30))
    ).otherwise(F.lit(""))
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
    )
    q2 = F.array_join(kept, "&")
    path2 = F.regexp_replace(path, "/+$", "")
    canon = F.concat(
        head2, path2, F.when(q2 != "", F.concat(F.lit("?"), q2)).otherwise(F.lit(""))
    )
    return F.when(head == "", F.lower(u1)).otherwise(canon)


def sql_url_canonicalize(url: str) -> str:
    """DuckDB twin of :func:`url_canonicalize` (same steps, RE2 syntax;
    substring/length arithmetic mirrored exactly)."""
    u1 = f"regexp_replace({url}, '#.*', '', 'g')"
    head = f"coalesce(regexp_extract({u1}, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1), '')"
    rest = f"substr({u1}, length({head}) + 1)"
    head2 = (
        f"regexp_replace(regexp_replace(lower({head}), '^(http://.*):80$', '\\1'),"
        f" '^(https://.*):443$', '\\1')"
    )
    path = f"coalesce(regexp_extract({rest}, '^([^?]*)', 1), '')"
    query = (
        f"CASE WHEN length({rest}) > length({path})"
        f" THEN substr({rest}, length({path}) + 2) ELSE '' END"
    )
    kept = (
        f"list_filter(string_split({query}, '&'),"
        f" p -> p <> '' AND NOT regexp_matches(p, '{_TRACKING_PARAM_RE}'))"
    )
    q2 = f"list_aggregate({kept}, 'string_agg', '&')"
    path2 = f"regexp_replace({path}, '/+$', '')"
    canon = (
        f"{head2} || {path2} ||"
        f" CASE WHEN coalesce({q2}, '') <> '' THEN '?' || {q2} ELSE '' END"
    )
    return f"CASE WHEN {head} = '' THEN lower({u1}) ELSE {canon} END"
