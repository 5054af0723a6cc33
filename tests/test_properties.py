"""Property-based tests (hypothesis) — the upgrade over the reference's
golden-value-only strategy (SURVEY.md §5). Pure-function properties run
per-example; Spark-backed properties keep max_examples small (one local
session, ~0.3s per materialization).
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


# -- query literal ladder (dataframe.rs:835-842 parity) ---------------------


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_parse_query_int_wins(n):
    from randas_spark.frame import parse_query

    col, lit = parse_query(f"x == {n}")
    assert col == "x" and lit == n and isinstance(lit, int)


@given(
    st.floats(allow_nan=False, allow_infinity=False).filter(
        lambda f: f != int(f) or abs(f) > 2**63
    )
)
def test_parse_query_float_when_not_int(f):
    from randas_spark.frame import parse_query

    _, lit = parse_query(f"x == {f!r}")
    assert isinstance(lit, float) and lit == pytest.approx(f)


@given(st.text(alphabet=st.characters(codec="ascii", exclude_characters="=\x00"), min_size=1))
def test_parse_query_fallback_is_string_or_number(s):
    """Whatever the literal text, the ladder lands on exactly one of
    int/float/str and never raises for a well-formed 'col == lit'."""
    from randas_spark.frame import parse_query

    _, lit = parse_query(f"x == {s}")
    assert isinstance(lit, (int, float, str))


def test_parse_query_no_eq_raises():
    from randas_spark.frame import parse_query

    with pytest.raises(ValueError):
        parse_query("col != 3")


# -- fround / sql_fround cross-engine agreement -----------------------------


@given(
    st.floats(min_value=-1e12, max_value=1e12, allow_nan=False),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=60, deadline=None)
@example(x=-900719925474.4375, digits=3)  # regression: decimal-literal parse trap
def test_fround_matches_duckdb(x, digits):
    """The engine-portable rounding formula must produce bit-identical
    results in Python and DuckDB whenever |x|·10^d < 2^53 — this is the
    invariant the oracle-hash discipline rests on. (Beyond 2^53 the
    engines legitimately diverge: Spark/Python floor() produces an exact
    int64 while DuckDB stays in double — documented on fround; headline
    aggregates stay orders of magnitude below the bound.)

    The input must reach DuckDB as a NATIVE double (parameter binding),
    the same way parquet doubles reach oracle queries. Embedding repr(x)
    as a SQL literal routes through DECIMAL(38,n) typing, whose int128
    mantissa can exceed 2^53 and double-round on the DECIMAL→DOUBLE cast
    (e.g. -900719925474.4375 parses to ...4376) — a divergence of the
    test channel, not of fround: oracle columns are born DOUBLE and
    never take the decimal-literal path."""
    from randas_spark.queries import sql_fround

    scale = 10**digits
    if abs(x) * scale >= 2**53:
        return
    py = math.floor(x * scale + 0.5) / scale
    dd = duckdb.execute(
        f"SELECT {sql_fround('CAST(? AS DOUBLE)', digits)} AS v", [x]
    ).fetchone()[0]
    assert py == dd or (math.isnan(py) and math.isnan(dd))


# -- minhash permutation constants -------------------------------------------


@given(st.integers(min_value=1, max_value=256))
def test_perm_constants_are_odd_and_stable(num_perm):
    """The portable permutation family: multipliers odd, derivation
    deterministic and prefix-stable, and a·h + b BIGINT-safe for any
    32-bit shingle hash h — no wraparound on either engine."""
    from randas_spark.operators.dedup import MINHASH_MOD, minhash_perm_consts

    consts = minhash_perm_consts(num_perm)
    assert len(consts) == num_perm
    assert consts == minhash_perm_consts(num_perm)
    assert consts == minhash_perm_consts(num_perm + 1)[:num_perm]
    for a, b in consts:
        assert a % 2 == 1
        assert 0 < a < 2**30 and 0 <= b < 2**30
        assert a * (2**32 - 1) + b < 2**63
    assert MINHASH_MOD < 2**32


# -- xlsx codec round trip ---------------------------------------------------


_XLSX_CELL = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    # full utf-8 range incl. control chars and noncharacters — the codec's
    # ST_Xstring _xHHHH_ escaping must make any encodable string survive
    st.text(max_size=40, alphabet=st.characters(codec="utf-8")),
)


@given(
    st.integers(min_value=1, max_value=4),
    st.lists(st.lists(_XLSX_CELL, min_size=1, max_size=4), min_size=0, max_size=6),
)
@settings(max_examples=40, deadline=None)
@example(
    n_cols=1,
    raw_rows=[['\r']],
).via('discovered failure')
def test_xlsx_round_trip_property(n_cols, raw_rows):
    """write_xlsx → read_xlsx preserves every cell up to the documented
    normalizations: empty string → blank (None), integral floats may
    read back as int (numeric value equality is what's promised)."""
    import os
    import tempfile

    from randas_spark.io.xlsx import read_xlsx, write_xlsx

    cols = [f"c{i}" for i in range(n_cols)]
    rows = [tuple((r[i] if i < len(r) else None) for i in range(n_cols)) for r in raw_rows]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t.xlsx")
        write_xlsx(path, cols, rows)
        got_cols, got_rows = read_xlsx(path)
    assert got_cols == cols
    assert len(got_rows) == len(rows)
    for want_row, got_row in zip(rows, got_rows):
        for want, got in zip(want_row, got_row):
            if want is None or want == "":
                assert got is None
            elif isinstance(want, bool):
                assert got is want
            elif isinstance(want, (int, float)):
                assert isinstance(got, (int, float)) and not isinstance(got, bool)
                assert float(got) == float(want)
            else:
                assert got == want


# -- Spark-backed frame properties (bounded examples) ------------------------


@st.composite
def small_frame_data(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    ints = draw(st.lists(st.none() | st.integers(-1000, 1000), min_size=n, max_size=n))
    floats = draw(
        st.lists(
            st.none() | st.floats(-1e6, 1e6, allow_nan=False), min_size=n, max_size=n
        )
    )
    return ints, floats


@given(small_frame_data())
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dropna_keeps_exactly_complete_rows(spark, data):
    from randas_spark.frame import RandasFrame

    ints, floats = data
    f = RandasFrame.new(spark, {"a": ints, "b": floats}, ["a", "b"])
    want = sum(1 for a, b in zip(ints, floats) if a is not None and b is not None)
    assert f.dropna().shape()[0] == want


@given(small_frame_data())
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_concat_rows_is_count_additive(spark, data):
    from randas_spark.frame import RandasFrame

    ints, floats = data
    f = RandasFrame.new(spark, {"a": ints, "b": floats}, ["a", "b"])
    both = f.concat(f, axis=0)
    assert both.shape() == (2 * len(ints), 2)


def _py_qsketch_bins(values):
    """Driver-side ground truth for the binary-mantissa quantile sketch
    (operators/sketches.quantile_sketch_bins) — pure-python recompute."""
    from collections import Counter

    bins = Counter()
    meta = {}
    for v in values:
        cents = int(math.floor(v * 100))
        if cents < 1:
            continue
        msb = cents.bit_length()
        k = max(msb - 5, 0)
        shifted = cents >> k
        key = msb * 32 + shifted
        bins[key] += 1
        meta[key] = (k, shifted)
    return bins, meta


@given(
    st.lists(
        st.floats(min_value=0.011, max_value=1e9, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quantile_sketch_bins_match_python_and_bound_error(spark, values):
    """For arbitrary positive values: (1) the Spark-built bins equal a
    pure-python recompute exactly (integer binning is engine-portable by
    construction), (2) every bin's reconstruction midpoint is within
    half a bin width of any member value (the error-bound invariant the
    quantile estimate inherits)."""
    from randas_spark.operators.sketches import quantile_sketch_bins

    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = {
        r.bin_key: (r.k, r.shifted, r.cnt)
        for r in quantile_sketch_bins(df, "v").collect()
    }
    want_bins, want_meta = _py_qsketch_bins(values)
    assert {k: v[2] for k, v in got.items()} == dict(want_bins)
    for key, (k, shifted, _) in got.items():
        assert (k, shifted) == want_meta[key]
        lo, hi = shifted * 2**k, (shifted + 1) * 2**k
        mid = (shifted + 0.5) * 2**k
        # any member value of this bin lies in [lo, hi) -> midpoint error
        # is at most half the bin width
        assert hi - lo <= max(lo / 16, 1)
        assert lo <= mid < hi


def _py_containment(docs, k=3, threshold=0.5):
    def sh(text):
        toks = [t for t in text.lower().split(" ") if t]
        n = max(len(toks) - (k - 1), 1)
        return {" ".join(toks[i : i + k]) for i in range(n)}

    out = {}
    for ida, ta in docs:
        for idb, tb in docs:
            if ida == idb:
                continue
            a, b = sh(ta), sh(tb)
            if a and len(a & b) / len(a) >= threshold:
                out[(ida, idb)] = len(a & b) / len(a)
    return out


_WORDS = st.sampled_from("alpha beta gamma delta epsilon zeta".split())


@given(
    st.lists(
        st.lists(_WORDS, min_size=3, max_size=12).map(" ".join),
        min_size=2,
        max_size=5,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_containment_pairs_match_python_ground_truth(spark, texts):
    """Directed containment pairs equal a driver-side set recompute for
    arbitrary small corpora (shared tokenizer semantics)."""
    from randas_spark.operators.dedup import containment_pairs

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    want = _py_containment(docs, k=3, threshold=0.5)
    assert set(got) == set(want)
    for pair in got:
        assert abs(got[pair] - want[pair]) < 1e-12


@settings(deadline=None, max_examples=200)
@given(
    word=st.text(alphabet="ab", min_size=1, max_size=7),
    costs=st.fixed_dictionaries(
        {},
        optional={
            p: st.integers(min_value=1, max_value=50)
            for p in ["a", "b", "aa", "ab", "ba", "bb", "aab", "abb", "bab"]
        },
    ),
)
def test_unigram_viterbi_matches_bruteforce(word, costs):
    """Viterbi over a 2-letter alphabet must return exactly the
    brute-force-optimal segmentation under the documented total order
    (total cost, fewer pieces, longer pieces from the END backwards) —
    enumerating ALL segmentations of words up to length 7."""
    from randas_spark.operators.unigram import _viterbi

    # singles always present (the operator's coverage guarantee)
    table = {"a": 7, "b": 9, **costs}

    def all_segs(w):
        if not w:
            yield []
            return
        for k in range(1, min(4, len(w)) + 1):
            piece = w[-k:]
            if piece in table:
                for rest in all_segs(w[:-k]):
                    yield rest + [piece]

    def rank(seg):
        # mirror the DP's comparison: cost, then n_pieces, then at each
        # boundary from the END prefer the LONGER piece (DP's -k applies
        # per position from the tail)
        tail_lens = [-len(p) for p in reversed(seg)]
        return (sum(table[p] for p in seg), len(seg), tail_lens)

    want = min(all_segs(word), key=rank)
    assert _viterbi(word, table, 4) == want


# -- sequence packing (round 9) ----------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),   # doc_id
            st.integers(min_value=0, max_value=40),       # n_tok (0 = dropped)
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=17),               # pack_len
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sequence_pack_invariants_random(spark, docs, pack_len):
    """Packing invariants for ANY corpus and pack length: (1) per-doc
    segment coverage equals its token count (contiguous from 0); (2)
    every pack except the highest is EXACTLY full; (3) pack_offset and
    pack_id are the modular arithmetic of (doc_start + seg_start); (4)
    zero-token docs emit nothing."""
    from randas_spark.operators.corpus import sequence_pack

    df = spark.createDataFrame(docs, "doc_id long, n_tok long")
    segs = sequence_pack(df, "doc_id", "n_tok", pack_len).collect()
    total = sum(n for _, n in docs if n > 0)
    if total == 0:
        assert segs == []
        return
    cover: dict = {}
    fills: dict = {}
    for r in segs:
        assert r.seg_len >= 1
        cover[r.doc_id] = cover.get(r.doc_id, 0) + r.seg_len
        fills[r.pack_id] = fills.get(r.pack_id, 0) + r.seg_len
        g0 = r.doc_start + r.seg_start
        assert r.pack_id == g0 // pack_len
        assert r.pack_offset == g0 % pack_len
    assert cover == {d: n for d, n in docs if n > 0}
    last = max(fills)
    assert all(v == pack_len for p, v in fills.items() if p != last)
    assert fills[last] == total - pack_len * last


# -- pagerank fixed-point (round 9) -------------------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pagerank_matches_python_on_random_graphs(spark, und_edges):
    """pagerank_int == the pure-Python integer recurrence on random
    small symmetrized graphs (the exactness contract that lets an
    iterative graph algorithm carry a value-hash oracle)."""
    from randas_spark.operators.mining import pagerank_int

    # symmetrize as a SET: the strategy may draw both (a,b) and (b,a),
    # and a multigraph edge would inflate outdeg on one side only
    directed = sorted({(a, b) for a, b in und_edges} | {(b, a) for a, b in und_edges})
    edges = spark.createDataFrame(directed, "s long, d long")
    got = {r.node: r.r for r in pagerank_int(edges, "s", "d", rounds=2).collect()}

    SCALE, DN, DD = 10**12, 85, 100
    adj: dict = {}
    for a, b in directed:
        adj.setdefault(a, set()).add(b)
    n = len(adj)
    r = {v: SCALE // n for v in adj}
    base = (SCALE * (DD - DN)) // (DD * n)
    for _ in range(2):
        nxt = {v: base for v in adj}
        for u, nbrs in adj.items():
            c = (r[u] * DN) // (DD * len(nbrs))
            for v in nbrs:
                nxt[v] += c
        r = nxt
    assert got == r


# --------------------------------------------------------------------------
# G.711 + IMA ADPCM codec properties (operators/wav.py, r13)
# --------------------------------------------------------------------------


@given(st.integers(min_value=-32768, max_value=32767))
def test_g711_companding_error_bound(s):
    """Nearest-expansion companding error is bounded by half the widest
    quantization step (512 for both laws) plus the overload clamp
    (μ-law tops out at ±32124, so −32768 projects with error 644)."""
    from randas_spark.operators.wav import (
        alaw_to_linear,
        linear_to_alaw,
        linear_to_mulaw,
        mulaw_to_linear,
    )

    assert abs(mulaw_to_linear(linear_to_mulaw(s)) - s) <= 644
    assert abs(alaw_to_linear(linear_to_alaw(s)) - s) <= 512


@given(st.integers(min_value=-32768, max_value=32766))
def test_g711_companding_is_monotone(s):
    """dec∘enc is a nearest-point projection onto a fixed sorted level
    set, hence monotone nondecreasing."""
    from randas_spark.operators.wav import (
        alaw_to_linear,
        linear_to_alaw,
        linear_to_mulaw,
        mulaw_to_linear,
    )

    assert mulaw_to_linear(linear_to_mulaw(s)) <= mulaw_to_linear(linear_to_mulaw(s + 1))
    assert alaw_to_linear(linear_to_alaw(s)) <= alaw_to_linear(linear_to_alaw(s + 1))


@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=1200),
    st.sampled_from([8000, 16000]),
)
@settings(max_examples=30, deadline=None)
def test_ima_adpcm_total_and_state_invariants(samples, rate):
    """Arbitrary signals: decode(encode(x)) preserves length and sample
    rate, stays in int16 range, and carries every block-leading sample
    verbatim (the per-block predictor header)."""
    from randas_spark.operators.wav import decode_wav, encode_wav_ima_adpcm

    dec, r = decode_wav(encode_wav_ima_adpcm(samples, rate))
    assert r == rate and len(dec) == len(samples)
    assert all(-1.0 <= d <= 32767 / 32768 for d in dec)
    for base in range(0, len(samples), 505):
        lead = max(-32768, min(32767, samples[base]))
        assert int(round(dec[base] * 32768)) == lead
