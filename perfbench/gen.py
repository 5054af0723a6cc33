"""Seeded input generator for the benchmark workloads.

Every table is synthesised from the workload seed with the schema and
value domains of the testdata described in TESTDATA.md: a TPC-H-ish star
schema, an ``events`` click stream, a ``documents`` corpus and unit-norm
``embeddings``. Nothing is read from outside the checkout, so the same
seed gives byte-identical inputs on any machine.

A base copy at scale factor ``sf`` is built first and then replicated
``k`` times under the rules of ``tools/make_scaled_sf.py`` (whose column
map and key stride are imported, not restated):

- key columns of each copy are offset by ``copy * KEY_STRIDE`` plus a
  seed-picked offset, so every copy's lineitems join that same copy's
  orders, parts and suppliers and copies never collide;
- ``region``/``nation`` stay as they are (fixed dimensions);
- every copy's document text carries a copy-specific token marker, so
  near-duplicate structure stays within a copy (no cross-copy twins);
- every copy's embeddings get a per-copy sign flip of a dimension
  subset, an orthogonal transform that keeps within-copy cosines.

The seed also picks which documents duplicate (at the stated shares)
and, for the ingest workload, the row-to-stream-file split.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.make_scaled_sf import COPY_AS_IS, KEY_STRIDE, OFFSET_COLS

#: rows per table at sf = 1 (the testdata's ratios)
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

#: share of documents that are a verbatim copy of an earlier document
EXACT_DUP_SHARE = 0.02
#: share of documents that are an earlier document plus one extra token
NEAR_DUP_SHARE = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a the data table column row key value query join group agg sort order "
    "filter scan hash merge window stream batch vector spark line part "
    "customer big small fast slow"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _days(lo: str, hi: str) -> tuple[int, int]:
    d = np.array([lo, hi], dtype="datetime64[D]").astype(np.int64)
    return int(d[0]), int(d[1])


def _ts_from_days(days: np.ndarray) -> pa.Array:
    return pa.array((days.astype(np.int64) * _DAY_US).astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _rows(name: str, sf: float) -> int:
    return max(20, int(round(ROWS_AT_SF1[name] * sf)))


def _dimensions() -> dict[str, pa.Table]:
    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    return {"region": region, "nation": nation}


def _tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    nc, ns, np_, no, nl = (
        _rows(t, sf) for t in ("customer", "supplier", "part", "orders", "lineitem")
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    adj = np.array(ADJECTIVES)[rng.integers(0, len(ADJECTIVES), np_)]
    noun = np.array(NOUNS)[rng.integers(0, len(NOUNS), np_)]
    part = pa.table(
        {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), np_)],
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }
    )
    olo, ohi = _days("1995-01-01", "2001-08-01")
    orders = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts_from_days(rng.integers(olo, ohi + 1, no)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    slo, shi = _days("1995-01-02", "2001-11-04")
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts_from_days(rng.integers(slo, shi + 1, nl)),
        }
    )
    return {
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("events", sf)
    users = max(10, int(round(15_000 * sf)))
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("documents", sf)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]
    # the seed picks which rows duplicate an earlier row, at the stated shares
    kind = rng.choice(3, n, p=[1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE, EXACT_DUP_SHARE, NEAR_DUP_SHARE])
    kind[0] = 0
    for i in np.nonzero(kind)[0]:
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if kind[i] == 1 else src + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n = _rows("embeddings", sf)
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    v = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def base_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """One unscaled copy of every table at scale factor ``sf``."""
    out = _dimensions()
    out.update(_tpch(rng, sf))
    out["events"] = _events(rng, sf)
    out["documents"] = _documents(rng, sf)
    out["embeddings"] = _embeddings(rng, sf)
    return out


def _replace(t: pa.Table, col: str, values: pa.Array) -> pa.Table:
    return t.set_column(t.schema.get_field_index(col), col, values)


def scale(base: dict[str, pa.Table], k: int, rng: np.random.Generator) -> dict[str, pa.Table]:
    """Replicate ``base`` k times under make_scaled_sf's isolation rules,
    with seed-picked key offsets and document copy markers."""
    top = max(int(np.asarray(base[t].column(c)).max()) for t, cols in OFFSET_COLS.items() for c in cols)
    shift = int(rng.integers(0, KEY_STRIDE - top))
    tag = "".join(rng.choice(list("bcdfghjmnpqrstvwxz"), 3))
    out = {name: base[name] for name in COPY_AS_IS}
    for name, key_cols in OFFSET_COLS.items():
        copies = []
        for i in range(k):
            t = base[name]
            for col in key_cols:
                shifted = np.asarray(t.column(col)) + (i * KEY_STRIDE + shift)
                t = _replace(t, col, pa.array(shifted, pa.int64()))
            if name == "documents":
                texts = [s.replace(" ", f" k{tag}{i}") for s in t.column("text").to_pylist()]
                t = _replace(t, "text", pa.array(texts))
                t = _replace(t, "n_chars", pa.array([len(s) for s in texts], pa.int64()))
            if name == "embeddings":
                flip = np.where((3 * np.arange(EMBED_DIM) + i) % 5 == 0, -1.0, 1.0)
                v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)) * flip
                t = _replace(t, "embedding", pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())))
            copies.append(t)
        out[name] = pa.concat_tables(copies)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write one ``<table>.parquet`` file per table, the testdata layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def split_files(t: pa.Table, n_files: int, rng: np.random.Generator, out_dir: str) -> list[str]:
    """Split rows across ``n_files`` parquet files by a seeded assignment
    (row order inside a file is kept); returns the file paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    which = rng.integers(0, n_files, t.num_rows)
    paths = []
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(t.filter(pa.array(which == f)), path)
        paths.append(path)
    return paths
