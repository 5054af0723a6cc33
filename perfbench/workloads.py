"""The three workloads: their inputs, operations and correctness checks.

An operation is one call the benchmark times from outside: a registry
query (construction, then collect), one streaming ingest call, or one
io call. Each op returns a check that runs after its timing stops; a
check returns True, False, or a value hash to compare with the oracle
once the timed passes are over.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from tools.selfcheck import table_hash

RELATIONAL_QUERIES = [
    "q01_pricing_summary",
    "q18_large_orders",
    "q21_waiting_supplier",
    "stream_session_window",
]
LLM_QUERIES = [
    "llm_text_normalize",
    "llm_dedup_minhash_det",
]
#: (scale factor of the base copy, number of copies) per workload
SIZES = {"relational": (0.01, 2), "llm_curation": (0.02, 1), "ingest": (0.02, 1)}
STREAM_FILES = 2


class Op:
    """One timed operation: ``run(timer)`` times its calls through
    ``timer`` and returns its check; ``io_input_bytes`` is the size of
    the input it writes out (the base of ``io.write_amp``)."""

    def __init__(self, name: str, run, io_input_bytes: int = 0):
        self.name = name
        self.run = run
        self.io_input_bytes = io_input_bytes


def tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden/marker files."""
    files = nbytes = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


def duck_hash(sql: str) -> str:
    import duckdb

    with duckdb.connect() as con:
        rel = con.execute(sql)
        cols = [d[0] for d in rel.description]
        return table_hash(cols, rel.fetchall())


def parquet_glob(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


class Workload:
    #: untimed passes before timing: the first pays class loading, code
    #: generation and Python worker start, and the second's JIT and heap
    #: growth still made the following passes drift
    warm_passes = 2

    def __init__(self, name: str, work: str, seed: int):
        self.name = name
        self.work = work
        self.seed = seed
        # the data dir's name carries the seed, so any index a query
        # persists under a name derived from it is never reused across seeds
        self.data_dir = os.path.join(work, f"{name}-seed{seed}")
        self.out_dir = os.path.join(work, "out")
        self.rng = np.random.default_rng(seed)
        self.tables = None
        self.n_outputs = 0

    def generate(self) -> None:
        """Build this seed's tables and write them to ``data_dir``."""
        sf, k = SIZES[self.name]
        self.tables = gen.scale(gen.base_tables(self.rng, sf), k, self.rng)
        gen.write_tables(self.tables, self.data_dir)

    def prepare(self, spark) -> None:
        """Per-run state the ops need beyond the generated tables."""

    def ops(self, spark) -> list[Op]:
        raise NotImplementedError

    def expected(self, spark) -> dict[str, str]:
        """Reference value per op name, computed after the timed passes."""
        return {}

    def _fresh(self, op: str) -> str:
        """A new, empty output path for one call of ``op``."""
        self.n_outputs += 1
        path = os.path.join(self.out_dir, f"{op}-{self.n_outputs}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def split_docs(self) -> None:
        """Seeded row-to-file split of the corpus for stream ingest."""
        self.doc_files = gen.split_files(
            self.tables["documents"], STREAM_FILES, self.rng, os.path.join(self.work, "stream_docs")
        )

    def dedup_stream_op(self, spark) -> Op:
        """``dedup_ingest_stream`` over the stream files, one micro-batch
        per file, into a fresh store and checkpoint each time."""
        from randas_spark.streaming import engine

        schema = spark.read.parquet(self.doc_files[0]).schema
        src = os.path.join(self.work, "stream_docs")

        def run(timer):
            out = self._fresh("dedup")
            stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
            with timer("call"):
                engine.dedup_ingest_stream(
                    spark, stream, "doc_id", "text",
                    os.path.join(out, "store"), os.path.join(out, "checkpoint"),
                )
            timer.wrote(out)
            store = os.path.join(out, "store")
            return lambda: duck_hash(
                f"SELECT DISTINCT fp FROM read_parquet('{store}/*.parquet')"
            ) + f":{pq.read_table(store).num_rows}"

        doc_bytes = sum(os.path.getsize(f) for f in self.doc_files)
        return Op("stream_dedup_ingest", run, io_input_bytes=doc_bytes)

    def dedup_twin(self, spark) -> dict[str, str]:
        """Batch twin of the dedup stream: exact_dedup over the
        concatenated stream files, as (distinct fingerprints, rows)."""
        from randas_spark.functions.text import fingerprint
        from randas_spark.operators.dedup import exact_dedup

        batch = spark.read.parquet(*self.doc_files)
        twin = exact_dedup(batch, "doc_id", "text").select(fingerprint("text").alias("fp"))
        rows = twin.collect()
        return {"stream_dedup_ingest": table_hash(["fp"], [tuple(r) for r in rows]) + f":{len(rows)}"}


class QueryWorkload(Workload):
    """Registry queries, each checked against its DuckDB oracle."""

    def __init__(self, name, work, seed, queries):
        super().__init__(name, work, seed)
        self.queries = queries

    def ops(self, spark):
        import __spark_entry__ as entry

        registry = entry.queries()

        def make(qname):
            def run(timer):
                with timer("construct"):
                    df = registry[qname](spark, self.data_dir)
                with timer("collect"):
                    rows = df.collect()
                timer.note(df, rows)
                return lambda: table_hash(df.columns, [tuple(r) for r in rows])

            return Op(qname, run)

        return [make(q) for q in self.queries]

    def expected(self, spark):
        import duckdb

        import __spark_entry__ as entry
        from randas_spark.session import TABLES

        oracles = entry.oracle_sql()
        out = {}
        with duckdb.connect() as con:
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in self.queries:
                rel = con.execute(oracles[q])
                out[q] = table_hash([d[0] for d in rel.description], rel.fetchall())
        return out


class CurationWorkload(QueryWorkload):
    """The LLM-data queries plus incremental exact-dedup ingest."""

    def prepare(self, spark):
        self.split_docs()

    def ops(self, spark):
        return super().ops(spark) + [self.dedup_stream_op(spark)]

    def expected(self, spark):
        return {**super().expected(spark), **self.dedup_twin(spark)}


class IngestWorkload(Workload):
    """Stream ingest, layout writes and a RandasFrame export/import trip."""

    def prepare(self, spark):
        from randas_spark.operators.similarity import ivf_build_index

        self.split_docs()
        emb = self.tables["embeddings"]
        ids = emb.column("vec_id").to_numpy()
        new = emb.filter(ids % 4 == 3)
        gen.split_files(new, STREAM_FILES, self.rng, os.path.join(self.work, "stream_vecs"))
        self.new_vecs = new
        base = spark.read.parquet(os.path.join(self.data_dir, "embeddings.parquet"))
        self.ivf_base = os.path.join(self.work, "ivf_base")
        ivf_build_index(base.filter("vec_id % 4 <> 3"), "vec_id", "embedding", self.ivf_base, n_cells=16)
        self.events_path = os.path.join(self.data_dir, "events.parquet")
        self.docs_path = os.path.join(self.data_dir, "documents.parquet")
        self.events_hash = duck_hash(f"SELECT * FROM read_parquet('{self.events_path}')")
        self.docs_hash = duck_hash(f"SELECT * FROM read_parquet('{self.docs_path}')")

    def ops(self, spark):
        from randas_spark.frame import RandasFrame
        from randas_spark.io import layout, read, write
        from randas_spark.streaming import engine

        events = spark.read.parquet(self.events_path)
        ev_bytes = os.path.getsize(self.events_path)
        doc_bytes = os.path.getsize(self.docs_path)
        vec_src = os.path.join(self.work, "stream_vecs")
        vec_schema = spark.read.parquet(vec_src).schema
        state = {}

        def ivf_stream(timer):
            out = self._fresh("ivf")
            shutil.copytree(self.ivf_base, out)
            before = tree_bytes(out)
            stream = spark.readStream.schema(vec_schema).option("maxFilesPerTrigger", 1).parquet(vec_src)
            with timer("call"):
                engine.ivf_ingest_stream(
                    stream,
                    "vec_id",
                    "embedding",
                    out,
                    os.path.join(self.out_dir, f"ivf-ckpt-{self.n_outputs}"),
                )
            timer.wrote(out, minus=before)
            return lambda: self._check_ivf(out)

        def layout_op(kind):
            def run(timer):
                out = self._fresh(kind)
                with timer("call"):
                    if kind == "write_partitioned":
                        layout.write_partitioned(events, out, ["event_type"])
                    elif kind == "write_zordered":
                        layout.write_zordered(events, out, ["user_id", "value"], num_files=8)
                    elif kind == "write_bucketed":
                        out = os.path.join(self.work, "warehouse", "pb_bucketed")
                        layout.write_bucketed(events, "pb_bucketed", ["user_id"], num_buckets=8)
                    else:  # compact the latest partitioned write
                        out = state["partitioned"]
                        layout.compact_dataset(
                            spark, out, target_file_bytes=1 << 20, partition_cols=["event_type"]
                        )
                timer.wrote(out)
                if kind == "write_partitioned":
                    state["partitioned"] = out
                return lambda: duck_hash(f"SELECT * FROM {parquet_glob(out)}") == self.events_hash

            return Op(f"io_{kind}", run, io_input_bytes=ev_bytes)

        def export(fmt):
            def run(timer):
                out = self._fresh(f"frame_{fmt}")
                # built per call: drop_persisted frees the index checkpoint
                docs_frame = RandasFrame(spark.read.parquet(self.docs_path))
                with timer("call"):
                    getattr(write, f"to_{fmt}")(docs_frame, out)
                timer.wrote(out)
                state[fmt] = out
                return lambda: True

            return Op(f"io_to_{fmt}", run, io_input_bytes=doc_bytes)

        def import_(fmt):
            def run(timer):
                with timer("call"):
                    if fmt == "json":
                        frame = read.read_json(spark, state[fmt], multiline=False)
                    else:
                        frame = getattr(read, f"read_{fmt}")(spark, state[fmt])
                    sdf = frame.to_spark()
                    rows = sdf.collect()
                return lambda: table_hash(sdf.columns, [tuple(r) for r in rows]) == self.docs_hash

            return Op(f"io_read_{fmt}", run)

        ops = [
            self.dedup_stream_op(spark),
            Op("stream_ivf_ingest", ivf_stream, io_input_bytes=tree_bytes(vec_src)[1]),
        ]
        kinds = ("write_partitioned", "compact", "write_bucketed", "write_zordered")
        ops += [layout_op(k) for k in kinds]
        for fmt in ("parquet", "csv", "json"):
            ops += [export(fmt), import_(fmt)]
        return ops

    def _check_ivf(self, index_dir: str) -> bool:
        """Streamed cells equal a from-scratch max-cosine assignment of
        the same vectors against the persisted centroids."""
        cent = pq.read_table(os.path.join(index_dir, "centroids.parquet"))
        centers = np.stack(cent.column("center").to_numpy(zero_copy_only=False)).astype(np.float64)
        cells = cent.column("cell").to_numpy()
        order = np.argsort(cells)
        centers, cells = centers[order], cells[order]
        got = {}
        for d in glob.glob(os.path.join(index_dir, "stream_appends", "b*")):
            t = pq.read_table(d)
            for cid, cell in zip(t.column("cid").to_pylist(), t.column("cell").to_pylist()):
                got[cid] = int(cell)
        vecs = np.stack(self.new_vecs.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        ids = self.new_vecs.column("vec_id").to_pylist()
        cos = (vecs @ centers.T) / np.outer(np.linalg.norm(vecs, axis=1), np.linalg.norm(centers, axis=1))
        if sorted(got) != sorted(ids):
            return False
        for i, vid in enumerate(ids):
            best = cos[i].max()
            # ties inside float rounding may go either way; the program
            # breaks them by cell id, so accept any cell within 1e-12
            if cos[i][np.searchsorted(cells, got[vid])] < best - 1e-12:
                return False
        return True

    def expected(self, spark):
        return self.dedup_twin(spark)


def make(name: str, work: str, seed: int) -> Workload:
    if name == "relational":
        return QueryWorkload(name, work, seed, RELATIONAL_QUERIES)
    if name == "llm_curation":
        return CurationWorkload(name, work, seed, LLM_QUERIES)
    if name == "ingest":
        return IngestWorkload(name, work, seed)
    raise ValueError(f"unknown workload {name!r}")
