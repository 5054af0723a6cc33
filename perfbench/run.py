"""Seeded benchmark of randas_spark: one closed-loop driver per workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Workloads: ``relational``, ``llm_curation``, ``ingest`` (see README.md).
The run generates its inputs from ``--seed`` under ``.perfbench_work/``,
starts one local Spark session sized for this host, runs the
workload's warm passes (untimed), then timed passes until ``--seconds`` have
fit in ``--seconds`` (at least three), and checks every result. Set-up, timing and
checks never overlap.

Output: one JSON detail line (per-op samples, contention witness and,
when traced, the per-op layer records), then the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns the event log, py4j counting
and the streaming listener on and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_PASSES = 3


def configure_env(work: str, trace: bool) -> None:
    """Size the session for this host through the variables the program
    reads, and keep every file Spark and Python write inside ``work``."""
    cpus = os.cpu_count() or 4
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def drop_persisted(spark) -> None:
    """Unpersist cached tables and checkpointed RDDs between operations
    (as bench.py does), so pinned blocks never carry over."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(True)


class OpTimer:
    """Times the phases of one op from outside and notes what the traced
    run needs about them."""

    def __init__(self, spark, group: str, tracer):
        self.spark = spark
        self.group = group
        self.tracer = tracer
        self.phase_s: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.start = self.end = None

    @contextmanager
    def __call__(self, phase: str):
        self.spark.sparkContext.setJobGroup(f"{self.group}/{phase}", phase)
        calls0 = self.tracer.calls if self.tracer else 0
        t0 = time.perf_counter()
        if self.start is None:
            self.start = time.time()
        try:
            yield
        finally:
            self.phase_s[phase] = time.perf_counter() - t0
            self.end = time.time()
            if self.tracer:
                self.layers[f"{phase}.py4j_calls"] = self.tracer.calls - calls0

    def note(self, df, rows) -> None:
        self.layers["collect.rows"] = len(rows)
        if self.tracer:
            from perfbench.tracing import catalyst_phases

            self.layers.update(catalyst_phases(df))

    def wrote(self, path: str, minus: tuple[int, int] = (0, 0)) -> None:
        from perfbench.workloads import tree_bytes

        files, nbytes = tree_bytes(path)
        self.layers["io.files_written"] = files - minus[0]
        self.layers["io.bytes_written_mb"] = (nbytes - minus[1]) / 2**20


def run_op(spark, wl_name: str, op, n: int, tracer):
    """Run one op; returns (record, check) where check is None on error."""
    timer = OpTimer(spark, f"{wl_name}/{op.name}#{n}", tracer)
    try:
        check = op.run(timer)
        error = None
    except Exception as ex:  # noqa: BLE001 - a failed op is counted, the loop goes on
        check, error = None, f"{type(ex).__name__}: {ex}"[:300]
    spark.sparkContext.setJobGroup(f"{wl_name}/idle", "idle")
    drop_persisted(spark)
    wall = sum(timer.phase_s.values())
    layers = dict(timer.layers)
    if "construct" in timer.phase_s:
        layers["queries.construct_s"] = timer.phase_s["construct"]
        layers["collect.s"] = timer.phase_s["collect"]
        layers["queries.py4j_calls"] = layers.get("construct.py4j_calls", 0)
    if "io.files_written" in layers:
        layers["io.write_s"] = wall
        layers["io.input_mb"] = op.io_input_bytes / 2**20
    record = {
        "name": op.name,
        "group": timer.group,
        "phases": list(timer.phase_s),
        "wall_s": wall,
        "start": timer.start or time.time(),
        "end": timer.end or time.time(),
        "layers": layers,
        "error": error,
    }
    return record, check


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process under this
    one (JVM, Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    from perfbench.procfs import tree

    me = os.getpid()
    children = [pid for pid, _, _ in tree(me) if pid != me]
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)


def verdict(check, expected: str | None) -> bool:
    """Run an op's check: a value hash must equal the reference, any
    other result must be True. A check that raises fails the op."""
    try:
        got = check()
    except Exception:  # noqa: BLE001 - an unreadable output is a wrong output
        return False
    return got == expected if isinstance(got, str) else got is True


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["relational", "llm_curation", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "randas_spark"))
        and os.path.isfile(os.path.join(ROOT, "tools", "selfcheck.py"))
    ):
        print(f"perfbench: no randas_spark checkout at {ROOT}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{args.workload}-seed{args.seed}")
    configure_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    from perfbench import procfs, workloads

    sampler = procfs.TreeSampler(os.getpid())
    sampler.start()
    witness = {"load_start": procfs.loadavg(), "calib_start_s": procfs.calibration_s()}
    ticks0 = procfs.host_cpu_ticks()

    t_setup = time.perf_counter()
    wl = workloads.make(args.workload, work, args.seed)
    wl.generate()
    t_gen = time.perf_counter() - t_setup

    from randas_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0

    tracer = listener = None
    if args.trace:
        from perfbench.tracing import ProgressListener, Py4jCounter

        tracer = Py4jCounter()
        tracer.install()
        listener = ProgressListener()
        spark.streams.addListener(listener)

    wl.prepare(spark)
    ops = wl.ops(spark)
    warm: dict[str, list] = {}
    for _ in range(wl.warm_passes):
        for op in ops:
            record, _ = run_op(spark, args.workload, op, 0, tracer)
            warm.setdefault(op.name, []).append(record["error"] or round(record["wall_s"], 4))
    setup_s = time.perf_counter() - t_setup

    cpu0 = sampler.cpu()
    records, checks = [], []
    pass_s, pass_cpu_s = [], []
    t_timed = time.perf_counter()
    # start a pass only if a typical pass still fits in the window
    while len(pass_s) < MIN_PASSES or (
        time.perf_counter() - t_timed + statistics.median(pass_s) <= args.seconds
    ):
        cpu_a, t_a = sampler.cpu(), time.perf_counter()
        for op in ops:
            record, check = run_op(spark, args.workload, op, len(records) + 1, tracer)
            records.append(record)
            checks.append(check)
        pass_s.append(time.perf_counter() - t_a)
        pass_cpu_s.append(sum(sampler.cpu().values()) - sum(cpu_a.values()))
    passes = len(pass_s)
    timed_s = time.perf_counter() - t_timed
    cpu1 = sampler.cpu()
    peak_rss, peak_pyworker = sampler.peak_rss_mb, sampler.peak_pyworker_mb

    expected = wl.expected(spark)
    failed = 0
    for rec, check in zip(records, checks):
        rec["ok"] = check is not None and verdict(check, expected.get(rec["name"]))
        failed += not rec["ok"]

    if tracer:
        tracer.uninstall()
        # the listener bus delivers progress events asynchronously
        time.sleep(1.0)
    shutdown(spark)
    sampler.stop()

    ticks1 = procfs.host_cpu_ticks()
    dt = max(1, ticks1["total"] - ticks0["total"])
    witness.update(
        load_end=procfs.loadavg(),
        steal_frac=(ticks1["steal"] - ticks0["steal"]) / dt,
        host_busy_frac=1 - (ticks1["idle"] - ticks0["idle"]) / dt,
        calib_end_s=procfs.calibration_s(),
    )

    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["name"], []).append(r["wall_s"])
    # every latency metric starts from each op's own samples: pooled
    # percentiles of a few op types sit on the gaps between them and
    # jump from run to run
    op_p50 = [statistics.median(v) for v in by_op.values()]
    op_geomean = statistics.geometric_mean(op_p50)
    attempted = len(records)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": passes,
        "timed_s": timed_s,
        "gen_s": t_gen,
        "session_s": session_s,
        "warm": warm,
        "samples": attempted,
        "pass_s": [round(x, 4) for x in pass_s],
        "pass_cpu_s": [round(x, 2) for x in pass_cpu_s],
        "witness": witness,
        "ops": {name: [round(x, 4) for x in v] for name, v in by_op.items()},
        "errors": sorted({r["error"] for r in records if r["error"]}),
        "mismatched": sorted({r["name"] for r in records if r["error"] is None and not r["ok"]}),
    }

    if args.trace:
        from perfbench import tracing

        windows = [
            (f"{r['group']}/{p}", r["start"], r["end"]) for r in records for p in r["phases"]
        ]
        groups = tracing.read_event_log(os.path.join(work, "eventlog"), windows, f"{args.workload}/")
        per_op = tracing.summarise(records, groups, listener.batches)
        detail["per_op"] = per_op
        metrics = layer_metrics(per_op, passes, cpu0, cpu1, session_s, op_geomean)
        metrics["proc.pyworker_peak_mb"] = (peak_pyworker, "MB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            # one pass's wall: the sum over its ops of each op's median
            "wall_s": (sum(op_p50), "s"),
            # each op weighs the same, however long it is
            "latency_geomean_s": (op_geomean, "s"),
            "latency_slowest_p75_s": (max(percentile(v, 75) for v in by_op.values()), "s"),
            "cpu_s": (statistics.median(pass_cpu_s), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
            "ok_frac": ((attempted - failed) / attempted, "fraction"),
        }

    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith(("_ratio", "_amp")) else "count"


def layer_metrics(per_op, passes, cpu0, cpu1, session_s, op_geomean) -> dict:
    """Per-layer metrics of the traced run: per-op layers as totals per
    pass (ratios from those totals), plus run-level layers."""
    from perfbench.tracing import OP_LAYERS, useful_ratio, write_amp

    def total(key: str) -> float:
        return sum(rec.get(key, 0) for rec in per_op) / passes

    out = {key: (total(key), unit_of(key)) for key in OP_LAYERS}
    out["exec.useful_ratio"] = (useful_ratio(total("collect.rows"), total("join_rows")), "ratio")
    out["io.write_amp"] = (write_amp(total("io.bytes_written_mb"), total("io.input_mb")), "ratio")
    out["session.start_s"] = (session_s, "s")
    for role in ("driver", "jvm", "pyworker"):
        out[f"proc.{role}_cpu_s"] = (max(0.0, cpu1[role] - cpu0[role]) / passes, "s")
    out["trace.latency_geomean_s"] = (op_geomean, "s")
    out["trace.residual_s"] = (total("residual_s"), "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
