"""Where did a registry query's time, rows and bytes go?

Usage: python tools/query_profile.py [sf_dir] (query [query ...] | --all) > FILE

``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR``. Queries run on the
normal ``get_spark`` session plus the Spark event log (in a temporary
directory). Named queries run once to warm, then three times, and the
record is the median-wall run; ``--all`` runs every registry query once
to warm and once timed. Stdout is one JSON document with one record
per query, built by perfbench's tracer; progress and Spark's logs go
to stderr:

- every ``perfbench.tracing.OP_LAYERS`` key, ``layers_s`` and
  ``residual_s`` (wall time the layers do not explain); the ``construct``
  and ``collect`` phases are separate job groups;
- ``jobs``: one row per Spark job, ``[phase, wall_s, tasks, call site]``;
- ``nodes``: one row per physical plan node with an output-row or
  shuffle-write metric, ``[phase, execution, position, node, rows,
  shuffle_mb]``; ``execution`` is the SQL execution's ordinal within its
  phase, ``position`` the node's id in that execution's plan graph, and
  shuffle sizes are as Spark formats them (three significant digits);
- ``host``: over the record's own run, the shares of the host's CPU
  ticks (``/proc/stat``) that were stolen by the hypervisor, busy, and
  busy outside this process tree (the JVM and its Python workers
  included), so a slow record can be told from a contended one; the
  document's ``contended`` lists the queries that lost at least one
  core's worth to steal and other processes;
- ``samples_s`` (every timed wall) and ``error`` (None when it ran).

Jobs and node rows come from the session's job and SQL status stores,
which fill with the UI off. A job or execution belongs to the phase
whose job group holds it, else (started on another driver thread) to
the phase its start time falls in.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procfs import _stat, host_cpu_ticks, tree
from perfbench.run import run_op
from perfbench.tracing import Py4jCounter, read_event_log, summarise
from perfbench.workloads import Op

PREFIX = "profile"
ROWS, SHUFFLE = "number of output rows", "shuffle bytes written"
SIZE_UNITS = {"B": 0, "KiB": 1, "MiB": 2, "GiB": 3, "TiB": 4}
SEP = "\u0001"
USAGE = "usage: query_profile.py [sf_dir] (query [query ...] | --all) > FILE"


def enable_event_log(log_dir: str) -> None:
    """Turn the uncompressed event log on for the session started next."""
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + log_dir,
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} {os.environ.get('PYSPARK_SUBMIT_ARGS', 'pyspark-shell')}"


def size_mb(text: str) -> float:
    """MB of a Spark size metric: ``'85.2 KiB'``, or the total on the
    last line of ``'total (min, med, max ...)\\n132.8 KiB (...)'``."""
    num, unit = text.splitlines()[-1].split()[:2]
    return float(num) * 1024 ** SIZE_UNITS[unit] / 2**20


class Status:
    """The jobs and SQL plan metrics of one run, read from the live
    session's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, next SQL execution id), once the listener bus
        has filed every event so far."""
        self.jsc.listenerBus().waitUntilEmpty()
        n = self.sql.executionsCount()
        last = self.sql.executionsList(n - 1, 1).head().executionId() if n else -1
        return self.jsc.dagScheduler().numTotalJobs(), last + 1

    def read(self, record: dict, first: tuple[int, int]) -> tuple[list, list]:
        """(job rows, node rows) of the run ``record``, started after ``first``."""
        end = self.mark()
        member = {
            jid: phase
            for phase in record["phases"]
            for jid in self.sc.statusTracker().getJobIdsForGroup(f"{record['group']}/{phase}")
        }
        split_ms = 1e3 * (record["start"] + record["layers"]["queries.construct_s"])

        def phase_of(jid, t_ms: float) -> str:
            return member.get(jid) or ("construct" if t_ms <= split_ms else "collect")

        store = self.jsc.statusStore()
        jobs = []
        for jid in range(first[0], end[0]):
            jd = store.job(jid)
            t0 = jd.submissionTime().get().getTime()
            t1 = jd.completionTime().get().getTime() if jd.completionTime().isDefined() else t0
            site = jd.name().replace(ROOT + os.sep, "")
            jobs.append([phase_of(jid, t0), (t1 - t0) / 1e3, jd.numTasks(), site])

        nodes, ordinal = [], {}
        for eid in range(first[1], end[1]):
            found = self.sql.execution(eid)
            if not found.isDefined():
                continue
            ex = found.get()
            ids = [int(j) for j in ex.jobs().keySet().mkString(",").split(",") if j]
            phase = phase_of(min(ids, default=None), ex.submissionTime())
            n = ordinal[phase] = ordinal.get(phase, -1) + 1
            metrics = self.sql.executionMetrics(eid).mkString(SEP).split(SEP)
            values = dict(kv.split(" -> ", 1) for kv in metrics if kv)
            it = self.sql.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                node = it.next()
                got = {}
                for m in filter(None, node.metrics().mkString(SEP).split(SEP)):
                    # SQLPlanMetric(name,accumulatorId,metricType)
                    name, acc, _ = m[m.index("(") + 1 : -1].rsplit(",", 2)
                    if name in (ROWS, SHUFFLE) and acc in values:
                        got[name] = values[acc]
                if got:
                    rows = int(got[ROWS].replace(",", "")) if ROWS in got else None
                    mb = size_mb(got[SHUFFLE]) if SHUFFLE in got else None
                    nodes.append([phase, n, node.id(), node.name().strip(), rows, mb])
        return jobs, nodes


def own_ticks() -> dict[int, int]:
    """utime + stime ticks of each live process in this one's tree."""
    stats = {pid: _stat(pid) for pid, _, _ in tree(os.getpid())}
    return {pid: int(st[13]) + int(st[14]) for pid, st in stats.items() if st}


def host_window(a: tuple[dict, dict], b: tuple[dict, dict]) -> dict:
    """Shares of the host's CPU ticks between samples ``a`` and ``b`` of
    ``(host_cpu_ticks(), own_ticks())``. A process of the tree that
    exited in between loses its ticks from ``own``, so ``other_frac``
    errs high, never low."""
    (h0, own0), (h1, own1) = a, b
    total = max(1, h1["total"] - h0["total"])
    steal = h1["steal"] - h0["steal"]
    busy = total - (h1["idle"] - h0["idle"]) - steal
    own = sum(t - own0.get(pid, 0) for pid, t in own1.items())
    shares = {"steal_frac": steal, "busy_frac": busy, "other_frac": max(0, busy - own)}
    return {k: v / total for k, v in shares.items()}


def lost_a_core(host: dict, cpus: int = os.cpu_count()) -> bool:
    """Whether, over a ``host_window``, steal and other processes took at
    least one of the host's ``cpus`` cores."""
    return (host["steal_frac"] + host["other_frac"]) * cpus >= 1


def query_op(spark, name: str, fn, sf_dir: str) -> Op:
    def run(timer):
        try:
            with timer("construct"):
                df = fn(spark, sf_dir)
        except Exception:
            with timer("collect"):  # run_op reads both phases' times
                pass
            raise
        with timer("collect"):
            rows = df.collect()
        timer.note(df, rows)
        return True

    return Op(name, run)


def profile(spark, tracer, status, name, fn, sf_dir, timed: int) -> dict:
    """Warm once, run ``timed`` times; ``run_op``'s record of the
    median-wall run, with its job and node rows and host window, and
    every timed wall, under ``extra``."""
    op = query_op(spark, name, fn, sf_dir)
    run_op(spark, PREFIX, op, 0, tracer)
    runs = []
    for n in range(1, timed + 1):
        first, before = status.mark(), (host_cpu_ticks(), own_ticks())
        record, _ = run_op(spark, PREFIX, op, n, tracer)
        host = host_window(before, (host_cpu_ticks(), own_ticks()))
        runs.append((record, host, *status.read(record, first)))
    record, host, jobs, nodes = sorted(runs, key=lambda r: r[0]["wall_s"])[len(runs) // 2]
    print(f"{record['wall_s']:9.3f}s  {name}  {record['error'] or ''}", file=sys.stderr)
    samples = [r[0]["wall_s"] for r in runs]
    record["extra"] = dict(error=record["error"], samples_s=samples, host=host, jobs=jobs, nodes=nodes)
    return record


def main(argv: list[str]) -> int:
    every = "--all" in argv
    args = [a for a in argv if a != "--all"]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else os.environ.get("SPARK_GRAFT_SF_DIR")
    # exactly one of --all and query names
    if not sf_dir or every == bool(args) or any(a.startswith("--") for a in args):
        raise SystemExit(USAGE)

    import __spark_entry__ as entry

    registry = entry.queries()
    unknown = [n for n in args if n not in registry]
    if unknown:
        raise SystemExit(f"unknown query name(s): {unknown}")
    names = list(registry) if every else args

    log_dir = tempfile.mkdtemp(prefix="profile-eventlog-")
    try:
        enable_event_log(log_dir)
        from randas_spark.session import get_spark

        spark = get_spark("profile")
        tracer = Py4jCounter()
        tracer.install()
        status = Status(spark)
        cpus = spark.sparkContext.defaultParallelism
        timed = 1 if every else 3
        runs = [profile(spark, tracer, status, n, registry[n], sf_dir, timed) for n in names]
        tracer.uninstall()
        spark.stop()
        windows = [(f"{r['group']}/{p}", r["start"], r["end"]) for r in runs for p in r["phases"]]
        groups = read_event_log(log_dir, windows, f"{PREFIX}/")
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    records = [
        json.loads(json.dumps({**rec, **run["extra"]}), parse_float=lambda f: round(float(f), 4))
        for run, rec in zip(runs, summarise(runs, groups, []))
    ]
    head = {
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "cpus": cpus,
        "runs": f"warm 1, timed {timed}, median-wall run",
        "errors": sum(r["error"] is not None for r in records),
        "contended": [r["op"] for r in records if lost_a_core(r["host"])],
    }
    # one record per line, so two profiles diff query by query
    body = ",\n".join(json.dumps(r) for r in records)
    print(f'{json.dumps(head)[:-1]}, "records": [\n{body}\n]}}')
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
