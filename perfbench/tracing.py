"""Per-layer tracing for the traced run, all from the benchmark's side.

- ``Py4jCounter`` counts Python→JVM round trips by wrapping py4j's
  client ``send_command``.
- ``ProgressListener`` is a ``StreamingQueryListener`` that keeps every
  micro-batch's progress (trigger, addBatch and WAL/commit durations).
- ``catalyst_phases`` reads a DataFrame's QueryExecution tracker
  (analysis / optimization / planning wall time).
- ``read_event_log`` folds the uncompressed Spark event log into one
  record per job group (``<workload>/<op>#<n>/<phase>``): jobs, tasks,
  task time, CPU, GC, scheduling and fetch waits, shuffle/spill/scan
  bytes, join output rows and the Python-worker SQL metrics.
- ``summarise`` joins those into one per-op record with its residual.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PY_METRICS = {
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.sent_mb",
    "data returned from Python workers": "pyworker.returned_mb",
}
JOIN_NODES = ("Join", "CartesianProduct")
MB = 2.0**20


class Py4jCounter:
    """Counts py4j ``send_command`` calls while installed."""

    def __init__(self):
        self.calls = 0
        self._saved = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *a, _orig=orig, **kw):
                self.calls += 1
                return _orig(conn, command, *a, **kw)

            self._saved.append((cls, orig))
            cls.send_command = counted

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


class ProgressListener(StreamingQueryListener):
    """Keeps (trigger start epoch s, duration map in ms, input rows)."""

    def __init__(self):
        self.batches: list[tuple[float, dict, int]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.batches.append((ts, dict(p.durationMs), int(p.numInputRows)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in analysis, optimization and planning of ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"catalyst.{name}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def _empty_group() -> dict:
    return {
        "exec.jobs": 0,
        "exec.tasks": 0,
        "exec.run_s": 0.0,
        "exec.cpu_s": 0.0,
        "exec.gc_s": 0.0,
        "exec.sched_wait_s": 0.0,
        "exec.fetch_wait_s": 0.0,
        "exec.shuffle_write_mb": 0.0,
        "exec.shuffle_read_mb": 0.0,
        "exec.spill_mb": 0.0,
        "exec.scan_mb": 0.0,
        "join_rows": 0,
        **{v: 0.0 for v in PY_METRICS.values()},
        "intervals": [],
    }


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"], m.get("metricType", ""))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _metric_value(name: str, mtype: str, raw: float) -> float:
    if name.startswith("data "):
        return raw / MB
    return raw / 1e9 if mtype == "nsTiming" else raw / 1e3


def read_event_log(
    log_dir: str, windows: list[tuple[str, float, float]], prefix: str
) -> dict[str, dict]:
    """Per-job-group totals from the single event log in ``log_dir``.

    Jobs whose group does not start with ``prefix`` (micro-batches run on
    the stream's own thread, under the stream's group) are given the
    group whose ``(group, start, end)`` wall-clock window, in epoch
    seconds, holds their submission time.
    """
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    acc_meta: dict[int, tuple[int, tuple]] = {}
    acc_value: dict[int, float] = {}

    def by_time(ms: int) -> str | None:
        t = ms / 1e3
        for name, lo, hi in windows:
            if lo <= t <= hi:
                return name
        return None

    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            if not group.startswith(prefix) or group.endswith("/idle"):
                group = by_time(ev["Submission Time"])
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"]
            g = groups.setdefault(group, _empty_group())
            g["exec.jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]]["intervals"].append(
                    (job_start[jid] / 1e3, ev["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None or not ev.get("Task Metrics"):
                continue
            g, tm, ti = groups[group], ev["Task Metrics"], ev["Task Info"]
            g["exec.tasks"] += 1
            g["exec.run_s"] += tm["Executor Run Time"] / 1e3
            g["exec.cpu_s"] += tm["Executor CPU Time"] / 1e9
            g["exec.gc_s"] += tm["JVM GC Time"] / 1e3
            submitted = stage_submit.get(ev["Stage ID"]) or ti["Launch Time"]
            g["exec.sched_wait_s"] += max(0, ti["Launch Time"] - submitted) / 1e3
            sr = tm.get("Shuffle Read Metrics", {})
            g["exec.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            g["exec.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            sw = tm.get("Shuffle Write Metrics", {})
            g["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            g["exec.spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / MB
            g["exec.scan_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            for acc in ti.get("Accumulables", []):
                if "Value" in acc:
                    _note(acc_value, acc["ID"], acc["Value"])
        elif kind == "SparkListenerStageCompleted":
            for acc in ev["Stage Info"].get("Accumulables", []):
                if "Value" in acc:
                    _note(acc_value, acc["ID"], acc["Value"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            metas: dict = {}
            _plan_metrics(ev["sparkPlanInfo"], metas)
            for aid, meta in metas.items():
                acc_meta[aid] = (ev["executionId"], meta)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                acc_meta[m["accumulatorId"]] = (
                    ev["executionId"], ("", m["name"], m.get("metricType", ""))
                )
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, value in ev.get("accumUpdates", []):
                _note(acc_value, aid, value)

    for aid, (exec_id, (node, name, mtype)) in acc_meta.items():
        group = exec_group.get(exec_id)
        if group is None or aid not in acc_value:
            continue
        g = groups[group]
        if name in PY_METRICS:
            g[PY_METRICS[name]] += _metric_value(name, mtype, acc_value[aid])
        elif name == "number of output rows" and any(j in node for j in JOIN_NODES):
            g["join_rows"] += int(acc_value[aid])
    return groups


def _lines(paths):
    for path in paths:
        with open(path) as fh:
            yield from fh


def _note(values: dict, aid: int, raw) -> None:
    try:
        v = float(raw)
    except (TypeError, ValueError):
        return
    values[aid] = max(values.get(aid, v), v)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


#: layers every per-op record carries (0 where the op has no such work)
OP_LAYERS = (
    "queries.construct_s", "queries.construct_jobs", "queries.py4j_calls",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.jobs", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.sched_wait_s", "exec.fetch_wait_s", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb", "exec.scan_mb", "exec.useful_ratio",
    "pyworker.start_s", "pyworker.init_s", "pyworker.run_s", "pyworker.sent_mb",
    "pyworker.returned_mb", "collect.s", "collect.rows", "io.write_s",
    "io.files_written", "io.bytes_written_mb", "io.write_amp", "streaming.batches",
    "streaming.batch_s", "streaming.add_batch_s", "streaming.wal_commit_s",
)


def useful_ratio(result_rows: float, join_rows: float) -> float:
    """Result rows per join output row; 1.0 when nothing was joined."""
    return result_rows / join_rows if join_rows else 1.0


def write_amp(written_mb: float, input_mb: float) -> float:
    """Bytes written per input byte; 0.0 for ops that write nothing."""
    return written_mb / input_mb if input_mb else 0.0


def summarise(ops: list[dict], groups: dict[str, dict], batches: list) -> list[dict]:
    """One record per timed op: every layer of ``OP_LAYERS``, and the
    residual of its wall time once the additive layers are taken off:
    driver-side construction outside Spark jobs, the union of the op's
    job intervals, optimization + planning, and micro-batch time outside
    ``addBatch``."""
    out = []
    for op in ops:
        rec = {"op": op["name"], "wall_s": op["wall_s"], "join_rows": 0}
        jobs_wall = {}
        for phase in op["phases"]:
            g = groups.get(f"{op['group']}/{phase}", _empty_group())
            jobs_wall[phase] = union_s(g["intervals"])
            for key, val in g.items():
                if key != "intervals":
                    rec[key] = rec.get(key, 0) + val
            if phase == "construct":
                rec["queries.construct_jobs"] = g["exec.jobs"]
        mine = [b for b in batches if op["start"] <= b[0] <= op["end"]]
        rec["streaming.batches"] = len(mine)
        rec["streaming.batch_s"] = sum(b[1].get("triggerExecution", 0) for b in mine) / 1e3
        rec["streaming.add_batch_s"] = sum(b[1].get("addBatch", 0) for b in mine) / 1e3
        rec["streaming.wal_commit_s"] = (
            sum(b[1].get("walCommit", 0) + b[1].get("commitOffsets", 0) for b in mine) / 1e3
        )
        rec.update(op["layers"])
        rec["exec.useful_ratio"] = useful_ratio(rec.get("collect.rows", 0), rec["join_rows"])
        rec["io.write_amp"] = write_amp(rec.get("io.bytes_written_mb", 0), rec.get("io.input_mb", 0))
        for key in OP_LAYERS:
            rec.setdefault(key, 0)
        construct_self = max(0.0, rec["queries.construct_s"] - jobs_wall.get("construct", 0.0))
        plan = rec["catalyst.optimization_s"] + rec["catalyst.planning_s"]
        stream_self = max(0.0, rec["streaming.batch_s"] - rec["streaming.add_batch_s"])
        rec["layers_s"] = construct_self + sum(jobs_wall.values()) + plan + stream_self
        rec["residual_s"] = op["wall_s"] - rec["layers_s"]
        out.append(rec)
    return out
