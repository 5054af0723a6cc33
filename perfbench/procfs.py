"""Process-tree CPU and memory, host load and steal time, read from /proc.

The benchmark's driver process owns the whole tree: the JVM is its
child, and the Python worker daemon and its workers are the JVM's
descendants. CPU of a process that already exited and was reaped is
folded into its parent's ``cutime``/``cstime``, so summing
``utime + stime + cutime + cstime`` over the live tree counts every
process that ever ran in it exactly once.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    head, tail = raw.rsplit(")", 1)
    return [head.split(" (", 1)[0], head.split(" (", 1)[1]] + tail.split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[3]), []).append(int(name))
    return kids


def tree(root: int) -> list[tuple[int, str, int]]:
    """(pid, comm, parent pid) of ``root`` and all its descendants."""
    kids = _children()
    out, todo = [], [(root, 0)]
    while todo:
        pid, parent = todo.pop()
        st = _stat(pid)
        if st is not None:
            out.append((pid, st[1], parent))
            todo.extend((c, pid) for c in kids.get(pid, []))
    return out


def _cpu_s(st: list[str]) -> float:
    # fields 14-17 (1-based): utime stime cutime cstime
    return sum(int(x) for x in st[13:17]) / _TICK


class TreeSampler:
    """Samples CPU and peak RSS of a process tree, split by role.

    Roles: ``driver`` is the root (and any non-JVM child of it), ``jvm``
    a java process, ``pyworker`` any process below the JVM. ``cpu()``
    reads CPU totals now. The sampling thread keeps two peaks since
    ``start``: ``peak_rss_mb`` of driver + JVM, and ``peak_pyworker_mb``
    of the Python workers, whose count, and so their summed RSS, changes
    from run to run with how tasks happen to overlap.
    """

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak_rss_mb = 0.0
        self.peak_pyworker_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _role(self, pid: int, comm: str, parent: int) -> str:
        if pid == self.root or (parent == self.root and comm != "java"):
            return "driver"
        return "jvm" if comm == "java" else "pyworker"

    def cpu(self) -> dict[str, float]:
        roles = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, comm, parent in tree(self.root):
            st = _stat(pid)
            if st is None:
                continue
            own = (int(st[13]) + int(st[14])) / _TICK
            role = self._role(pid, comm, parent)
            if role == "jvm":
                # reaped children of the JVM are Python worker daemons
                roles["jvm"] += own
                roles["pyworker"] += _cpu_s(st) - own
            else:
                # the root's reaped children are launcher processes
                roles[role] += own if pid == self.root else _cpu_s(st)
        return roles

    def rss_mb(self) -> dict[str, float]:
        roles = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, comm, parent in tree(self.root):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except OSError:
                continue
            roles[self._role(pid, comm, parent)] += pages * _PAGE / 2**20
        return roles

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            rss = self.rss_mb()
            self.peak_rss_mb = max(self.peak_rss_mb, rss["driver"] + rss["jvm"])
            self.peak_pyworker_mb = max(self.peak_pyworker_mb, rss["pyworker"])

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_cpu_ticks() -> dict[str, int]:
    """Aggregate host CPU ticks from /proc/stat (for steal share)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return {"total": sum(f[:8]), "steal": f[7], "idle": f[3] + f[4]}


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def calibration_s(n: int = 300_000) -> float:
    """Fixed-work single-thread probe: its time moves only with host
    contention, never with the program under test."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += (i * i) % 7
    return time.perf_counter() - t0
