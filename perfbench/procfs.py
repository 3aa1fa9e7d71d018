"""CPU and resident memory of the benchmark's whole process tree, from /proc.

The tree is the benchmark process (the Python driver), its JVM, the PySpark
daemon and workers the JVM forks, and the peer relay process with its own
JVM and workers. CPU counts ``utime + stime`` of every live process plus
``cutime + cstime``, which holds the CPU of children that have exited and
been reaped (short-lived PySpark workers land in the daemon's counters).
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _CLK
    rss = int(fields[21]) * _PAGE
    return ppid, comm, cpu, rss


def _children() -> tuple[dict[int, tuple], dict[int, list[int]]]:
    """Every live process's stat fields, and each pid's child pids."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c, _cpu, _rss) in procs.items():
        children.setdefault(ppid, []).append(pid)
    return procs, children


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``."""
    _procs, children = _children()
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class ProcTree:
    """Snapshots of the tree rooted at this process, split into the
    categories ``driver``, ``jvm``, ``pyworker`` and ``peer``."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peer_pids: set[int] = set()   # roots of the peer relay's tree
        self.peak_rss = 0

    def snapshot(self) -> dict[str, float]:
        procs, children = _children()
        out = {"driver_cpu_s": 0.0, "jvm_cpu_s": 0.0, "pyworker_cpu_s": 0.0,
               "peer_cpu_s": 0.0, "other_cpu_s": 0.0, "jvm_rss_mb": 0.0,
               "rss_mb": 0.0}

        def walk(pid: int, cat: str) -> None:
            ppid, comm, cpu, rss = procs[pid]
            if pid in self.peer_pids:
                cat = "peer"
            elif pid == self.root:
                cat = "driver"
            elif cat == "driver":
                cat = "jvm" if comm == "java" else "other"
            elif cat == "jvm" and comm != "java":
                cat = "pyworker"
            out[f"{cat}_cpu_s"] += cpu
            out["rss_mb"] += rss / 2**20
            if cat == "jvm":
                out["jvm_rss_mb"] += rss / 2**20
            for child in children.get(pid, ()):
                walk(child, cat)

        if self.root in procs:
            walk(self.root, "driver")
        out["cpu_s"] = (out["driver_cpu_s"] + out["jvm_cpu_s"]
                        + out["pyworker_cpu_s"] + out["peer_cpu_s"]
                        + out["other_cpu_s"])
        self.peak_rss = max(self.peak_rss, out["rss_mb"])
        return out


def delta(after: dict[str, float], before: dict[str, float]) -> dict:
    return {k: after[k] - before[k] for k in after if k.endswith("_cpu_s")
            or k == "cpu_s"}
