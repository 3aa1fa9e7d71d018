"""Readers of Spark's own records for the traced run.

* the event log (turned on through session conf in the traced run only),
  parsed with ``json`` after the session stops: jobs, stages, tasks,
  executor time, GC, shuffle bytes and the Python-node SQL metrics;
* ``QueryPlanningTracker`` phases of an executed DataFrame;
* RDD storage info and CacheManager state;
* ``StreamingQueryProgress.durationMs`` of a streaming query.
"""

from __future__ import annotations

import glob
import json
import os

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per job: submit time (epoch ms) and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"job": jid, "submit_ms": ev["Submission Time"],
                                 "stages": len(ev.get("Stage IDs", []))}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    j = jobs[jid]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    j["tasks"] = j.get("tasks", 0) + 1
                    if info.get("Failed") or (ev.get("Task End Reason", {})
                                              .get("Reason") != "Success"):
                        j["failed_tasks"] = j.get("failed_tasks", 0) + 1
                    add = {
                        "executor_run_ms": m.get("Executor Run Time", 0),
                        "executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read_bytes":
                            m.get("Shuffle Read Metrics", {}).get(
                                "Remote Bytes Read", 0)
                            + m.get("Shuffle Read Metrics", {}).get(
                                "Local Bytes Read", 0),
                        "shuffle_write_bytes":
                            m.get("Shuffle Write Metrics", {}).get(
                                "Shuffle Bytes Written", 0),
                    }
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name == PY_SENT:
                            add["bytes_to_python"] = _num(acc.get("Update"))
                        elif name == PY_RECV:
                            add["bytes_from_python"] = _num(acc.get("Update"))
                    for k, v in add.items():
                        j[k] = j.get(k, 0) + v
    return sorted(jobs.values(), key=lambda j: j["submit_ms"])


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


JOB_FIELDS = ("stages", "tasks", "failed_tasks", "executor_run_ms",
              "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "bytes_to_python", "bytes_from_python")


def attribute_jobs(jobs: list[dict], windows: list[tuple[int, float, float]]
                   ) -> dict[int, dict[str, float]]:
    """Sum job metrics per op. Load is sequential, so each job belongs to
    the op whose [start, end) epoch-ms window it was submitted in."""
    out = {op: {"jobs": 0.0, **{k: 0.0 for k in JOB_FIELDS}}
           for op, _s, _e in windows}
    for j in jobs:
        for op, s, e in windows:
            if s <= j["submit_ms"] < e:
                o = out[op]
                o["jobs"] += 1
                for k in JOB_FIELDS:
                    o[k] += j.get(k, 0)
                break
    return out


def tracker_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)  # a scala Option
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def storage_state(spark) -> dict[str, float]:
    """Cached RDD count and bytes, and SQL cache entries, right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    n = len(infos)
    size = sum(i.memSize() + i.diskSize() for i in infos)
    cm = spark._jsparkSession.sharedState().cacheManager()
    return {"cached_rdds": float(n), "cached_bytes": float(size),
            "sql_cached": float(cm.numCachedEntries())}


STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "getBatch", "latestOffset")


def progress_durations(progress) -> dict[str, float]:
    """Phase durations (ms) and input rows of one micro-batch."""
    d = progress.durationMs or {}
    out = {k: float(d.get(k, 0)) for k in STREAM_PHASES}
    out["input_rows"] = float(progress.numInputRows)
    return out
