#!/usr/bin/env python3
"""Relay benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload fed_relay --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. Workloads:

* ``fed_relay``    — federated entity SQL through the relay's Arrow Flight
  server (``plans`` and the Flight wire);
* ``llm_pipeline`` — one pass of eleven declared LLM-pipeline operators
  (``functions``, the Arrow/Python-UDF boundary, materialization);
* ``dedup_ingest`` — streaming dedup ingest through the persisted index
  (appends, compaction, the replay guard).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and writes the spans to ``.perfbench/traces/``. Every
metric is printed by name with its unit; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

Inputs are generated from ``--seed`` under ``.perfbench/`` in the checkout;
Spark's scratch space, temp files and the event log stay there too. The
script exits non-zero without a result when the checkout is incomplete or a
run cannot be set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.getcwd()
NEEDED = ("dataweb_spark/__init__.py", "tools/check_correctness.py",
          "tools/run_flight_relay.py")


def _env(work: str) -> None:
    """Keep every process of the run inside the checkout and size Spark to
    this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_everything(ctx) -> None:
    """Stop Spark and the helper processes, then wait until every
    descendant of this process has exited (SIGKILL after 15 s)."""
    if ctx.spark is not None:
        try:
            ctx.spark.stop()
        except Exception:  # noqa: BLE001 — teardown keeps going
            pass
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
    for child in ctx.children:
        if child.poll() is None:
            child.terminate()
    from perfbench.procfs import descendants
    deadline = time.monotonic() + 15
    while left := descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


def _print_report(report: dict, trace: bool) -> dict:
    """Print every metric by name with its unit; return the last line's."""
    from perfbench.harness import E2E, LAYER, LLM_LAYER, P90_MIN_OPS, \
        REPORT_ONLY
    print(f"workload {report['workload']}: attempted {report['attempted']}, "
          f"failed {report['failed']}, correct {report['correct']}")
    print("properties " + json.dumps(report["properties"], sort_keys=True))
    if trace:
        names = LAYER
        values = report["layer"]
        for name, v in values.items():
            if name not in dict(LAYER):
                print(f"  {name:40s} {v:14.6g} {dict(LLM_LAYER)[name]}")
        for name, why in sorted(report["unavailable"].items()):
            print(f"  unavailable {name}: {why}")
    else:
        names = E2E
        values = report["e2e"]
        for name, unit in REPORT_ONLY:
            v = report["report_only"][name]
            shown = f"{v:14.6g}" if v is not None else \
                f"n/a (fewer than {P90_MIN_OPS} ops)"
            print(f"  {name:40s} {shown} {unit}")
    for name, unit in names:
        print(f"  {name:40s} {values[name]:14.6g} {unit}")
    return {name: {"value": values[name], "unit": unit}
            for name, unit in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["fed_relay", "llm_pipeline", "dedup_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root ({missing[0]} "
              f"not found)", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work)

    from perfbench.harness import Ctx, run
    from perfbench.trace import SpanRecorder

    ctx = Ctx(root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace),
              rec=SpanRecorder() if args.trace else None)
    if args.workload == "fed_relay":
        from perfbench.fed_relay import FedRelay as Bench
    elif args.workload == "llm_pipeline":
        from perfbench.llm_pipeline import LlmPipeline as Bench
    else:
        from perfbench.dedup_ingest import DedupIngest as Bench
    report = None
    try:
        bench = Bench(ctx)
        report = run(ctx, bench)
        if ctx.rec is not None and "layer" in report:
            traces = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            ctx.rec.dump(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"),
                {"report": report})
    finally:
        _stop_everything(ctx)
        shutil.rmtree(work, ignore_errors=True)
    if report is None or "e2e" not in report:
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    metrics = _print_report(report, bool(args.trace))
    print(json.dumps({"correct": report["correct"],
                      "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    sys.exit(main())
