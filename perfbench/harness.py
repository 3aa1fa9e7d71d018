"""The measurement loop shared by every workload.

One process, one closed-loop caller: the next op starts when the previous
one has returned. The untraced run times only the calls a user makes and
reports the end-to-end metrics. The traced run wraps the public functions
of each layer (see ``install_common_tracing`` and each workload's
``install_tracing``) and reports the per-layer metrics: each is the median,
over the traced ops on which the layer did work, of its per-op value.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import procfs, sparkmetrics
from perfbench.trace import SpanRecorder

# (name, unit) of every end-to-end metric the last line reports.
E2E = [("setup_s", "s"), ("op_p50_ms", "ms"), ("peak_rss_mb", "MB")]
# Printed with the end-to-end metrics, not on the last line. On a 4-core
# host whose speed drifts by up to half within an hour, ops_per_s and
# cpu_s_per_op spread by about a quarter of their median from run to run,
# too much to gate on; docs_per_s is ops_per_s times the docs per op;
# error_rate is failed / attempted; op_drift and op_p90_ms rest on too few
# ops per run.
REPORT_ONLY = [("ops", "count"), ("ops_per_s", "1/s"), ("cpu_s_per_op", "s"),
               ("op_p90_ms", "ms"), ("docs_per_s", "docs/s"),
               ("op_drift", "ratio"), ("error_rate", "ratio")]
P90_MIN_OPS = 100

LLM_OPS = ["dedup_minhash_lsh", "dedup_simhash_recall",
           "dedup_embedding_cosine", "knn_ivf_approx",
           "dedup_semantic_clusters", "text_quality_langid",
           "text_repetition_gopher", "text_tfidf_top_terms",
           "dedup_contamination_check", "graph_pagerank_domains",
           "embedding_index_classify"]

# (name, unit) of every per-layer metric the traced run reports on its
# last line.
LAYER = (
    [("plans.plan_ms", "ms"), ("plans.validate_ms", "ms"),
     ("plans.facts_ms", "ms"), ("plans.resolve_ms", "ms"),
     ("plans.jvm_calls", "count"), ("plans.topgroups_rounds", "count"),
     ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
     ("catalyst.planning_ms", "ms"),
     ("sources.exec_ms", "ms"), ("sources.endpoints", "count"),
     ("sources.result_bytes", "bytes"), ("sources.forward_calls", "count"),
     ("sources.peer_rows", "count"), ("sources.peer_batches", "count"),
     ("fed.unattributed_ms", "ms")]
    + [("functions.classify_ms", "ms"), ("functions.append_ms", "ms"),
       ("functions.compact_ms", "ms"),
       ("udf.python_cpu_s", "s"), ("udf.bytes_to_python", "bytes"),
       ("udf.bytes_from_python", "bytes"),
       ("session.cached_rdds_after_op", "count"),
       ("session.cached_bytes_after_op", "bytes"),
       ("session.sql_cached_after_op", "count"),
       ("spark.jobs", "count"), ("spark.stages", "count"),
       ("spark.tasks", "count"), ("spark.failed_tasks", "count"),
       ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
       ("spark.gc_ms", "ms"), ("spark.shuffle_read_bytes", "bytes"),
       ("spark.shuffle_write_bytes", "bytes")]
    + [(f"stream.{p}_ms", "ms") for p in sparkmetrics.STREAM_PHASES]
    + [("stream.input_rows", "count"),
       ("storage.index_files", "count"), ("storage.corpus_files", "count"),
       ("storage.checkpoint_files", "count"),
       ("storage.bytes_written_per_doc", "bytes"),
       ("proc.driver_cpu_s", "s"), ("proc.jvm_cpu_s", "s"),
       ("proc.pyworker_cpu_s", "s"), ("proc.peer_cpu_s", "s"),
       ("proc.jvm_rss_mb", "MB"),
       ("trace.overhead_ms", "ms"), ("trace.instrument_ms", "ms")])
# llm_pipeline's operator split, printed by its traced run.
LLM_LAYER = [(f"functions.{op}.{part}_ms", "ms")
             for op in LLM_OPS for part in ("build", "action")]


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    spark: object = None
    rec: SpanRecorder | None = None
    tree: procfs.ProcTree = field(default_factory=procfs.ProcTree)
    children: list = field(default_factory=list)  # Popen of helper processes

    def session(self, app: str):
        from dataweb_spark.session import get_spark
        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "wh"),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "10000"}
        if self.trace:
            conf.update(sparkmetrics.event_log_conf(
                os.path.join(self.work, "events")))
        self.spark = get_spark(app, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def install_common_tracing(ctx: Ctx, rec: SpanRecorder) -> None:
    """Layer hooks every workload shares: py4j commands per op and the
    Catalyst phases of every DataFrame collected as Arrow or rows."""
    frame_cls = type(ctx.spark.range(0))  # the classic DataFrame class
    client = ctx.spark.sparkContext._gateway._gateway_client
    counting = rec._local

    def count_cmd(_obj, _out, _args, _kwargs):
        if not getattr(counting, "in_hook", False):
            rec.count("plans.jvm_calls")
    rec.patch_method(type(client), "send_command", after=count_cmd)

    def phases(df, _out, _args, _kwargs):
        if rec.trace_id is None:
            return
        t = time.perf_counter()
        counting.in_hook = True
        try:
            for k, v in sparkmetrics.tracker_phases(df).items():
                rec.count(f"catalyst.{k}_ms", v)
        finally:
            counting.in_hook = False
            rec.count("trace.instrument_ms",
                      (time.perf_counter() - t) * 1000)
    for meth in ("toArrow", "collect", "toPandas"):
        rec.patch_method(frame_cls, meth, after=phases)


def run(ctx: Ctx, bench) -> dict:
    """Set up, measure, check. Returns the report dict (see run.py)."""
    t0 = time.perf_counter()
    bench.setup()
    setup_s = time.perf_counter() - t0

    rec = ctx.rec
    if rec is not None:
        install_common_tracing(ctx, rec)
        bench.install_tracing(rec)

    lat: dict[int, float] = {}
    windows: list[tuple[int, float, float]] = []
    traced_ops: list[int] = []
    per_op: dict[int, dict[str, float]] = {}
    raised: set[int] = set()
    before = ctx.tree.snapshot()
    start = time.perf_counter()
    i = 0
    while bench.keep_going(i, time.perf_counter() - start):
        traced = rec is not None and bench.traced_op(i)
        extra: dict[str, float] = {}
        if traced:
            snap0 = ctx.tree.snapshot()
        w0 = time.time() * 1000
        t = time.perf_counter()
        res = None
        try:
            if traced:
                with rec.op(i, "op"):
                    res = bench.op(i)
            else:
                res = bench.op(i)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            raised.add(i)
            traceback.print_exc(file=sys.stderr)
        lat[i] = (time.perf_counter() - t) * 1000
        window = (w0, time.time() * 1000)
        if res is not None:  # the workload timed the op itself
            lat[i] = res["ms"]
            window = res["window"]
        windows.append((i, *window))
        print(f"perfbench: op {i} {bench.op_class(i)} {lat[i]:.1f} ms",
              file=sys.stderr)
        snap1 = ctx.tree.snapshot()
        if traced:
            t_i = time.perf_counter()
            rec.trace_id = None
            traced_ops.append(i)
            for k, v in procfs.delta(snap1, snap0).items():
                extra[f"proc.{k}"] = v
            extra["udf.python_cpu_s"] = extra["proc.pyworker_cpu_s"]
            extra["proc.jvm_rss_mb"] = snap1["jvm_rss_mb"]
            rec._local.in_hook = True
            try:
                for k, v in sparkmetrics.storage_state(ctx.spark).items():
                    extra[f"session.{k}_after_op"] = v
                extra.update(bench.traced_extras(i))
            finally:
                rec._local.in_hook = False
            extra["trace.instrument_ms"] = (
                (time.perf_counter() - t_i) * 1000
                + rec.counts[i].get("trace.instrument_ms", 0.0))
            per_op[i] = extra
        i += 1
    elapsed = time.perf_counter() - start
    after = ctx.tree.snapshot()
    n = len(lat)

    wrong = bench.check()
    failed = raised | set(wrong)
    report = {"workload": bench.name, "attempted": n, "failed": len(failed),
              "correct": not failed and n > 0,
              "properties": bench.properties()}
    if n == 0:
        return report
    ops = list(lat.values())
    cpu = (after["cpu_s"] - before["cpu_s"]) / n
    report["e2e"] = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(ops),
        "peak_rss_mb": ctx.tree.peak_rss,
    }
    q = max(n // 4, 1)
    report["report_only"] = {
        "ops": n,
        "ops_per_s": n / elapsed,
        "cpu_s_per_op": cpu,
        "op_p90_ms": quantile(ops, 0.9) if n >= P90_MIN_OPS else None,
        "docs_per_s": n * bench.docs_per_op / elapsed,
        "op_drift": (statistics.median(ops[-q:]) / statistics.median(ops[:q])
                     if n >= 4 else 1.0),
        "error_rate": len(failed) / n,
    }
    if rec is not None:
        report["layer"], report["unavailable"] = layer_metrics(
            ctx, bench, rec, lat, windows, traced_ops, per_op)
    return report


def tracing_overhead(bench, lat: dict[int, float],
                     traced: set[int]) -> float | None:
    """Traced minus untraced op latency, compared within each op class
    (ops expected to cost the same) and taken as the median over classes
    that have both; None when no class has both."""
    by_class: dict[str, tuple[list, list]] = {}
    for op, ms in lat.items():
        pair = by_class.setdefault(bench.op_class(op), ([], []))
        pair[op in traced].append(ms)
    diffs = [statistics.median(t) - statistics.median(u)
             for u, t in by_class.values() if u and t]
    return statistics.median(diffs) if diffs else None


def layer_metrics(ctx, bench, rec, lat, windows, traced_ops, per_op):
    """Per-op layer values from spans, counts, /proc, the event log and the
    workload's own readers; each metric is the median over traced ops."""
    ctx.spark.stop()  # flushes and closes the event log
    jobs = sparkmetrics.parse_event_log(os.path.join(ctx.work, "events"))
    by_op = sparkmetrics.attribute_jobs(jobs, windows)
    spans = rec.per_op_totals(traced_ops)
    values: dict[str, list[float]] = {}
    for op in traced_ops:
        m = dict(per_op[op])
        for name, ms in spans[op].items():
            if name != "op":
                m[f"{name}_ms"] = ms
        for name, v in rec.counts[op].items():
            if name != "trace.instrument_ms":
                m[name] = v
        for k, v in by_op[op].items():
            key = {"bytes_to_python": "udf.bytes_to_python",
                   "bytes_from_python": "udf.bytes_from_python"}.get(
                       k, f"spark.{k}")
            m[key] = v
        m.update(bench.op_layer_values(op, lat[op], m))
        for k, v in m.items():
            values.setdefault(k, []).append(v)
    overhead = tracing_overhead(bench, lat, set(traced_ops))
    if overhead is not None:
        values["trace.overhead_ms"] = [overhead]
    out = {}
    unavailable = {}
    for name, _unit in LAYER + (LLM_LAYER if bench.name == "llm_pipeline"
                                else []):
        if name in values:
            out[name] = statistics.median(values[name])
        else:
            out[name] = 0.0
            unavailable[name] = bench.unavailable_reason(name)
    return out, unavailable
