"""``llm_pipeline``: one pass of eleven declared LLM-pipeline operators.

Each op builds one operator's DataFrame through its declared query function
(``dataweb_spark.queries``; building includes any eager ``localCheckpoint``
jobs) and ends when the full result is on the driver as Arrow
(``toArrow()``). One pass runs every operator once, in a seed-shuffled
order, and a run measures whole passes. A pass runs in a fresh session,
after the Python workers have started and imported the operator modules:
every op is the operator's first run in the session, as in a pipeline job
that runs each stage once.
"""

from __future__ import annotations

import os
import random
import sys
import time

from perfbench import datagen
from perfbench.harness import LLM_OPS
from perfbench.oracle import Oracle

DOCS = 500
EMBEDDINGS = 500


def _import_operator_modules(batches):
    """mapInArrow body: import every operator module on the worker."""
    import importlib
    import pkgutil

    import dataweb_spark.functions as fns
    for m in pkgutil.iter_modules(fns.__path__):
        importlib.import_module(f"dataweb_spark.functions.{m.name}")
    yield from batches


class LlmPipeline:
    name = "llm_pipeline"
    docs_per_op = DOCS

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "data")
        rng = random.Random(ctx.seed)
        self.order = list(LLM_OPS)
        rng.shuffle(self.order)
        self.results: dict[int, object] = {}
        self.names: dict[int, str] = {}

    def setup(self) -> None:
        self.rows = datagen.write_tables(self.sf_dir, self.ctx.seed,
                                         docs=DOCS, embeddings_n=EMBEDDINGS)
        spark = self.ctx.session("perfbench-llm_pipeline")
        from dataweb_spark.queries import queries
        self.queries = queries()
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        (spark.range(0, 64 * cpus, 1, cpus)
         .mapInArrow(_import_operator_modules, "id long").count())

    def keep_going(self, i: int, elapsed: float) -> bool:
        return elapsed < self.ctx.seconds or i % len(self.order) != 0

    def traced_op(self, i: int) -> bool:
        return True

    def op_class(self, i: int) -> str:
        return self.names[i]

    def op(self, i: int) -> None:
        name = self.order[i % len(self.order)]
        self.names[i] = name
        rec = self.ctx.rec
        if rec is not None and rec.trace_id == i:
            with rec.span(f"functions.{name}.build"):
                df = self.queries[name](self.ctx.spark, self.sf_dir)
            with rec.span(f"functions.{name}.action"):
                self.results[i] = df.toArrow()
        else:
            df = self.queries[name](self.ctx.spark, self.sf_dir)
            self.results[i] = df.toArrow()

    def install_tracing(self, rec) -> None:
        pass

    def traced_extras(self, i: int) -> dict:
        return {}

    def op_layer_values(self, i: int, op_ms: float, m: dict) -> dict:
        return {}

    def unavailable_reason(self, name: str) -> str:
        if name == "trace.overhead_ms":
            return ("each operator runs once per session, so no untraced "
                    "run of the same op exists in a traced run; "
                    "trace.instrument_ms is the time the tracing code took")
        return "no traced llm_pipeline op reached this layer"

    def check(self) -> list[int]:
        from dataweb_spark.queries import oracle_sql
        oracles = oracle_sql()
        oracle = Oracle(self.ctx.root, self.sf_dir)
        bad = []
        try:
            for i, got in self.results.items():
                name = self.names[i]
                t = time.perf_counter()
                ok, why = oracle.matches(got, oracle.run(oracles[name]))
                if not ok:
                    print(f"llm_pipeline op {i} {name}: {why} "
                          f"[{time.perf_counter() - t:.1f}s]",
                          file=sys.stderr)
                    bad.append(i)
        finally:
            oracle.close()
        return bad

    def properties(self) -> dict:
        return {"documents_rows": self.rows["documents"],
                "embeddings_rows": self.rows["embeddings"],
                "order": self.order}
