"""In-memory span recorder for the traced run (stdlib only).

A span is ``(id, trace, name, parent, start, end)``; every span opened while
an op runs carries that op's id as its trace id. A span opened on another
thread (the Flight server's gRPC threads, the gate's writer threads) with no
open span of its own hangs under the innermost span the op's thread has
open, e.g. the client's ``get_flight_info`` span.

Wrappers are installed by rebinding: a public function is replaced, in every
loaded ``dataweb_spark`` module that binds it under its own name, by a
wrapper that records a span around the call. Wrappers stay for the life of
the process, which is one traced run.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class SpanRecorder:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [id, trace, name, parent, start, end]
        self.counts: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.trace_id: int | None = None
        self._op_stack: list[int] = []   # the op thread's open spans
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        op_stack = self._op_stack
        parent = stack[-1] if stack else (op_stack[-1] if op_stack else None)
        rec = [sid, self.trace_id, name, parent, time.perf_counter(), None]
        stack.append(sid)
        try:
            yield rec
        finally:
            rec[5] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, op_id: int, name: str):
        """The root span of one op; sets the trace id for every thread."""
        self.trace_id = op_id
        self._op_stack = self._stack()
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self._op_stack = []

    def count(self, name: str, value: float = 1.0) -> None:
        if self.trace_id is not None:
            with self._lock:
                self.counts[self.trace_id][name] += value

    def wrap(self, name: str, fn, count: str | None = None):
        """``fn`` with a span around each call made while an op is traced,
        and a per-op call counter named ``count``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.trace_id is None:
                return fn(*args, **kwargs)
            if count is not None:
                self.count(count)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # -- installing wrappers ----------------------------------------------

    def rebind(self, module_name: str, attr: str, span_name: str,
               count: str | None = None) -> int:
        """Wrap ``module_name.attr`` and rebind the wrapper in every loaded
        ``dataweb_spark`` module that binds the same function object.
        Returns the number of modules rebound."""
        original = getattr(sys.modules[module_name], attr)
        wrapper = self.wrap(span_name, original, count)
        n = 0
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith("dataweb_spark"):
                continue
            for name, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, name, wrapper)
                    n += 1
        return n

    def patch_method(self, cls, attr: str, span_name: str | None = None,
                     after=None) -> None:
        """Wrap a method on ``cls``: a span named ``span_name`` (when given)
        and an ``after(self, result, args, kwargs)`` hook."""
        original = getattr(cls, attr)
        rec = self

        @functools.wraps(original)
        def patched(obj, *args, **kwargs):
            if span_name is None:
                out = original(obj, *args, **kwargs)
            else:
                with rec.span(span_name):
                    out = original(obj, *args, **kwargs)
            if after is not None:
                after(obj, out, args, kwargs)
            return out
        setattr(cls, attr, patched)

    # -- analysis -----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id → duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sid, _t, _n, parent, s, e in self.spans:
            if parent is not None:
                children[parent].append((s, e))
        out = {}
        for sid, _t, _n, _p, s, e in self.spans:
            covered = 0.0
            cur_s = cur_e = None
            for cs, ce in sorted(children.get(sid, ())):
                cs, ce = max(cs, s), min(ce, e)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sid] = (e - s) - covered
        return out

    def per_op_totals(self, ops: list[int]) -> dict[int, dict[str, float]]:
        """op id → span name → summed duration in ms."""
        tot: dict[int, dict[str, float]] = {o: defaultdict(float) for o in ops}
        for _sid, trace, name, _p, s, e in self.spans:
            if trace in tot:
                tot[trace][name] += (e - s) * 1000.0
        return tot

    def self_time_summary(self) -> dict[str, dict[str, float]]:
        """span name → total and median self time in ms."""
        st = self.self_times()
        by_name: dict[str, list[float]] = defaultdict(list)
        for sid, _t, name, _p, _s, _e in self.spans:
            by_name[name].append(st[sid] * 1000.0)
        return {n: {"calls": len(v), "self_ms_total": round(sum(v), 3),
                    "self_ms_median": round(statistics.median(v), 3)}
                for n, v in sorted(by_name.items())}

    def dump(self, path: str, extra: dict) -> None:
        st = self.self_times()
        body = {
            "spans": [{"id": sid, "trace": t, "name": n, "parent": p,
                       "start": s, "end": e, "self_s": st[sid]}
                      for sid, t, n, p, s, e in self.spans],
            "counts": {str(k): dict(v) for k, v in self.counts.items()},
            "self_time": self.self_time_summary(),
            **extra,
        }
        with open(path, "w") as f:
            json.dump(body, f)
