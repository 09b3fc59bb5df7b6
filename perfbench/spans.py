"""Outside-in span tracing: the benchmark replaces the package's public
functions at the module attributes their callers look them up through
(their import sites) with timing wrappers for the rest of the process.
No package file is edited.

A span is ``(span_id, name, start, end, parent_id, op_id)``. Spans live in
memory and are written out once, at exit. Only driver-side calls can be
wrapped: the per-record fold runs inside executor Python workers.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[tuple] = []
        self.op_id = None  # the main thread's current op
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def wrap(self, name: str, fn, *, starts_op: bool = False):
        """``fn`` recording a span per call while ``enabled``. A span with
        ``starts_op`` opens a new op id for everything under it on its
        thread (a stream micro-batch runs on a callback thread)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._stack()
            sid = next(self._ids)
            parent = stack[-1][0] if stack else None
            if starts_op:
                op = ("batch", next(self._ops))
            elif stack:
                op = stack[-1][1]
            else:
                op = self.op_id
            stack.append((sid, op))
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                self.spans.append((sid, name, t0, t1, parent, op))

        return traced

    def patch(self, owner, attr: str, name: str, **kw) -> None:
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), **kw))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sid, name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": t0,
                                    "end": t1, "parent": parent,
                                    "op": op}) + "\n")


def install(tracer: Tracer, eng) -> None:
    """Wrap every layer boundary the benchmark reports on. ``eng`` is a
    namespace of the package's modules (see ``workloads.modules``)."""
    p = tracer.patch
    p(eng.session, "get_session", "session.get_session")
    for mod in (eng.routing, eng.infer_stream):
        p(mod, "split_valid", "routing.split_valid")
    for mod in (eng.catalog, eng.infer_stream):
        p(mod, "infer_schema_df", "infer.infer_schema_df")
        p(mod, "render_hive_ddl", "render.render_hive_ddl")
    for mod in (eng.infer, eng.infer_stream):
        p(mod, "merge_types", "lattice.merge_types")
    p(eng.infer, "type_from_dict", "lattice.type_from_dict")
    p(eng.catalog, "render_spark_ddl", "render.render_spark_ddl")
    p(eng.infer_stream, "render_alter_ddl", "render.render_alter_ddl")
    p(eng.catalog, "infer_and_register", "catalog.infer_and_register")
    p(eng.catalog, "register_table", "catalog.register_table")
    p(eng.infer_stream.InferenceState, "process_batch", "stream.process_batch",
      starts_op=True)


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------

def self_times(spans) -> dict[int, float]:
    """span id → duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sid, _, t0, t1, parent, _ in spans:
        if parent is not None:
            children.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, _, t0, t1, _, _ in spans:
        covered, end = 0.0, t0
        for c0, c1 in sorted(children.get(sid, ())):
            c0, c1 = max(c0, end), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        out[sid] = (t1 - t0) - covered
    return out


def per_op(spans, ops) -> dict[str, list[dict]]:
    """For each span name, one ``{"s", "self_s", "calls"}`` total per op
    in ``ops`` (zeros where the op never called it)."""
    selfs = self_times(spans)
    totals: dict[tuple, dict] = {}
    names = set()
    for sid, name, t0, t1, _, op in spans:
        names.add(name)
        t = totals.setdefault((name, op), {"s": 0.0, "self_s": 0.0, "calls": 0})
        t["s"] += t1 - t0
        t["self_s"] += selfs[sid]
        t["calls"] += 1
    zero = {"s": 0.0, "self_s": 0.0, "calls": 0}
    return {n: [totals.get((n, op), zero) for op in ops] for n in names}
