"""The closed-loop workloads: one client, one op at a time.

Each workload exposes ``warmup(spark)`` (one small op on the warm-up
input, checked) and ``unit(spark)``, which runs one unit of work on the
main input and returns its ops as ``Op`` records. A batch unit is one op;
a stream unit is one drain of the file backlog, one op per micro-batch.

Every op's output is checked against the generator's planted truth; a
failed check marks the op failed. Package functions are always looked up
through their module attribute at call time, so trace wrappers installed
on those attributes see every call.
"""

from __future__ import annotations

import itertools
import json
import os
import time
import types
from typing import NamedTuple


class Op(NamedTuple):
    seconds: float | None  # None when the op raised before a time existed
    ok: bool
    lines: int
    note: str = ""


def modules():
    """The package's modules the benchmark drives, by short name."""
    from nifi_hive_schema_generator_bundle_spark import catalog, session
    from nifi_hive_schema_generator_bundle_spark.operators import infer, routing
    from nifi_hive_schema_generator_bundle_spark.plans import lattice
    from nifi_hive_schema_generator_bundle_spark.streaming import infer_stream

    return types.SimpleNamespace(
        catalog=catalog, session=session, infer=infer, routing=routing,
        lattice=lattice, infer_stream=infer_stream,
    )


def shape(dt):
    """A Spark type as a canonical raw shape (the generator's form)."""
    from pyspark.sql.types import ArrayType, StructType

    if isinstance(dt, StructType):
        return {f.name: shape(f.dataType) for f in sorted(dt.fields, key=lambda f: f.name)}
    if isinstance(dt, ArrayType):
        return [shape(dt.elementType)]
    return "s"


def _tables(spark) -> set[str]:
    return {r.tableName for r in spark.sql("SHOW TABLES").collect()}


class Workload:
    # Untimed units on the main input before the timed phase, and the
    # fewest ops the phase times. A wide op falls by a third over its first
    # two ops as the JIT warms up; batch times fall by up to a third over
    # the first drain of a stream.
    prime_ops = 1
    min_ops = 2

    def __init__(self, eng, work: str, data: tuple, warm: tuple):
        self.eng = eng
        self.work = work
        self.data_dir, self.truth = data
        self.warm_dir, self.warm_truth = warm
        self.runs = itertools.count(1)

    def warmup(self, spark) -> None:
        for op in self.run(spark, self.warm_dir, self.warm_truth):
            if not op.ok:
                raise RuntimeError(f"warm-up op failed its check: {op.note}")

    def unit(self, spark) -> list[Op]:
        return self.run(spark, self.data_dir, self.truth)

    def run(self, spark, data_dir: str, truth: dict) -> list[Op]:
        raise NotImplementedError

    def units_failed(self, exc: BaseException) -> list[Op]:
        """The ops a unit that raised ``exc`` counts as failed."""
        return [Op(None, False, 0, repr(exc))]

    def sample_lines(self, limit: int) -> list[str]:
        """Up to ``limit`` lines of the main input (the single-thread fold)."""
        path = os.path.join(self.data_dir, self.truth["path"])
        with open(path, encoding="utf-8") as f:
            return [line for _, line in zip(range(limit), f)]


class WideBatch(Workload):
    """``catalog.infer_and_register`` over one wide NDJSON file."""

    name = "ndjson_wide_batch"
    table = "wide_t"
    prime_ops = 2
    min_ops = 6

    def run(self, spark, data_dir, truth):
        path = os.path.join(data_dir, truth["path"])
        loc = os.path.join(self.work, "loc", self.table)
        t0 = time.perf_counter()
        res = self.eng.catalog.infer_and_register(spark, path, self.table, loc)
        dt = time.perf_counter() - t0
        problems = []
        if (res["good_count"], res["bad_count"]) != (truth["good"], truth["bad"]):
            problems.append(f"counts {res['good_count']}/{res['bad_count']}")
        if not spark.catalog.tableExists(self.table):
            problems.append("table missing")
        elif shape(spark.table(self.table).schema) != truth["schema"]:
            problems.append("registered schema differs")
        return [Op(dt, not problems, truth["lines"], "; ".join(problems))]


class DriftStream(Workload):
    """``run_inference_stream`` draining the file backlog, one file per
    micro-batch; drift re-registers the table through ``on_drift``."""

    name = "ndjson_drift_stream"
    table = "drift_t"

    def run(self, spark, data_dir, truth):
        eng = self.eng
        loc = os.path.join(self.work, "loc", self.table)
        ckpt = os.path.join(self.work, "ckpt", f"drain{next(self.runs)}")

        def on_drift(ddl, schema):
            eng.catalog.register_table(spark, schema, self.table, loc)

        query, state = eng.infer_stream.run_inference_stream(
            spark, os.path.join(data_dir, truth["dir"]), self.table, loc,
            checkpoint_dir=ckpt, on_drift=on_drift, available_now=True,
            max_files_per_trigger=1,
        )
        try:
            query.awaitTermination(150)
        finally:
            query.stop()
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        problems = []
        if len(progress) != truth["files"]:
            problems.append(f"{len(progress)} batches for {truth['files']} files")
        if (state.good_rows, state.bad_rows) != (truth["good"], truth["bad"]):
            problems.append(f"counts {state.good_rows}/{state.bad_rows}")
        if len(state.ddl_history) != truth["drift_events"]:
            problems.append(f"{len(state.ddl_history)} drift events")
        if len(state.alter_history) != truth["alter_statements"]:
            problems.append(f"{len(state.alter_history)} ALTER statements")
        if shape(state.schema) != truth["schema"]:
            problems.append("accumulated schema differs")
        if self.table not in _tables(spark):
            problems.append("table missing")
        ok = not problems
        self.last_state = state
        return [Op(p.durationMs["triggerExecution"] / 1000.0, ok, p.numInputRows,
                   "; ".join(problems))
                for p in progress] or [Op(None, False, 0, "no batches")]

    def units_failed(self, exc):
        return [Op(None, False, 0, repr(exc))] * self.truth["files"]

    def sample_lines(self, limit):
        root = os.path.join(self.data_dir, self.truth["dir"])
        out = []
        for name in sorted(os.listdir(root)):
            with open(os.path.join(root, name), encoding="utf-8") as f:
                out.extend(f.read().splitlines())
        return out[:limit]


WORKLOADS = {w.name: w for w in (WideBatch, DriftStream)}


def fold_rate(lines: list[str], lattice) -> tuple[int, float]:
    """Single-thread reference fold of ``lines`` through the raw lattice
    (the executor hot loop, run here because executors cannot be
    wrapped). Returns (records folded, seconds)."""
    loads, infer_raw, merge_raw = json.loads, lattice.infer_raw, lattice.merge_raw
    schema, n = None, 0
    t0 = time.perf_counter()
    for line in lines:
        try:
            t = infer_raw(loads(line))
        except ValueError:
            continue
        schema = t if schema is None else merge_raw(schema, t)
        n += 1
    return n, time.perf_counter() - t0
