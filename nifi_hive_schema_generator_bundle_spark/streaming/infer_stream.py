"""Continuous schema inference — the Structured Streaming rendering of the
reference's per-trigger operation (SURVEY §2 'streaming constructs': NiFi's
scheduler fires ``onTrigger`` per flowfile; here ``foreachBatch`` fires per
micro-batch of newly-arrived NDJSON files).

Design (SURVEY §7 step 5): the accumulated schema lives on the DRIVER
across batches as a raw lattice shape (``plans.lattice``) — a tiny type
tree, not row state, so no stateful operator / watermark machinery is
needed for parity. Each batch:

1. one Spark job of one stage: valid/invalid counts plus the raw shape
   of the valid records, observed on the append of the invalid lines to
   the quarantine sink when one is set (a ``noop`` write otherwise)
2. ``merge_raw`` into the accumulated shape (kept as merged, so a
   bottom later refined to a struct stays a struct)
3. on drift — ``finalize_raw`` of the shape changed, a change the table
   can see — re-render DDL and invoke ``on_drift``, the ALTER TABLE /
   re-register hook

``run_inference_stream`` wires a file-source stream; ``InferenceState`` is
reusable from any foreachBatch.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

# ``infer_schema_df``, ``split_valid`` and ``merge_types`` stay module
# attributes: perfbench/spans.py wraps them.
from ..operators.infer import _observe, infer_schema_df  # noqa: F401
from ..operators.routing import split_valid  # noqa: F401
from ..plans.lattice import finalize_raw, merge_raw, merge_types  # noqa: F401
from ..plans.lattice import type_from_dict, type_to_dict
from ..plans.render import render_alter_ddl, render_hive_ddl
from ._store import start_batch_stream

__all__ = ["InferenceState", "run_inference_stream"]


@dataclass
class InferenceState:
    """Driver-held accumulated schema (kept raw; ``schema`` reads and
    assigns a ``DataType``) + drift-aware DDL emission."""

    table: str
    location: str
    batches: int = 0
    good_rows: int = 0
    bad_rows: int = 0
    ddl_history: list[str] = field(default_factory=list)
    alter_history: list[str] = field(default_factory=list)
    on_drift: Callable[[str, DataType], None] | None = None
    quarantine_path: str | None = None
    _shape: Any = field(default_factory=dict, init=False, repr=False)

    @property
    def schema(self) -> DataType:
        return type_from_dict(self._shape)

    @schema.setter
    def schema(self, dt: DataType) -> None:
        self._shape = type_to_dict(dt)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches += 1
        good, bad, shape = _observe(batch_df, "value", self.quarantine_path)
        self.good_rows += good
        self.bad_rows += bad
        old, self._shape = self._shape, merge_raw(self._shape, shape)
        if finalize_raw(self._shape) == finalize_raw(old):
            return  # no change the table can see, e.g. an all-bad batch (O16)
        schema = self.schema
        ddl = render_hive_ddl(schema, self.table, self.location, drop_if_exists=True)
        self.ddl_history.append(ddl)
        # drift from the empty initial schema IS the table creation — an
        # ALTER restating the CREATE's columns would be redundant (and
        # invalid: the table doesn't exist yet). A resumed state pre-seeded
        # with a prior schema still emits ALTERs, so the empty-schema test
        # is the right signal, not ddl_history emptiness. Otherwise evolve
        # the live table in place (SURVEY §7 step 5 - ALTER on drift).
        if old != {}:
            self.alter_history.extend(
                render_alter_ddl(type_from_dict(old), schema, self.table)
            )
        if self.on_drift is not None:
            self.on_drift(ddl, schema)

    @property
    def current_ddl(self) -> str | None:
        return self.ddl_history[-1] if self.ddl_history else None


def run_inference_stream(
    spark: SparkSession,
    input_dir: str,
    table: str,
    location: str,
    *,
    checkpoint_dir: str,
    quarantine_path: str | None = None,
    on_drift: Callable[[str, DataType], None] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """File-source NDJSON stream → per-batch inference with drift tracking.

    ``available_now=True`` drains what's there and stops (test/backfill
    mode); ``False`` runs continuously per the default trigger. Returns
    ``(query, state)`` — await ``query`` then read ``state``.
    """
    state = InferenceState(
        table=table,
        location=location,
        quarantine_path=quarantine_path,
        on_drift=on_drift,
    )
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        # micro-batch size throttle: bounds per-batch work (and memory)
        # when draining a large backlog
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    query = start_batch_stream(
        reader.load(input_dir),
        state.process_batch,
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
    )
    return query, state
