"""Continuous schema inference — the Structured Streaming rendering of the
reference's per-trigger operation (SURVEY §2 'streaming constructs': NiFi's
scheduler fires ``onTrigger`` per flowfile; here ``foreachBatch`` fires per
micro-batch of newly-arrived NDJSON files).

Design (SURVEY §7 step 5): the accumulated schema lives on the DRIVER
across batches — merge state is a tiny type tree, not row state, so no
stateful operator / watermark machinery is needed for parity. Each batch:

1. one aggregate over the batch: valid/invalid counts plus the lattice
   schema of the valid records (``route_and_infer``); invalid lines are
   written to the quarantine sink when one is set and there are any
2. ``merge_types`` into the accumulated schema
3. on drift (schema changed): re-render DDL, invoke ``on_drift`` —
   the ALTER TABLE / re-register hook

``run_inference_stream`` wires a file-source stream; ``InferenceState`` is
reusable from any foreachBatch.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

# ``infer_schema_df`` stays a module attribute: perfbench/spans.py wraps it.
from ..operators.infer import infer_schema_df, route_and_infer  # noqa: F401
from ..operators.routing import split_valid
from ..plans.lattice import merge_types, type_to_dict
from ..plans.render import render_alter_ddl, render_hive_ddl
from ._store import start_batch_stream

__all__ = ["InferenceState", "run_inference_stream"]


@dataclass
class InferenceState:
    """Driver-held accumulated schema + drift-aware DDL emission."""

    table: str
    location: str
    schema: DataType = field(default_factory=lambda: StructType([]))
    batches: int = 0
    good_rows: int = 0
    bad_rows: int = 0
    ddl_history: list[str] = field(default_factory=list)
    alter_history: list[str] = field(default_factory=list)
    on_drift: Callable[[str, DataType], None] | None = None
    quarantine_path: str | None = None

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches += 1
        good, bad, batch_schema = route_and_infer(batch_df, "value")
        if bad and self.quarantine_path is not None:
            split_valid(batch_df, "value").failure.write.mode("append").text(
                self.quarantine_path
            )
        self.good_rows += good
        self.bad_rows += bad
        if good == 0:
            return  # null-input guard (SURVEY §2 O16)
        before = type_to_dict(self.schema)
        merged = merge_types(self.schema, batch_schema)
        if type_to_dict(merged) != before:
            old = self.schema
            # drift from the empty initial schema IS the table creation
            # — an ALTER restating the CREATE's columns would be
            # redundant (and invalid: the table doesn't exist yet). A
            # resumed state pre-seeded with a prior schema still emits
            # ALTERs, so the empty-schema test is the right signal,
            # not ddl_history emptiness.
            is_creation = isinstance(old, StructType) and not old.fields
            self.schema = merged
            ddl = render_hive_ddl(
                merged, self.table, self.location, drop_if_exists=True
            )
            self.ddl_history.append(ddl)
            # incremental path: evolve the live table in place instead
            # of re-creating it (SURVEY §7 step 5 - ALTER on drift)
            if not is_creation:
                self.alter_history.extend(
                    render_alter_ddl(old, merged, self.table)
                )
            if self.on_drift is not None:
                self.on_drift(ddl, merged)

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
