"""Continuous data-quality monitoring — the streaming rendering of the
``operators/quality_checks`` promotion gate: every micro-batch is
evaluated against the declared constraint suite and the per-rule report
is APPENDED to a quality-history table (batch_id keyed), so a dashboard
reads one tiny parquet and alerting is "any row with passed = false in
the last N batches".

Same state discipline as the sibling ``infer_stream``: the rule suite
costs one aggregate pass per batch (map-side combinable conditional
sums), the report is rules-sized (a handful of rows), and nothing is
held on the driver between batches — batch_id comes from foreachBatch,
so replays after failure overwrite-by-batch idempotently (the
``sink.idempotent_partition_sink`` recipe applied to the report).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.quality_checks import quality_report
from ..sources.formats import overwrite_partitions
from ._store import start_batch_stream

__all__ = ["run_quality_stream"]


def run_quality_stream(
    stream: DataFrame,
    report_path: str,
    *,
    checkpoint: str,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
    ranges: dict[str, tuple] | None = None,
    on_fail: Callable[[int, list], None] | None = None,
    trigger_available_now: bool = True,
):
    """Attach the constraint suite to a stream; returns the started
    StreamingQuery. Each batch appends its report partitioned by
    ``batch_id`` (dynamic partition overwrite → replay-idempotent);
    ``on_fail(batch_id, failed_rows)`` fires when any rule fails —
    wire paging/quarantine there. ``unique`` is evaluated WITHIN each
    batch (cross-batch uniqueness is the incremental-dedup operator's
    job, ``streaming/incremental_dedup.py``)."""

    def _check(batch: DataFrame, batch_id: int) -> None:
        rep = quality_report(
            batch,
            not_null=not_null,
            unique=unique,
            accepted_values=accepted_values,
            ranges=ranges,
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        overwrite_partitions(rep, report_path, ["batch_id"])
        if on_fail is not None:
            failed = [r for r in rep.collect() if not r["passed"]]
            if failed:
                on_fail(batch_id, failed)

    return start_batch_stream(
        stream,
        _check,
        checkpoint_dir=checkpoint,
        available_now=trigger_available_now,
    )
