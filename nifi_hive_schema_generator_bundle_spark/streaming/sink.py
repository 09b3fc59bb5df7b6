"""Exactly-once-per-partition streaming file sink.

Structured Streaming's default file sink is append-only: a replayed
micro-batch (driver restart between write and checkpoint commit)
appends its rows twice. Composing ``foreachBatch`` with dynamic
partition overwrite (`sources/formats.overwrite_partitions`) makes the
write idempotent at partition granularity: a replayed batch REWRITES
the partitions it owns instead of appending, so retries converge to the
same bytes. This is the standard lakehouse-less exactly-once recipe —
the precondition is that the partition columns are deterministic
functions of the data (e.g. event-time date), which also makes them the
natural backfill unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sources.formats import overwrite_partitions
from ._store import start_batch_stream

__all__ = ["idempotent_partition_sink"]


def idempotent_partition_sink(
    stream_df: DataFrame,
    path: str,
    partition_by: list[str],
    *,
    checkpoint_dir: str,
    fmt: str = "parquet",
    available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming query writing via dynamic partition overwrite.

    Each micro-batch rewrites exactly the hive partitions it contains;
    sibling partitions (earlier days) are never touched. Safe to retry,
    safe to backfill, and the output is a plain partitioned directory
    any engine can read."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        overwrite_partitions(batch_df, path, partition_by, fmt=fmt)

    return start_batch_stream(
        stream_df,
        write_batch,
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
    )
