"""Streaming quantile accumulation — bounded-state latency/price/size
distributions over an unbounded stream.

Exact streaming quantiles need the whole value multiset; the log-bucket
histogram (`operators/quantile_sketch` — the DDSketch idea over
driver-literal boundaries) is the bounded alternative: each micro-batch
folds into ≤ B counts per group, and histogram **linearity** (per-bucket
addition) makes the store an accumulator across batches, runs, and
restarts — quantiles answered from the merged store are IDENTICAL to a
single-pass build over everything ever seen, not approximately so (the
approximation lives entirely in the fixed bucket width, which replay
order cannot change).

Replay safety, the monotonic-id guard, the compaction cadence and the
fold are `_store.py`'s store contract verbatim; the merge is the
per-bucket sum, so compaction leaves every estimate unchanged —
linearity again.

State: O(batches × groups × B) between compactions, O(groups × B)
after — never O(rows).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.quantile_sketch import (
    histogram_quantiles,
    log_bucket_histogram,
)
from ._store import (
    compact_store,
    read_merged,
    start_batch_stream,
    write_partial,
)

__all__ = [
    "histogram_batch_update",
    "run_histogram_stream",
    "histogram_store",
    "histogram_store_quantiles",
    "compact_histogram_store",
]


def _merge(rows: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-bucket sum: the one merge the readout and the compactor
    share."""
    return rows.groupBy(*group_cols, "bucket").agg(F.sum("cnt").alias("cnt"))


def histogram_batch_update(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    val_col: str,
    group_cols: list[str],
    boundaries: list[float],
) -> int:
    """Fold one micro-batch's histogram delta into the store; returns
    rows written. Reusable from any ``foreachBatch`` or batch loop with
    monotonic batch numbering."""
    return write_partial(
        batch_df,
        batch_id,
        store_dir,
        lambda df: log_bucket_histogram(df, val_col, group_cols, boundaries),
    )


def run_histogram_stream(
    stream_df: DataFrame,
    *,
    store_dir: str,
    checkpoint_dir: str,
    val_col: str,
    group_cols: list[str],
    boundaries: list[float],
    compact_every: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the accumulation query: every micro-batch's histogram delta
    lands in its own store partition; ``compact_every=N`` folds the
    store every N batches (``_store.start_batch_stream``)."""
    return start_batch_stream(
        stream_df,
        partial(
            histogram_batch_update,
            store_dir=store_dir,
            val_col=val_col,
            group_cols=group_cols,
            boundaries=boundaries,
        ),
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
        compact_every=compact_every,
        compact=partial(
            compact_histogram_store, store_dir=store_dir, group_cols=group_cols
        ),
    )


def histogram_store(
    spark, store_dir: str, group_cols: list[str], *, heal: bool = True
) -> DataFrame:
    """The whole-history histogram: per-bucket sum over every delta.
    ``heal=False`` makes the readout strictly read-only (see
    ``_store.read_store``)."""
    return read_merged(
        spark, store_dir, partial(_merge, group_cols=group_cols), heal=heal
    )


def histogram_store_quantiles(
    spark,
    store_dir: str,
    group_cols: list[str],
    boundaries: list[float],
    qs: list[float],
    heal: bool = True,
) -> DataFrame:
    """Quantiles over everything ever accumulated — identical to a
    direct single-pass sketch over the union of all batches."""
    return histogram_quantiles(
        histogram_store(spark, store_dir, group_cols, heal=heal),
        group_cols,
        boundaries,
        qs,
    )


def compact_histogram_store(
    spark, store_dir: str, group_cols: list[str], *, keep_last: int = 1
) -> int:
    """Collapse all batch partitions strictly below the newest
    ``keep_last`` into one via per-bucket sums (quantile answers
    unchanged: linearity)."""
    return compact_store(
        spark,
        store_dir,
        partial(_merge, group_cols=group_cols),
        keep_last=keep_last,
    )
