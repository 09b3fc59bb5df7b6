"""Streaming count-min accumulation — bounded-state frequency counts
over an unbounded key stream.

Exact streaming key counts need O(distinct keys) state — unbounded on
a token stream. The count-min grid (`operators/sketches`) is the
bounded alternative: each micro-batch folds into ≤ depth × width
cells, and grid **linearity** (per-cell addition) makes the store an
accumulator across batches, runs, and restarts.

Replay safety, the monotonic-id guard, the compaction cadence and the
fold are `_store.py`'s store contract verbatim. The merge is per-cell
sum (`cms_merge`): the order of batch deltas never matters, and
compaction preserves every estimate bit-for-bit — linearity again.

State: O(batches × depth × width) between compactions, O(depth ×
width) after — never O(distinct keys).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketches import cms_build, cms_lookup, cms_merge
from ._store import (
    compact_store,
    read_merged,
    read_store,
    start_batch_stream,
    write_partial,
)

__all__ = [
    "cms_batch_update",
    "run_cms_stream",
    "cms_store_grid",
    "cms_store_estimate",
    "compact_cms_store",
]


# the heal-then-read helper under its older name (tests import it here)
_read_store = read_store


def cms_batch_update(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    weight_col: str | None = None,
) -> int:
    """Fold one micro-batch into the grid store; returns cells written.

    Reusable from any ``foreachBatch`` or batch loop with monotonic
    batch numbering."""
    return write_partial(
        batch_df,
        batch_id,
        store_dir,
        lambda df: cms_build(
            df, key_col, depth=depth, width=width, weight_col=weight_col
        ),
    )


def run_cms_stream(
    stream_df: DataFrame,
    *,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    weight_col: str | None = None,
    compact_every: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the accumulation query: every micro-batch's grid delta
    lands in its own store partition; ``compact_every=N`` folds the
    store every N batches (``_store.start_batch_stream``)."""
    return start_batch_stream(
        stream_df,
        partial(
            cms_batch_update,
            store_dir=store_dir,
            key_col=key_col,
            depth=depth,
            width=width,
            weight_col=weight_col,
        ),
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
        compact_every=compact_every,
        compact=partial(compact_cms_store, store_dir=store_dir),
    )


def cms_store_grid(spark, store_dir: str, *, heal: bool = True) -> DataFrame:
    """The whole-history grid: per-cell sum over every batch delta.
    ``heal=False`` makes the readout strictly read-only (see
    ``_store.read_store``)."""
    return read_merged(spark, store_dir, cms_merge, heal=heal)


def cms_store_estimate(
    spark,
    store_dir: str,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 256,
    heal: bool = True,
) -> DataFrame:
    """``keys`` + ``est_count`` over everything ever accumulated."""
    return cms_lookup(
        cms_store_grid(spark, store_dir, heal=heal),
        keys,
        key_col,
        depth=depth,
        width=width,
    )


def compact_cms_store(spark, store_dir: str, *, keep_last: int = 1) -> int:
    """Collapse all batch partitions strictly below the newest
    ``keep_last`` into one via per-cell sums (estimates unchanged:
    linearity). Returns cells after compaction."""
    return compact_store(spark, store_dir, cms_merge, keep_last=keep_last)
