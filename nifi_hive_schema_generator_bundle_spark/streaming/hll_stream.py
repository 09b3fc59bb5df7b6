"""Streaming distinct-count accumulation — the cardinality member of
the sketch-store triple (`cms_stream` counts frequencies,
`quantile_stream` distributions, this counts DISTINCTS) over an
unbounded key stream.

Exact cross-run distinct counting needs O(distinct keys) state (the
Bloom store in `incremental_dedup` bounds it only probabilistically);
the portable HLL register table (`operators/cardinality`) is the
bounded alternative: each micro-batch folds into ≤ 2^p rows per group,
and register **max-merge is EXACT** — unlike the additive stores, the
merged registers are bit-identical to a single-pass build over
everything ever seen, so estimates never degrade with batch count,
replay order, or compaction depth.

Replay safety, the monotonic-id guard, the compaction cadence and the
fold are `_store.py`'s store contract verbatim. The merge is register
max, so a double-counted register delta would even be absorbed — a
strictly weaker failure mode than the additive stores'.

State: O(batches × groups × 2^p) between compactions, O(groups × 2^p)
after — never O(distinct keys).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cardinality import hll_estimate, hll_registers
from ._store import (
    compact_store,
    read_merged,
    start_batch_stream,
    write_partial,
)

__all__ = [
    "hll_batch_update",
    "run_hll_stream",
    "hll_store_registers",
    "hll_store_estimate",
    "compact_hll_store",
]


def _merge(rows: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-register max: the one merge the readout and the compactor
    share."""
    return rows.groupBy(*group_cols, "register").agg(
        F.max("rho").alias("rho")
    )


def hll_batch_update(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    key_col: str,
    group_cols: list[str],
    p: int = 8,
) -> int:
    """Fold one micro-batch's register delta into the store; returns
    rows written."""
    return write_partial(
        batch_df,
        batch_id,
        store_dir,
        lambda df: hll_registers(df, key_col, group_cols, p=p),
    )


def run_hll_stream(
    stream_df: DataFrame,
    *,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str,
    group_cols: list[str],
    p: int = 8,
    compact_every: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the accumulation query: every micro-batch's register delta
    lands in its own store partition; ``compact_every=N`` folds the
    store every N batches (``_store.start_batch_stream``)."""
    return start_batch_stream(
        stream_df,
        partial(
            hll_batch_update,
            store_dir=store_dir,
            key_col=key_col,
            group_cols=group_cols,
            p=p,
        ),
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
        compact_every=compact_every,
        compact=partial(
            compact_hll_store, store_dir=store_dir, group_cols=group_cols
        ),
    )


def hll_store_registers(
    spark, store_dir: str, group_cols: list[str], *, heal: bool = True
) -> DataFrame:
    """The whole-history registers: per-register MAX over every delta —
    EXACTLY the single-pass registers of the union of all batches.
    ``heal=False`` makes the readout strictly read-only (see
    ``_store.read_store``)."""
    return read_merged(
        spark, store_dir, partial(_merge, group_cols=group_cols), heal=heal
    )


def hll_store_estimate(
    spark, store_dir: str, group_cols: list[str], *, p: int = 8,
    heal: bool = True,
) -> DataFrame:
    """(group…, est_distinct) over everything ever accumulated."""
    return hll_estimate(
        hll_store_registers(spark, store_dir, group_cols, heal=heal),
        group_cols, p=p,
    )


def compact_hll_store(
    spark, store_dir: str, group_cols: list[str], *, keep_last: int = 1
) -> int:
    """Collapse all batch partitions strictly below the newest
    ``keep_last`` into one via register max (estimates unchanged — max
    is idempotent AND associative, so compaction is even safe to
    repeat)."""
    return compact_store(
        spark,
        store_dir,
        partial(_merge, group_cols=group_cols),
        keep_last=keep_last,
    )
