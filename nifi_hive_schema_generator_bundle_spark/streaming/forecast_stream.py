"""Streaming daily-count accumulation + forecast readout — the fourth
member of the sketch-store family (`cms_stream` frequencies,
`quantile_stream` distributions, `hll_stream` cardinalities, this one
TIME SERIES): an unbounded event stream folds into a (group, day)
count store that the `operators/forecast` EWMA backtest — and any
other daily-series consumer (CUSUM, MAD, Theil-Sen) — reads without
ever rescanning history.

Additive-merge exactness: per-batch deltas are plain integer counts,
and integer addition is associative/commutative — the merged store is
BIT-IDENTICAL to a single-pass daily count over every batch, so the
forecast from the store equals the batch `ewma_backtest` on the full
history. The gate entry hash-verifies exactly that equality against
the direct single-pass SQL replay.

Replay safety, the monotonic-id guard, the compaction cadence and the
fold are `_store.py`'s store contract verbatim; the merge is the
per-(group, day) count sum.

State: O(batches × groups × days) between compactions,
O(groups × days) after — dimension-bounded, never row-bounded.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ._store import (
    compact_store,
    read_merged,
    start_batch_stream,
    write_partial,
)

__all__ = [
    "count_batch_update",
    "run_count_stream",
    "count_store_daily",
    "count_store_forecast",
    "compact_count_store",
]


def _merge(rows: DataFrame) -> DataFrame:
    """Per-(g, day) count sum: the one merge the readout and the
    compactor share."""
    return rows.groupBy("g", "day").agg(F.sum("cnt").cast("long").alias("cnt"))


def count_batch_update(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    group_col: str,
    ts_col: str,
) -> int:
    """Fold one micro-batch's (group, day) count delta into the store;
    returns delta rows written."""
    return write_partial(
        batch_df,
        batch_id,
        store_dir,
        lambda df: df.groupBy(
            F.col(group_col).alias("g"), F.to_date(ts_col).alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt")),
    )


def run_count_stream(
    stream_df: DataFrame,
    *,
    store_dir: str,
    checkpoint_dir: str,
    group_col: str,
    ts_col: str,
    compact_every: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the accumulation query: every micro-batch's count delta
    lands in its own store partition; ``compact_every=N`` folds the
    store every N batches (``_store.start_batch_stream``)."""
    return start_batch_stream(
        stream_df,
        partial(
            count_batch_update,
            store_dir=store_dir,
            group_col=group_col,
            ts_col=ts_col,
        ),
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
        compact_every=compact_every,
        compact=partial(compact_count_store, store_dir=store_dir),
    )


def count_store_daily(spark, store_dir: str, *, heal: bool = True) -> DataFrame:
    """The whole-history (g, day, cnt) frame: per-day SUM over every
    delta — exactly the single-pass daily counts of all batches.
    ``heal=False`` makes the readout strictly read-only (see
    ``_store.read_store``)."""
    return read_merged(spark, store_dir, _merge, heal=heal)


def count_store_forecast(
    spark, store_dir: str, *, window: int = 8, heal: bool = True
) -> DataFrame:
    """The EWMA walk-forward backtest over everything ever accumulated
    (operators/forecast.backtest_from_daily on the merged store)."""
    from ..operators.forecast import backtest_from_daily

    return backtest_from_daily(
        count_store_daily(spark, store_dir, heal=heal), window=window
    )


def compact_count_store(spark, store_dir: str, *, keep_last: int = 1) -> int:
    """Collapse all batch partitions strictly below the newest
    ``keep_last`` into one via count-sum (linearity — merged reads are
    unchanged)."""
    return compact_store(spark, store_dir, _merge, keep_last=keep_last)
