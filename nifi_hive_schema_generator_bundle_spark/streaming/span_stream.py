"""Incremental cross-run duplicated-span statistics — a persistent
gram-count store so continuous ingest can answer "how much of this
batch is boilerplate we have EVER seen?" without re-scanning history.

The batch operators (`operators/dedup.duplicate_span_stats` /
`cross_doc_span_stats`) compute corpus-wide k-gram counts per run; this
module accumulates the same 8-byte gram-hash partials across runs, the
`cms_stream`/`hll_stream` store pattern applied to the Lee et al. 2022
span-dedup statistic:

* per micro-batch: one (gh, cnt, ndocs) partial — gram text never
  leaves the document row, the `_gram_positions` shuffle discipline —
  written to its own ``batch_id`` partition (dynamic partition
  overwrite: replays converge).
* readout: per-gram SUMS across all partitions. Both measures are
  additive across batches as long as each document is ingested exactly
  once (the `incremental_dedup` ingest discipline): occurrence counts
  sum trivially, and per-batch count(DISTINCT doc) sums to the corpus
  count(DISTINCT doc) because a doc's grams live in exactly one batch.
* compaction: per-gram sums fold by linearity. Replay safety, the
  monotonic-id guard, the cadence and the crash-safe fold are
  `_store.py`'s store contract verbatim.

Scale shape: the store holds one row per distinct gram hash per batch
(8-byte key + two longs), folded to one row per distinct gram by
compaction — the CMS-grid class, not the corpus-text class. Coverage
readouts join the ``min_docs``/``min_count`` survivors back to any
document frame via the same semi-join + window interval-union as the
batch operators.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import _gram_positions, _span_coverage
from ._store import (
    compact_store,
    finish_pending_fold,
    read_merged,
    start_batch_stream,
    write_partial,
)

__all__ = [
    "span_gram_batch_update",
    "span_store_grams",
    "span_store_coverage",
    "compact_span_store",
    "run_span_stats_stream",
]


def _merge(rows: DataFrame) -> DataFrame:
    """Per-gram sums of both measures: the one merge the readout and
    the compactor share."""
    return rows.groupBy("gh").agg(
        F.sum("cnt").cast("long").alias("cnt"),
        F.sum("ndocs").cast("long").alias("ndocs"),
    )


def span_gram_batch_update(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Accumulate one batch's per-gram partials; returns distinct grams
    written. Each document must be ingested exactly once across the
    run (dedupe upstream — `incremental_dedup` — if the source can
    repeat docs); a REPLAY of the same ``batch_id`` rewrites only its
    own partition and converges to the same bytes."""

    def build(df: DataFrame) -> DataFrame:
        _toks, _lengths, grams = _gram_positions(df, k, text_col, id_col)
        return grams.groupBy("gh").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.countDistinct(F.col(id_col)).cast("long").alias("ndocs"),
        )

    finish_pending_fold(batch_df.sparkSession, store_dir)
    return write_partial(batch_df, batch_id, store_dir, build)


def span_store_grams(spark, store_dir: str, *, heal: bool = True) -> DataFrame:
    """Whole-history merged (gh, cnt, ndocs): per-gram sums over every
    batch partial — identical to a single-run aggregation over the
    union of all ingested documents (additivity; see module doc).
    ``heal=False`` makes the readout strictly read-only (see
    ``_store.read_store``)."""
    return read_merged(spark, store_dir, _merge, heal=heal)


def span_store_coverage(
    spark,
    store_dir: str,
    docs: DataFrame,
    *,
    k: int = 5,
    min_docs: int = 2,
    min_count: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    heal: bool = True,
) -> DataFrame:
    """Duplicated-span coverage of ``docs`` against EVERYTHING ever
    ingested: (id, n_tokens, n_dup_grams, dup_tokens, dup_fraction),
    the `cross_doc_span_stats` output shape. Default predicate is the
    cross-doc one (gram seen in ≥ ``min_docs`` distinct documents
    store-wide); pass ``min_count`` to use the corpus-wide occurrence
    predicate (`duplicate_span_stats` semantics) instead. ``k`` must
    match the store's ingest ``k``. Pass ``heal=False`` when running
    without write permission on the store (ADVICE r7): the readout
    then never mutates the store and a pending compaction fold is
    served as the consistent post-fold view."""
    merged = span_store_grams(spark, store_dir, heal=heal)
    if min_count is not None:
        dup = merged.filter(F.col("cnt") >= min_count).select("gh")
    else:
        dup = merged.filter(F.col("ndocs") >= min_docs).select("gh")
    _toks, lengths, grams = _gram_positions(docs, k, text_col, id_col)
    return _span_coverage(lengths, grams, dup, k, id_col)


def compact_span_store(spark, store_dir: str, *, keep_last: int = 1) -> int:
    """Collapse all batch partitions strictly below the newest
    ``keep_last`` into one via per-gram sums (readouts unchanged:
    linearity)."""
    return compact_store(spark, store_dir, _merge, keep_last=keep_last)


def run_span_stats_stream(
    stream_df: DataFrame,
    *,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the accumulation query: every micro-batch's gram partials
    land in their own store partition; ``compact_every=N`` folds the
    store every N batches (``_store.start_batch_stream``)."""
    return start_batch_stream(
        stream_df,
        partial(
            span_gram_batch_update,
            store_dir=store_dir,
            k=k,
            text_col=text_col,
            id_col=id_col,
        ),
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
        compact_every=compact_every,
        compact=partial(compact_span_store, store_dir=store_dir),
    )
