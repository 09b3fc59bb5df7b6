"""Incremental cross-run dedup — new batches against a persistent
fingerprint store.

``dropDuplicatesWithinWatermark`` bounds state to the watermark horizon,
which is right for within-stream duplicates but cannot answer "have we
EVER ingested this document?" across runs and restarts. A 100 TB corpus
built by continuous ingestion needs exactly that: a durable fingerprint
index, with each micro-batch anti-joined against history and the
survivors' fingerprints appended.

Replay safety is `_store.py`'s store contract: the store is
partitioned by ``batch_id``, each batch anti-joins only against
STRICTLY EARLIER batches — so a replay never collides with its own
half-written fingerprints — and rewrites its own store and output
partitions, so retries converge to the same bytes.

Scale shape: the per-batch work is one md5 projection (16-byte keys) and
one anti-join of (batch fingerprints) against (store fingerprints) — the
store side is a plain parquet directory of 16-byte keys, pruned and
shuffled on the hash only; document bodies never join. Within a batch,
first-occurrence wins via a min-id aggregate on the fingerprint.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.textfns import normalize_ws
from ._store import (
    compact_store,
    open_history,
    start_batch_stream,
    write_dedup_batch,
)

__all__ = [
    "dedup_batch_against_store",
    "run_incremental_dedup",
    "compact_fingerprint_store",
]


def _fingerprints(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn(
        "__fp", F.md5(normalize_ws(F.lower(F.col(text_col))))
    )


def dedup_batch_against_store(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fmt: str = "parquet",
) -> int:
    """One micro-batch of the incremental dedup; returns survivors kept.

    Reusable from any ``foreachBatch`` (batch pipelines can drive it in a
    loop with their own batch numbering).
    """
    if batch_df.isEmpty():
        return 0
    history = open_history(batch_df.sparkSession, store_dir, batch_id)
    fps = _fingerprints(batch_df, text_col)
    # within-batch first occurrence: min id per fingerprint
    firsts = fps.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    survivors = fps.join(firsts, ["__fp", id_col], "left_semi")
    if history is not None:
        survivors = survivors.join(
            history[0].select("__fp"), "__fp", "left_anti"
        )
    # both writes consume survivors
    survivors = survivors.persist()
    try:
        return write_dedup_batch(
            batch_id,
            survivors.drop("__fp"),
            out_dir,
            fmt,
            {store_dir: survivors.select("__fp").distinct()},
        )
    finally:
        survivors.unpersist()


def compact_fingerprint_store(
    spark, store_dir: str, *, target_files: int = 8
) -> int:
    """Fold the store's accumulated per-batch partitions below the
    current maximum into one (``_store.compact_store``): one tiny
    partition per micro-batch is the classic small-files problem. The
    fold is a set rewrite into ``target_files`` files. Returns the
    number of fingerprints compacted."""
    return compact_store(
        spark, store_dir, lambda rows: rows.distinct().repartition(target_files)
    )


def run_incremental_dedup(
    stream_df: DataFrame,
    *,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fmt: str = "parquet",
    compact_every: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming query: each micro-batch is deduped against
    all prior history and appended to both the corpus and the store;
    ``compact_every=N`` folds the store every N batches
    (``_store.start_batch_stream``)."""
    return start_batch_stream(
        stream_df,
        partial(
            dedup_batch_against_store,
            store_dir=store_dir,
            out_dir=out_dir,
            text_col=text_col,
            id_col=id_col,
            fmt=fmt,
        ),
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
        compact_every=compact_every,
        compact=partial(compact_fingerprint_store, store_dir=store_dir),
    )
