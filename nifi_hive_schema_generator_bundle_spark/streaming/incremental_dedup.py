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

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.textfns import normalize_ws
from ..sources.formats import overwrite_partitions
from ._store import (
    check_batch_id,
    compact_store,
    finish_pending_fold,
    start_batch_stream,
    write_counted,
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
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return 0
    fps = _fingerprints(batch_df, text_col)
    # within-batch first occurrence: min id per fingerprint
    firsts = fps.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    batch_first = fps.join(firsts, ["__fp", id_col], "left_semi")
    # complete any crashed compaction before binding the store's
    # file listing (stale pre-cut partitions would shadow the fold)
    finish_pending_fold(spark, store_dir)
    try:
        store = spark.read.parquet(store_dir)
    except AnalysisException as e:
        # ONLY a missing store means "first batch" — any other analysis
        # error (wrong path, schema-less dir) must surface, not silently
        # disable dedup
        if "PATH_NOT_FOUND" not in str(e):
            raise
        store = None
    if store is not None:
        check_batch_id(spark, store_dir, batch_id)
        # strictly-earlier batches only: replays of THIS batch must not
        # see their own previously-written fingerprints
        history = store.filter(F.col("batch_id") < batch_id).select("__fp")
        survivors = batch_first.join(history, "__fp", "left_anti")
    else:
        survivors = batch_first
    # persist: the corpus write and the fingerprint write both consume
    # survivors; the kept count rides the corpus write via observe (r9:
    # the dedicated count job is gone — see _store.write_counted)
    survivors = survivors.persist()
    try:
        out = survivors.drop("__fp").withColumn(
            "ingest_batch", F.lit(batch_id)
        )
        n = write_counted(out, out_dir, ["ingest_batch"], fmt=fmt)
        new_fps = (
            survivors.select("__fp")
            .distinct()
            .withColumn("batch_id", F.lit(batch_id))
        )
        overwrite_partitions(new_fps, store_dir, ["batch_id"], fmt="parquet")
    finally:
        survivors.unpersist()
    return n


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
