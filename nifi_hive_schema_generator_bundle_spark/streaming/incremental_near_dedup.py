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

Steps (2)-(5) and the store fold are the shared dedup-batch steps of
`_store.py`, which also carry the replay contract. History never
rescans text: the band join shuffles (band, bucket, id) triples and the
verify join ships one 512 B signature per CANDIDATE, not per document.
Store growth is linear in survivors; fold small per-batch partitions
with ``compact_near_dedup_store`` periodically.
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
from ._store import (
    band_history_lookup,
    compact_set_stores,
    open_history,
    start_batch_stream,
    write_dedup_batch,
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
    own monotonic batch numbering. ``k``, ``num_perm``, ``bands`` and
    ``hash_fn`` make the band keys, so they stay FIXED for the life of
    a store: it records them on first use and every later batch raises
    on a mismatch (``_store.check_store_config``), because mismatched
    keys would never collide with history again. ``threshold`` and
    ``max_bucket`` may vary per batch.

    ``hash_fn="md5"`` switches signatures AND band keys to the
    engine-portable forms (the `minhash_lsh_pairs` contract), making the
    whole multi-batch run — within-batch CC dedup, store band join,
    signature-agreement verify — replayable by a SQL oracle
    (`doc_incremental_near_dedup` in plans/queries.py)."""
    if batch_df.isEmpty():
        return 0
    bands_dir = f"{store_dir}/bands"
    sigs_dir = f"{store_dir}/sigs"
    history = open_history(
        batch_df.sparkSession,
        store_dir,
        batch_id,
        ("bands", "sigs"),
        {
            "k": int(k),
            "num_perm": int(num_perm),
            "bands": int(bands),
            "hash_fn": hash_fn,
        },
    )

    # (1) within-batch near-dedup, first (min-id) occurrence wins. The
    # signatures are computed once and shared with the LSH pair stage
    # (sigs=): the shingling + permutation scan is the expensive stage
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

    # (2)+(3) candidates vs history, verified on signature agreement —
    # no text ever leaves the batch
    sig = full_sig.join(
        batch_kept.select(F.col(id_col).alias("id")), "id", "semi"
    ).persist()
    my_bands = band_keys(
        sig, bands=bands, num_perm=num_perm, portable=hash_fn == "md5"
    ).select("id", "band", "bucket")
    survivors_ids = sig.select("id")
    if history is not None:
        _, _, dup_ids = band_history_lookup(
            *history, my_bands, sig, "sig", signature_agreement,
            threshold, max_bucket,
        )
        survivors_ids = survivors_ids.join(dup_ids, "id", "anti")

    # (4)+(5) corpus append + both stores
    survivors_ids = survivors_ids.persist()
    try:
        return write_dedup_batch(
            batch_id,
            batch_kept.join(
                survivors_ids.withColumnRenamed("id", id_col), id_col, "semi"
            ),
            out_dir,
            fmt,
            {
                bands_dir: my_bands.join(survivors_ids, "id", "semi"),
                sigs_dir: sig.join(survivors_ids, "id", "semi"),
            },
        )
    finally:
        sig.unpersist()
        full_sig.unpersist()
        survivors_ids.unpersist()


def compact_near_dedup_store(
    spark, store_dir: str, *, target_files: int = 4
) -> tuple[int, int]:
    """Fold BOTH sub-stores' per-batch partitions below the current
    maximum into one (``_store.compact_set_stores``; cadence 50-100
    suffices here per the SCALE.md 30-batch sweep). Returns
    (band_rows, sig_rows) folded — (0, 0) means nothing was worth
    folding."""
    return compact_set_stores(spark, store_dir, ("bands", "sigs"), target_files)


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
