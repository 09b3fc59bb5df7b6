"""Incremental cross-run EMBEDDING near-dedup — new batches of vectors
against a persistent cosine-LSH band store + vector store.

The text sibling (`incremental_near_dedup`) answers "have we ingested
something ~this document?" on MinHash signatures; this module answers
the same question in embedding space — the streaming flavor of
semantic dedup (SemDeDup's signal without the per-run k-means fit,
whose centroids would drift across runs and invalidate old
assignments). Cosine-LSH over PINNED Rademacher hyperplanes
(`operators/bitext.rademacher_planes` — md5 literals, identical on
every run and in any engine) gives stable band keys forever, so
history never needs re-indexing. Two durable parquet stores:

* ``<store>/bands`` — (id, band, bucket, batch_id): the candidate
  index, ``bands`` rows per vector.
* ``<store>/vecs``  — (id, vec, batch_id): the verification side —
  exact quantized cosine against candidates only.

Per micro-batch: (1) within-batch near-dup (banded pairs → exact
cosine ≥ threshold → connected components, min-id wins), (2) the
survivors' band keys join the band store (strictly earlier batches),
(3) candidates verify on exact quantized cosine against the stored
vectors, (4) matches drop, (5) survivors append to the corpus and
BOTH stores, partitioned by ``batch_id``.

Steps (2)-(5) and the store fold are the shared dedup-batch steps of
`_store.py`, as in `incremental_near_dedup`. Everything is
deterministic (pinned planes + exact-integer quantized cosine), so a
SQL engine can replay the full multi-batch run — the gate entry
``embedding_incremental_dedup`` does exactly that.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.bitext import (
    lsh_band_buckets,
    quantized_cosine,
    rademacher_planes,
)
from ..operators.dedup import dedup_keep_min
from ._store import (
    band_history_lookup,
    compact_set_stores,
    open_history,
    start_batch_stream,
    write_dedup_batch,
)

__all__ = [
    "embedding_dedup_batch_against_store",
    "compact_embedding_dedup_store",
    "run_incremental_embedding_dedup",
]


def embedding_dedup_batch_against_store(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    out_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_planes: int = 32,
    band_bits: int = 16,
    seed: int = 42,
    max_bucket: int = 100_000,
    dim: int | None = None,
    fmt: str = "parquet",
    stats: dict | None = None,
) -> int:
    """One micro-batch of the incremental embedding dedup; returns
    survivors kept. Reusable from any ``foreachBatch`` or a batch loop
    with its own monotonic batch numbering. Banding params must stay
    FIXED for the life of a store (the band keys are the index) — the
    store records them on first use and every later batch raises on a
    mismatch (``_store.check_store_config``), because mismatched keys
    would not fail: they would silently never collide with history
    again. ``threshold`` may vary per batch (verification is exact).

    Defaults are the SCALE.md production sizing (2 bands × 16 bits =
    65 536 buckets/band), not the sub-toy geometry the sf0.01 gate
    pins explicitly — at corpus scale a 4-bit band puts every vector
    in one of 16 buckets, all of which blow past any sane
    ``max_bucket`` and get dropped, silently degrading history
    matching to zero candidates.

    Pass a dict as ``stats`` to get the banding-health readout of this
    batch's history lookup filled in (the
    ``candidate_neighborhood_stats`` discipline, applied per batch):
    ``n_kept_batch`` (within-batch survivors that did the history
    lookup), ``n_candidates`` (distinct (id, hist_id) verify pairs),
    ``candidates_per_id_avg``, ``starved_ids``/``starved_ppm`` (kept
    ids with ZERO history candidates — at healthy banding and
    occupancy this stays near 0 ppm once history is populated),
    ``hot_buckets_dropped`` (band buckets anti-joined away by
    ``max_bucket``), and ``n_dup_vs_history``. Starvation alongside
    non-zero ``hot_buckets_dropped`` is the silent-degradation
    signature: undersized bands, not genuinely novel data."""
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return 0
    history = open_history(
        spark,
        store_dir,
        batch_id,
        ("bands", "vecs"),
        {
            "n_planes": int(n_planes),
            "band_bits": int(band_bits),
            "seed": int(seed),
        },
    )
    if dim is None:
        first = batch_df.select(F.size(vec_col).alias("n")).limit(1).collect()
        dim = int(first[0]["n"]) if first else 0
    planes = rademacher_planes(n_planes, dim, seed)

    my = batch_df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).persist()
    my_bands = lsh_band_buckets(
        my, id_col="id", vec_col="vec", planes=planes, band_bits=band_bits
    ).persist()

    # (1) within-batch: banded pairs → exact cosine → CC keep-min
    other = my_bands.select(
        F.col("band"), F.col("bucket"), F.col("id").alias("id_b")
    )
    pair_ids = (
        my_bands.join(other, ["band", "bucket"])
        .filter(F.col("id") < F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
        .distinct()
    )
    va = my.select(F.col("id").alias("id_a"), F.col("vec").alias("__va"))
    vb = my.select(F.col("id").alias("id_b"), F.col("vec").alias("__vb"))
    edges = (
        pair_ids.join(va, "id_a")
        .join(vb, "id_b")
        .filter(
            quantized_cosine(F.col("__va"), F.col("__vb"))
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    batch_kept = dedup_keep_min(my, edges, "id")

    # (2)+(3) candidates vs history, verified on exact cosine
    survivors = batch_kept
    held = [my, my_bands]  # unpersisted once the writes are done
    if history is not None:
        hot, cand, dup_ids = band_history_lookup(
            *history,
            my_bands.join(batch_kept.select("id"), "id", "semi"),
            batch_kept,
            "vec",
            quantized_cosine,
            threshold,
            max_bucket,
        )
        if stats is not None:
            held += [hot.persist(), cand.persist(), dup_ids.persist()]
            per_id = batch_kept.select("id").join(
                cand.groupBy("id").agg(F.count(F.lit(1)).alias("c")),
                "id",
                "left",
            )
            c = F.coalesce(F.col("c"), F.lit(0))
            row = per_id.agg(
                F.count(F.lit(1)).alias("n_ids"),
                F.coalesce(F.sum(c), F.lit(0)).alias("n_cand"),
                F.coalesce(F.sum((c == 0).cast("int")), F.lit(0)).alias("st"),
            ).collect()[0]
            n_ids, n_cand, starved = row["n_ids"], row["n_cand"], row["st"]
            stats.update(
                hot_buckets_dropped=hot.count(),
                n_kept_batch=n_ids,
                n_candidates=n_cand,
                candidates_per_id_avg=(
                    round(n_cand / n_ids, 2) if n_ids else 0.0
                ),
                starved_ids=starved,
                starved_ppm=starved * 1_000_000 // n_ids if n_ids else 0,
                n_dup_vs_history=dup_ids.count(),
            )
        survivors = batch_kept.join(dup_ids, "id", "anti")
    elif stats is not None:
        # first batch: no history yet — report an explicitly empty
        # lookup rather than leaving the caller's dict half-filled
        stats.update(
            n_kept_batch=batch_kept.count(), n_candidates=0,
            candidates_per_id_avg=0.0, starved_ids=0, starved_ppm=0,
            hot_buckets_dropped=0, n_dup_vs_history=0,
        )

    # (4)+(5) corpus append + both stores
    survivors = survivors.persist()
    held.append(survivors)
    try:
        return write_dedup_batch(
            batch_id,
            survivors.select(
                F.col("id").alias(id_col), F.col("vec").alias(vec_col)
            ),
            out_dir,
            fmt,
            {
                f"{store_dir}/bands": my_bands.join(
                    survivors.select("id"), "id", "semi"
                ),
                f"{store_dir}/vecs": survivors.select("id", "vec"),
            },
        )
    finally:
        for frame in held:
            frame.unpersist()


def compact_embedding_dedup_store(
    spark, store_dir: str, *, target_files: int = 4
) -> tuple[int, int]:
    """Fold both sub-stores' per-batch partitions into one
    (``_store.compact_set_stores``). Returns (band_rows, vec_rows)
    folded."""
    return compact_set_stores(spark, store_dir, ("bands", "vecs"), target_files)


def run_incremental_embedding_dedup(
    stream_df: DataFrame,
    *,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_planes: int = 32,
    band_bits: int = 16,
    seed: int = 42,
    max_bucket: int = 100_000,
    compact_every: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming query: each micro-batch is embedding-deduped
    against all prior history and appended to the corpus + stores.
    Banding params default to the production sizing and are recorded
    in (and checked against) the store's config on every batch.
    ``compact_every=N`` folds the stores every N batches
    (``_store.start_batch_stream``)."""
    return start_batch_stream(
        stream_df,
        partial(
            embedding_dedup_batch_against_store,
            store_dir=store_dir,
            out_dir=out_dir,
            vec_col=vec_col,
            id_col=id_col,
            threshold=threshold,
            n_planes=n_planes,
            band_bits=band_bits,
            seed=seed,
            max_bucket=max_bucket,
        ),
        checkpoint_dir=checkpoint_dir,
        available_now=available_now,
        compact_every=compact_every,
        compact=partial(compact_embedding_dedup_store, store_dir=store_dir),
    )
