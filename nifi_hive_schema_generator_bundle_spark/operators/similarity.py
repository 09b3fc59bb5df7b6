"""Approximate-nearest-neighbor search over embedding columns.

Seven top-k searches share one output contract (SURVEY north-star /
BASELINE.json): ``(query_id, id, cosine, rank)``, cosine exact and
rounded to 6 dp, ranks 1..k per query, ties broken on ascending corpus
id. The query set is broadcast-small; the corpus never shuffles beyond
``ensure_min_partitions``.

* **brute_force_topk** — the exact baseline: every corpus row is scored
  against the broadcast queries.
* **lsh_topk** — random-hyperplane LSH: a query meets the corpus rows in
  its sign bucket over ``n_planes`` deterministic planes and in every
  1-bit flip of it (multi-probe). Shuffle is bucket-partitioned.
* **IVF** — ``ivf_topk`` fits a Lloyd coarse quantizer and probes each
  query's ``nprobe`` nearest cells inline; ``build_ivf_index`` writes the
  same index as cell-partitioned parquet, ``ivf_search`` probes it with
  static partition pruning, ``ivf_index_append`` grows it and
  ``ivf_index_drift_stats`` says when to rebuild it.
* **int8** — ``quantized_rerank_topk`` scans int8 codes and keeps
  ``candidate_k`` rows per query.
* **PQ** — ``pq_topk`` fits per-subspace Lloyd codebooks and keeps each
  query's ``candidate_k`` best rows by asymmetric distance (ADC) over m
  codes per vector; ``build_pq_index`` / ``pq_search`` do the same
  against codes persisted on disk.

Each search only generates candidates. One private core does the rest:
``_corpus`` is the corpus projection, ``_cosine_topk`` the exact-cosine
verify-and-rank tail, ``_top`` the one per-group rank window,
``_pq_candidates`` the ADC cut, ``_empty_topk`` the empty-corpus result,
and ``_fit_sample`` + ``_lloyd`` + ``_nearest`` fit and apply both
quantizers (driver-bounded sample, numpy Lloyd, matmul-form argmin).

Caching: ``quantized_rerank_topk`` caches its int8 corpus and ``pq_topk``
its encoded corpus, so the query join does not redo the quantization.
Neither is released, because the returned frame is lazy and still reads
the cache; a caller frees both with ``spark.catalog.clearCache()`` once
it has consumed the result.

The LSH hyperplanes are generated from a seed with ``xxhash64``
arithmetic — deterministic across runs and executors, no driver-side
random state to broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_min_partitions
from ..functions.vectors import cosine_similarity, l2_normalize

__all__ = [
    "brute_force_topk",
    "lsh_topk",
    "ivf_topk",
    "build_ivf_index",
    "ivf_search",
    "ivf_index_append",
    "ivf_index_drift_stats",
    "quantized_rerank_topk",
    "pq_topk",
    "build_pq_index",
    "pq_search",
    "random_hyperplane_bucket",
    "hard_negatives",
    "reciprocal_rank_fusion",
    "ann_recall",
    "ranking_metrics",
]


def _corpus(corpus: DataFrame, vec_col: str, id_col: str, *extra: Column) -> DataFrame:
    """The ``(c_id, c_vec array<double>, *extra)`` projection every search
    scores; an under-split input is spread over the cores first."""
    return ensure_min_partitions(corpus).select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
        *extra,
    )


def _empty_topk(
    corpus: DataFrame, queries: DataFrame, *, id_col: str, query_id_col: str
) -> DataFrame:
    """No rows, the contract schema: a quantizer fit over an empty corpus
    has nothing to search, and brute force returns the same."""
    q_t = queries.schema[query_id_col].dataType.simpleString()
    id_t = corpus.schema[id_col].dataType.simpleString()
    return corpus.sparkSession.createDataFrame(
        [], f"{query_id_col} {q_t}, {id_col} {id_t}, cosine double, rank int"
    )


def _top(df: DataFrame, by: str, order: list[Column], k: int, rank: str) -> DataFrame:
    """The rows ranked 1..``k`` within each ``by`` group under ``order``,
    the rank kept in column ``rank`` (``row_number``: no shared ranks)."""
    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _cosine_topk(
    pairs: DataFrame, k: int, id_col: str, query_id_col: str
) -> DataFrame:
    """The verify-and-rank tail of every search: candidate pairs
    ``(query_id, c_id, c_vec, q_vec)`` scored with exact cosine rounded to
    6 dp, each query's top ``k`` kept, ties on ascending id."""
    scored = pairs.select(
        query_id_col,
        F.col("c_id").alias(id_col),
        F.round(cosine_similarity("c_vec", "q_vec"), 6).alias("cosine"),
    )
    return _top(
        scored, query_id_col, [F.col("cosine").desc(), F.col(id_col).asc()], k, "rank"
    )


def _nearest(M, C):
    """Index of the nearest row of ``C`` for every row of ``M``. Squared
    distance in matmul form, |x|² − 2x·c + |c|²: an (n, C) BLAS product,
    where the broadcasting-subtraction form materializes an (n, C, dim)
    temp — tens of GB per Arrow batch at a realistic C=4096."""
    d2 = (M * M).sum(1)[:, None] - 2.0 * (M @ C.T) + (C * C).sum(1)[None, :]
    return d2.argmin(1)


def _fit_sample(c: DataFrame, fit_sample: int, seed: int):
    """The quantizer fit sample: ≤ ``fit_sample`` ``c_vec`` rows of ``c``
    collected into an (n, dim) numpy matrix, or None when ``c`` is
    empty. The collect is bounded whatever the corpus size."""
    import numpy as np

    n = c.count()
    frac = min(1.0, fit_sample / max(n, 1))
    sampled = c.sample(frac, seed=seed).limit(fit_sample).collect()
    if not sampled:
        return None
    return np.stack([np.asarray(r["c_vec"]) for r in sampled])


def _lloyd(sample, n_cells: int, max_iter: int, rng):
    """``max_iter`` Lloyd rounds over ``sample``, seeded with
    ``min(n_cells, len(sample))`` distinct rows drawn from ``rng``; a cell
    left empty keeps its centroid. A coarse quantizer needs
    representative centroids, not a converged fit."""
    cents = sample[
        rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)
    ]
    for _ in range(max_iter):
        cell = _nearest(sample, cents)
        for j in range(len(cents)):
            pts = sample[cell == j]
            if len(pts):
                cents[j] = pts.mean(0)
    return cents


def _plane_component(plane: int, dim_idx: Column, seed: int) -> Column:
    """Deterministic pseudo-random ±1 hyperplane component (Rademacher
    planes preserve cosine-LSH guarantees and cost one hash per cell)."""
    h = F.xxhash64(dim_idx, F.lit(plane), F.lit(seed))
    return (h.bitwiseAND(F.lit(1)) * 2 - 1).cast("double")


def random_hyperplane_bucket(
    vec: Column | str, n_planes: int = 8, seed: int = 42
) -> Column:
    """Pack sign(v·r_p) for each plane p into one long bucket id."""
    v = F.col(vec) if isinstance(vec, str) else vec
    idx = F.sequence(F.lit(0), F.size(v) - 1)

    def _cell(p):
        # closure factory: PySpark infers lambda arity from the signature,
        # so the plane index can't ride along as a default argument
        return lambda x, i: x * _plane_component(p, i, seed)

    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(v, idx, _cell(p)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank).

    ``queries`` is broadcast — the small-dim side of the join (SURVEY §4:
    broadcast small sides, no shuffle of the corpus). At 100 TB the
    corpus side stays partition-parallel and the only shuffle is the
    (n_queries × corpus_partitions → k) top-k reduction, which AQE
    coalesces.
    """
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("q_vec"))
    return _cosine_topk(
        _corpus(corpus, vec_col, id_col).join(F.broadcast(q)),
        k, id_col, query_id_col,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane sign-bucket with
    the query or with one of its ``n_planes`` 1-bit flips (multi-probe
    recovers the recall a single bucket loses), then exact cosine + rank
    within candidates only. The probe buckets of one query are distinct,
    so each (query, corpus row) pair meets at most once."""

    def bucket(vec: str) -> Column:
        return random_hyperplane_bucket(l2_normalize(F.col(vec)), n_planes)

    c = _corpus(corpus, vec_col, id_col).withColumn("bucket", bucket("c_vec"))
    probes = F.array_union(
        F.array(F.col("qb")),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda p: F.col("qb").bitwiseXOR(
                F.call_function("shiftleft", F.lit(1).cast("long"), p)
            ),
        ),
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("q_vec"), bucket(vec_col).alias("qb")
    ).select(query_id_col, "q_vec", F.explode(probes).alias("bucket"))
    return _cosine_topk(c.join(F.broadcast(q), "bucket"), k, id_col, query_id_col)


def _ivf_fit(
    c: DataFrame,
    *,
    n_centroids: int,
    max_iter: int,
    fit_sample: int,
    seed: int,
):
    """The coarse quantizer: Lloyd over the bounded fit sample of ``c``;
    the (C, dim) numpy centroid matrix, or None for an empty corpus."""
    import numpy as np

    sample = _fit_sample(c, fit_sample, seed)
    if sample is None:
        return None
    return _lloyd(sample, n_centroids, max_iter, np.random.default_rng(seed))


def _ivf_cent_df(spark, centroids) -> DataFrame:
    """Centroid matrix → the (cell, centroid) table the probe join and
    the persisted index share."""
    return spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(centroids)],
        "cell int, centroid array<double>",
    )


def _ivf_assign(c: DataFrame, centroids) -> DataFrame:
    """Assign every (c_id, c_vec) row to its nearest centroid with one
    Arrow-batched argmin pass; the centroid matrix rides the closure."""

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            M = np.stack(pdf["c_vec"].to_numpy())
            yield pd.DataFrame(
                {
                    "c_id": pdf["c_id"],
                    "c_vec": pdf["c_vec"],
                    "cell": _nearest(M, centroids).astype("int32"),
                }
            )

    return c.mapInPandas(
        assign, schema="c_id long, c_vec array<double>, cell int"
    )


def _ivf_probe_cells(
    queries: DataFrame,
    cent_df: DataFrame,
    *,
    nprobe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query_id, q_vec, cell) — each query's ``nprobe`` nearest cells,
    scored against the broadcast centroid table with a JVM distance fold
    (the distributed plan, rather than scoring queries on the driver)."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    scored = q.join(F.broadcast(cent_df)).select(
        query_id_col,
        "q_vec",
        "cell",
        F.aggregate(
            F.zip_with("q_vec", "centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("cdist"),
    )
    return _top(
        scored, query_id_col, [F.col("cdist").asc(), F.col("cell").asc()],
        nprobe, "crank",
    ).select(query_id_col, "q_vec", "cell")


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int = 16,
    max_iter: int = 8,
    fit_sample: int = 100_000,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize an IVF index on disk: ``{path}/centroids`` (tiny
    parquet) + ``{path}/postings`` parquet PARTITIONED BY cell — the
    literal on-disk inverted file. Build once, probe many: searches
    read only the probed cells' partitions (static partition pruning),
    so per-query scan volume is ~``nprobe/n_centroids`` of the corpus
    without recomputing the quantizer or the assignment.

    The fit is the same bounded-sample Lloyd as ``ivf_topk``; the
    assignment is the same single Arrow-batched pass, written instead
    of consumed. Deterministic given (corpus, params): rebuilding
    yields the identical index."""
    c = _corpus(corpus, vec_col, id_col)
    centroids = _ivf_fit(
        c, n_centroids=n_centroids, max_iter=max_iter,
        fit_sample=fit_sample, seed=seed,
    )
    if centroids is None:
        raise ValueError("cannot build an IVF index over an empty corpus")
    _ivf_cent_df(corpus.sparkSession, centroids).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")
    (
        _ivf_assign(c, centroids)
        # cluster the write by cell: one file per cell-partition instead
        # of (input partitions × cells) small files — the layout probes
        # want, and the write metadata cost of the small-file explosion
        # dominated the build (measured 13.3 → 3.4 s at sf0.1)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/postings")
    )


def ivf_index_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incremental maintenance of a ``build_ivf_index`` index: assign a
    batch of NEW vectors to the EXISTING centroids (one Arrow argmin
    pass — the quantizer is never refit, the standard IVF maintenance
    contract) and append them to the cell-partitioned postings.
    Searches pick the new vectors up immediately; returns the number of
    rows appended, counted by the write itself.

    The append is ``mode("append")`` into the same ``cell=`` partition
    layout, so partition pruning keeps working and old files are never
    rewritten. Callers who ingest continuously should periodically
    ``build_ivf_index`` afresh: appended mass drifts the true cell
    means away from the frozen centroids, degrading probe recall (the
    usual rebuild-on-drift tradeoff — this function is the cheap path
    between rebuilds, not a replacement). Duplicate ids are the
    caller's concern, as with any append-only store."""
    import numpy as np
    from pyspark.sql import Observation

    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    if not cent_rows:
        raise ValueError(f"no centroids at {path}/centroids")
    cents = np.stack(
        [np.asarray(r["centroid"]) for r in sorted(cent_rows, key=lambda r: r["cell"])]
    )
    obs = Observation()
    (
        _ivf_assign(_corpus(new_vectors, vec_col, id_col), cents)
        .repartition("cell")
        # the count rides the write's result stage, where observed
        # metrics are exact (streaming/_store.write_counted), so the
        # assignment pass runs once
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/postings")
    )
    return int(obs.get["n"])


def ivf_index_drift_stats(spark, path: str) -> DataFrame:
    """Rebuild-decision instrument for a ``build_ivf_index`` index
    (the measure-don't-guess companion to ``ivf_index_append``, whose
    appends drift the true cell means away from the frozen centroids):
    one row per cell with (cell, n_rows, drift_l2, centroid_l2,
    drift_ratio_ppm) where drift_l2 = ‖mean(postings in cell) −
    centroid‖₂ and drift_ratio_ppm = ⌊drift_l2 / centroid_l2 · 10⁶⌋.
    Freshly built indexes read near-zero drift (the centroid IS the
    Lloyd mean of its fit sample); rising max drift_ratio or growing
    cell imbalance (max/min n_rows) says probe recall is decaying and
    a rebuild is due.

    Scale: one postings scan; the per-component mean is a posexplode
    to (cell, i, x) reduced by map-side partial aggregation to
    |cells|·dim rows — dimension-bounded, never corpus-bounded — then
    joined against the |cells|·dim centroid components. Pure JVM."""
    cent = (
        spark.read.parquet(f"{path}/centroids")
        .select("cell", F.posexplode("centroid").alias("i", "cx"))
    )
    post = spark.read.parquet(f"{path}/postings")
    comp = (
        post.select("cell", F.posexplode("c_vec").alias("i", "x"))
        .groupBy("cell", "i")
        .agg(F.avg("x").alias("mx"), F.count(F.lit(1)).alias("n"))
    )
    # LEFT join from the centroid side: a dead cell (zero postings —
    # Lloyd fits leave them routinely) must surface as n_rows=0 /
    # drift 0, not vanish from the report; it is the worst imbalance
    per_cell = (
        cent.join(comp, ["cell", "i"], "left")
        .groupBy("cell")
        .agg(
            F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("n_rows"),
            F.sqrt(
                F.sum((F.coalesce(F.col("mx"), F.col("cx")) - F.col("cx")) ** 2)
            ).alias("drift_l2"),
            F.sqrt(F.sum(F.col("cx") ** 2)).alias("centroid_l2"),
        )
    )
    return per_cell.select(
        "cell",
        "n_rows",
        F.round("drift_l2", 6).alias("drift_l2"),
        F.round("centroid_l2", 6).alias("centroid_l2"),
        F.floor(
            F.col("drift_l2") / F.greatest(F.col("centroid_l2"), F.lit(1e-12))
            * F.lit(1_000_000)
        ).cast("long").alias("drift_ratio_ppm"),
    ).orderBy("cell")


def ivf_search(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Search a ``build_ivf_index`` index: probe each query's ``nprobe``
    nearest cells, exact cosine + rank within those cells only.

    The probed cell set is collected (bounded: |queries| × nprobe ints —
    the query set is broadcast-small by the ANN contract) and pushed as
    a STATIC ``cell IN (…)`` partition filter, so the postings scan
    reads only the probed directories — at 100 TB the index read is
    ``nprobe/n_centroids`` of the corpus, enforced by partition pruning
    rather than hoped for from a join. Same output contract as
    ``ivf_topk``; with the same params/seed it returns the same rows."""
    cent_df = spark.read.parquet(f"{path}/centroids")
    probes = _ivf_probe_cells(
        queries, cent_df, nprobe=nprobe, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    postings = spark.read.parquet(f"{path}/postings").filter(
        F.col("cell").isin(cells)
    )
    return _cosine_topk(
        postings.join(F.broadcast(probes), "cell"), k, id_col, query_id_col
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    max_iter: int = 8,
    fit_sample: int = 100_000,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the centroid-probing scale
    path, complementary to ``lsh_topk``'s hyperplane buckets.

    Index: Lloyd-iterate ``n_centroids`` centroids on a driver-bounded
    sample of ≤ ``fit_sample`` vectors (numpy, milliseconds), then
    assign every corpus vector to its nearest centroid with one
    Arrow-batched argmin pass (``mapInPandas``; the centroid matrix rides
    the closure). Search: each query probes its ``nprobe`` nearest cells
    and runs exact cosine + rank within those cells only — candidate
    volume ~``nprobe/n_centroids`` of the corpus per query.
    ``nprobe == n_centroids`` degrades gracefully to exact brute force
    (tested equal to ``brute_force_topk``). An empty corpus returns an
    empty result with the contract schema.
    """
    c = _corpus(corpus, vec_col, id_col)
    centroids = _ivf_fit(
        c,
        n_centroids=n_centroids,
        max_iter=max_iter,
        fit_sample=fit_sample,
        seed=seed,
    )
    if centroids is None:
        return _empty_topk(corpus, queries, id_col=id_col, query_id_col=query_id_col)
    probes = _ivf_probe_cells(
        queries, _ivf_cent_df(corpus.sparkSession, centroids), nprobe=nprobe,
        vec_col=vec_col, query_id_col=query_id_col,
    )
    return _cosine_topk(
        _ivf_assign(c, centroids).join(F.broadcast(probes), "cell"),
        k, id_col, query_id_col,
    )


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    candidate_k: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage ANN: int8-quantized candidate scan → full-precision
    re-rank. Same output contract as ``brute_force_topk``.

    The scale story: stage 1 reads 1 byte/dim instead of 4 and scores
    with integer multiply-adds, so the full-corpus scan (the term that
    dominates at 100 TB) gets ~4× cheaper in bandwidth; only
    ``candidate_k`` rows per query (default 4k) touch the float
    vectors again; with candidate_k ≥ corpus size the result equals
    brute force exactly — the property the unit suite pins.

    Codes are ``round(x·127/max|x|)`` — identical to quantizing the
    L2-normalized vector, because the norm cancels inside the ratio —
    and the pair score is ``int_dot·(amax_c/|c|)·(amax_q/|q|)``, a
    monotone cosine proxy. The quantized corpus is built BEFORE the
    query join and cached (released only by the caller, see the module
    docstring): Spark evaluates higher-order-function lambdas
    interpreted and re-inlines referenced expressions per element, so
    quantizing after the join would redo O(dim²) work per (corpus ×
    query) pair — the cache is both the "store the int8 index once"
    architecture and the fix."""
    from ..functions.vectors import l2_norm

    candidate_k = candidate_k or 4 * k

    def int8(df: DataFrame, vec: str) -> DataFrame:
        # (…, {vec}_q codes, {vec}_scale = amax/|vec|); amax is its own
        # column so the code lambda reads it instead of re-folding it
        amax = f"{vec}_amax"
        return df.withColumn(amax, F.array_max(F.transform(vec, F.abs))).select(
            *df.columns,
            F.transform(
                vec, lambda x: F.round(x * 127.0 / F.col(amax), 0).cast("int")
            ).alias(f"{vec}_q"),
            (F.col(amax) / l2_norm(vec)).alias(f"{vec}_scale"),
        )

    c = int8(_corpus(corpus, vec_col, id_col), "c_vec").cache()
    q = int8(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("q_vec")), "q_vec"
    )
    int_dot = F.aggregate(
        F.zip_with(
            # widen BEFORE multiplying: int×int can overflow int under
            # ANSI semantics at these magnitudes only in theory, long is
            # free here
            F.col("c_vec_q"),
            F.col("q_vec_q"),
            lambda a, b: a.cast("long") * b.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = int_dot.cast("double") * F.col("c_vec_scale") * F.col("q_vec_scale")
    cands = _top(
        c.join(F.broadcast(q)).withColumn("approx", approx),
        query_id_col, [F.col("approx").desc(), F.col("c_id").asc()],
        candidate_k, "crank",
    )
    return _cosine_topk(cands, k, id_col, query_id_col)


def _pq_fit(
    c: DataFrame,
    *,
    m: int,
    ks: int,
    max_iter: int,
    fit_sample: int,
    seed: int,
):
    """Per-subspace Lloyd on the bounded fit sample of ``c``, L2-NORMALIZED;
    returns the (m, ks, dim/m) numpy codebook tensor, or None for an
    empty corpus. Raises if the vector dimension is not divisible by
    ``m``."""
    import numpy as np

    sample = _fit_sample(c, fit_sample, seed)
    if sample is None:
        return None
    sample = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12
    )
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"vector dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        cents = _lloyd(sample[:, j * dsub:(j + 1) * dsub], ks, max_iter, rng)
        if len(cents) < ks:
            # tiny corpus: pad with repeats so every code j*ks+c exists
            cents = np.concatenate(
                [cents, np.repeat(cents[:1], ks - len(cents), axis=0)]
            )
        books.append(cents)
    return np.stack(books)


def _pq_encode(c: DataFrame, books) -> DataFrame:
    """ONE Arrow-batched pass assigning every (c_id, c_vec) row its m
    codes under the codebook tensor (which rides the closure): one
    matmul-form argmin per subspace."""
    m, _, dsub = books.shape

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            M = np.stack(pdf["c_vec"].to_numpy())
            M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(M), m), dtype="int32")
            for j in range(m):
                codes[:, j] = _nearest(M[:, j * dsub:(j + 1) * dsub], books[j])
            yield pd.DataFrame(
                {
                    "c_id": pdf["c_id"],
                    "c_vec": pdf["c_vec"],
                    "codes": list(codes),
                }
            )

    return c.mapInPandas(
        encode, schema="c_id long, c_vec array<double>, codes array<int>"
    )


def _pq_book_df(spark, books) -> DataFrame:
    """Codebook tensor → the (j, cc, sub) row table the LUT join and the
    persisted index share."""
    m, ks, _ = books.shape
    rows = [
        (j, g, [float(x) for x in books[j][g]])
        for j in range(m)
        for g in range(ks)
    ]
    return spark.createDataFrame(rows, "j int, cc int, sub array<double>")


def _pq_luts(
    queries: DataFrame,
    book_df: DataFrame,
    *,
    dsub: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query_id, q_vec, lut): the per-query ADC lookup table, built
    DISTRIBUTED by joining the broadcast codebook rows and folding with
    ``sort_array`` over (j, cc) structs — lut[j·ks + cc] = q̂_j · sub."""
    qn = queries.select(
        F.col(query_id_col),
        l2_normalize(F.col(vec_col).cast("array<double>")).alias("q_vec"),
    )
    ip = F.expr(
        f"aggregate(zip_with(slice(q_vec, j * {dsub} + 1, {dsub}), sub,"
        " (a, b) -> a * b), 0D, (acc, x) -> acc + x)"
    )
    return (
        qn.join(F.broadcast(book_df))
        .select(query_id_col, "q_vec", "j", "cc", ip.alias("ip"))
        .groupBy(query_id_col)
        .agg(
            F.first("q_vec").alias("q_vec"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("j", "cc", "ip"))),
                lambda s: s["ip"],
            ).alias("lut"),
        )
    )


def _pq_candidates(
    codes: DataFrame,
    luts: DataFrame,
    *,
    m: int,
    ks: int,
    candidate_k: int,
    query_id_col: str,
) -> DataFrame:
    """The ADC cut of the inline and persisted PQ paths: each query's
    top ``candidate_k`` rows of ``codes`` (c_id, codes, …) by asymmetric
    distance. The scan is pure JVM: ``element_at`` gathers from the
    broadcast per-query LUT and a fold over the m codes."""
    adc = F.expr(
        f"aggregate(zip_with(codes, sequence(0, {m - 1}),"
        f" (cd, j) -> element_at(lut, j * {ks} + cd + 1)),"
        " 0D, (acc, x) -> acc + x)"
    )
    return _top(
        codes.join(F.broadcast(luts)).withColumn("adc", adc),
        query_id_col, [F.col("adc").desc(), F.col("c_id").asc()],
        candidate_k, "crank",
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    m: int = 8,
    ks: int = 256,
    candidate_k: int | None = None,
    max_iter: int = 8,
    fit_sample: int = 100_000,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Product-quantization ANN (the FAISS-PQ/ADC pattern): each corpus
    vector is stored as ``m`` sub-codebook assignments — m small ints
    instead of dim doubles, a dim·8/m compression (64× at dim=64, m=8)
    — and queries score the whole corpus through a per-query lookup
    table without ever touching the float vectors. Same output contract
    as ``brute_force_topk``.

    Index: ``m`` independent per-subspace Lloyd fits on one
    driver-bounded sample of ≤ ``fit_sample`` normalized vectors (the
    same bounded-collect contract as the IVF quantizer), then ONE
    Arrow-batched encode pass assigns every corpus vector its m codes
    (codebook tensor rides the closure; bodies stream through numpy
    argmin matmuls). The encoded corpus is cached, so the query join
    does not re-encode it; the caller releases it (see the module
    docstring). Search is asymmetric distance computation:
    the per-query LUT (lut[j·ks + c] = q̂_j · codebook[j][c], m·ks
    doubles) is built DISTRIBUTED by joining the broadcast codebook-row
    table against the queries and folding with ``sort_array`` over
    (j, c) structs, and the corpus scan is a pure JVM expression —
    ``element_at`` gathers + a fold over m codes, no Python, the codes
    column is the only corpus data read. Top ``candidate_k`` ADC
    candidates per query then re-rank with exact cosine on the float
    vectors; with ``candidate_k`` ≥ corpus size the result equals
    brute force exactly (pinned in units).

    At 100 TB: the scan reads m bytes-ish per vector instead of 8·dim,
    the LUT join is broadcast (queries are broadcast-small by the ANN
    contract), the corpus never shuffles, and only candidate_k rows
    per query touch the float column again."""
    candidate_k = candidate_k or 4 * k
    c = _corpus(corpus, vec_col, id_col)
    books = _pq_fit(
        c, m=m, ks=ks, max_iter=max_iter, fit_sample=fit_sample, seed=seed
    )
    if books is None:
        return _empty_topk(corpus, queries, id_col=id_col, query_id_col=query_id_col)
    luts = _pq_luts(
        queries,
        _pq_book_df(corpus.sparkSession, books),
        dsub=books.shape[2],
        vec_col=vec_col,
        query_id_col=query_id_col,
    )
    cands = _pq_candidates(
        _pq_encode(c, books).cache(), luts, m=m, ks=ks,
        candidate_k=candidate_k, query_id_col=query_id_col,
    )
    return _cosine_topk(cands, k, id_col, query_id_col)


def build_pq_index(
    corpus: DataFrame,
    path: str,
    *,
    m: int = 8,
    ks: int = 256,
    max_iter: int = 8,
    fit_sample: int = 100_000,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize a PQ index on disk: ``{path}/codebook`` (m·ks tiny
    rows) + ``{path}/codes`` — m int codes per vector, the dim·8/m-times
    smaller artifact that IS the point of PQ (the float vectors stay in
    the source table; searches only touch them for the final re-rank).
    Build once, search many; deterministic given (corpus, params):
    rebuilding yields the identical index (the ``build_ivf_index``
    contract)."""
    c = _corpus(corpus, vec_col, id_col)
    books = _pq_fit(
        c, m=m, ks=ks, max_iter=max_iter, fit_sample=fit_sample, seed=seed
    )
    if books is None:
        raise ValueError("cannot build a PQ index over an empty corpus")
    _pq_book_df(corpus.sparkSession, books).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/codebook")
    (
        _pq_encode(c, books)
        .select("c_id", "codes")
        .write.mode("overwrite")
        .parquet(f"{path}/codes")
    )


def pq_search(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    candidate_k: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Search a ``build_pq_index`` index: the ADC scan reads ONLY the
    persisted codes (m ints/vector — the bandwidth win survives the
    round-trip to disk), then the candidate cut re-ranks with exact
    cosine against ``corpus``'s float vectors via one broadcast equi-join
    of the (queries × candidate_k)-row candidate set — the corpus never
    shuffles. Same output contract as ``pq_topk``; with the same
    params/seed it returns the same rows (pinned in units)."""
    candidate_k = candidate_k or 4 * k
    book_df = spark.read.parquet(f"{path}/codebook")
    mk = book_df.agg(
        F.max("j").alias("mj"), F.max("cc").alias("mc"),
        F.max(F.size("sub")).alias("dsub"),
    ).collect()[0]
    luts = _pq_luts(
        queries, book_df, dsub=mk["dsub"], vec_col=vec_col,
        query_id_col=query_id_col,
    )
    cands = _pq_candidates(
        spark.read.parquet(f"{path}/codes"), luts, m=mk["mj"] + 1,
        ks=mk["mc"] + 1, candidate_k=candidate_k, query_id_col=query_id_col,
    ).select(query_id_col, "c_id", "q_vec")
    return _cosine_topk(
        _corpus(corpus, vec_col, id_col).join(F.broadcast(cands), "c_id"),
        k, id_col, query_id_col,
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each anchor vector, the ``k`` corpus vectors MOST similar to it
    that carry a DIFFERENT label (and a different id) — the examples a
    metric-learning loss gains the most from. Returns (anchor_id,
    id_col, label, cosine, rank).

    Scale shape — identical to ``brute_force_topk``, which this
    deliberately mirrors: the anchor batch is broadcast (mine in
    bounded batches; a full-corpus self-mining pass is the batched loop
    or the IVF/LSH candidate path, never one giant self-join), the
    corpus never shuffles, the label-inequality filter runs before the
    top-k window so rejected rows never reach the rank exchange. Ties
    break on ascending corpus id for full determinism.
    """
    c = _corpus(corpus, vec_col, id_col, F.col(label_col).alias("c_label"))
    a = anchors.select(
        F.col(id_col).alias(anchor_id_col),
        F.col(vec_col).alias("a_vec"),
        F.col(label_col).alias("a_label"),
    )
    scored = (
        c.join(F.broadcast(a))
        .filter(
            (F.col("c_label") != F.col("a_label"))
            & (F.col("c_id") != F.col(anchor_id_col))
        )
        .select(
            anchor_id_col,
            F.col("c_id").alias(id_col),
            F.col("c_label").alias(label_col),
            F.round(cosine_similarity("c_vec", "a_vec"), 6).alias("cosine"),
        )
    )
    return _top(
        scored, anchor_id_col, [F.col("cosine").desc(), F.col(id_col).asc()], k, "rank"
    )


def reciprocal_rank_fusion(
    ranked: list[DataFrame],
    *,
    k: int = 10,
    c: int = 60,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two or more
    per-query rankings — the standard hybrid-retrieval combiner (BM25 ⊕
    vector ANN) that needs no score calibration because it consumes
    RANKS only: fused(d) = Σ_lists 1/(c + rank_list(d)), missing
    entries contribute 0. Returns (query_id, id, fused_rank ≤ k) with
    the fused ORDER exposed as integer ranks — the float fused score
    stays internal, so engine float formatting can't perturb a result
    hash. Ties break on ascending id.

    Scale shape: each input is already a per-query top-n (n·|queries|
    rows, corpus-independent); the union + groupBy shuffles only (query,
    id, rank) triples, then one per-query window ranks the fused
    scores. Cost is driven by n·|queries|·|lists|, never corpus size.
    """
    if len(ranked) < 2:
        raise ValueError("reciprocal_rank_fusion needs >= 2 rankings")
    parts = [
        df.select(
            F.col(query_id_col),
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col).cast("double"))).alias(
                "__rrf"
            ),
        )
        for df in ranked
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    fused = allr.groupBy(query_id_col, id_col).agg(
        F.sum("__rrf").alias("__score")
    )
    return _top(
        fused, query_id_col, [F.col("__score").desc(), F.col(id_col).asc()],
        k, "fused_rank",
    ).select(query_id_col, id_col, "fused_rank")


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    *,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k evaluation of an approximate top-k result set against
    the exact one — the index-quality metric every ANN deployment
    monitors (an IVF/LSH index silently degrades as data drifts; this
    is the probe that catches it).

    Inputs are two (query, id) result tables (extra columns ignored).
    Output: one row per query in ``exact`` — n_exact, n_hit, recall —
    computed as |approx ∩ exact| / |exact|. Queries missing entirely
    from ``approx`` score 0, not NULL.

    Scale shape: one semi-style inner join on the narrow (query, id)
    pair plus two per-query counts — cost follows k × queries, never
    corpus size. Evaluate on a sampled query set; the metric is a
    mean over queries either way.
    """
    e = exact.select(F.col(query_col), F.col(id_col)).distinct()
    a = approx.select(F.col(query_col), F.col(id_col)).distinct()
    n_exact = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = (
        e.join(a, [query_col, id_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        n_exact.join(n_hit, query_col, "left")
        .select(
            F.col(query_col),
            F.col("n_exact"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_exact"),
                6,
            ).alias("recall"),
        )
    )


def ranking_metrics(
    results: DataFrame,
    qrels: DataFrame,
    *,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Graded retrieval-quality metrics per query — MRR@k and nDCG@k —
    the standard eval pair for any ranking a search/RAG pipeline serves
    (recall@k alone can't see ORDER; these can).

    ``results``: (query, id, rank) with rank 1-based (extra columns
    ignored; rows with rank > k dropped). ``qrels``: (query, id, rel)
    graded relevance judgments, rel >= 0, unjudged ids counted as 0.
    Output per query in ``qrels``: n_rel (judged rel > 0), mrr
    (1/rank of the first rel > 0 result, 0 if none retrieved), ndcg
    (DCG@k / ideal-DCG@k with the classic rel/log2(rank+1) gain; 0 when
    the query has no relevant docs). Rounded to 6dp for stable hashing.

    Scale shape: one narrow (query, id) equi-join plus two per-query
    aggregates and one window over the ≤k judged rows per query — cost
    follows k × queries + |qrels|, never corpus size (same contract as
    ``ann_recall``).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    res = (
        results.select(
            F.col(query_col), F.col(id_col), F.col(rank_col).alias("__rank")
        )
        .filter(F.col("__rank") <= k)
    )
    jud = qrels.select(
        F.col(query_col), F.col(id_col), F.col(rel_col).cast("double").alias("__rel")
    )
    # retrieved-side gains: judged relevance at each served rank
    got = res.join(jud, [query_col, id_col], "inner")
    per_q = got.groupBy(query_col).agg(
        F.sum(
            F.col("__rel") / F.log2(F.col("__rank").cast("double") + F.lit(1.0))
        ).alias("__dcg"),
        F.min(F.when(F.col("__rel") > 0, F.col("__rank"))).alias("__first"),
    )
    # ideal gains: best possible ordering of the judgments, top k
    ideal = (
        _top(
            jud.filter(F.col("__rel") > 0), query_col,
            [F.col("__rel").desc(), F.col(id_col)], k, "__rn",
        )
        .groupBy(query_col)
        .agg(
            F.sum(
                F.col("__rel") / F.log2(F.col("__rn").cast("double") + F.lit(1.0))
            ).alias("__idcg"),
            F.count(F.lit(1)).alias("__n_rel_k"),
        )
    )
    n_rel = (
        jud.groupBy(query_col)
        .agg(
            F.sum(F.when(F.col("__rel") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_rel")
        )
    )
    return (
        n_rel.join(ideal, query_col, "left")
        .join(per_q, query_col, "left")
        .select(
            F.col(query_col),
            F.col("n_rel"),
            F.round(
                F.coalesce(1.0 / F.col("__first"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(
                F.when(
                    F.coalesce(F.col("__idcg"), F.lit(0.0)) > 0,
                    F.coalesce(F.col("__dcg"), F.lit(0.0)) / F.col("__idcg"),
                ).otherwise(0.0),
                6,
            ).alias("ndcg"),
        )
    )
