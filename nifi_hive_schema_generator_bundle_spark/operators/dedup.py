"""Deduplication operators — exact and near-duplicate, designed shuffle-lean.

Scale design notes (the part that matters at 100 TB):

* **exact_dedup** — one hash-partitioned aggregation on the normalized
  text fingerprint (map-side partial aggregation applies; the shuffle
  carries only (fingerprint, min_id), never document bodies).
* **minhash_lsh** — per-row signature computation is narrow (no shuffle);
  banding explodes each doc into ``bands`` rows keyed by (band, bandhash),
  so the candidate-generation shuffle carries ``bands × 8-byte`` keys per
  doc. Buckets are self-joined only within identical band hashes, which is
  the LSH guarantee that candidate count stays ~linear; a size cap guards
  against degenerate buckets (all-identical corpora) becoming quadratic.
* **simhash** — 64-bit signature per doc via bit-vote aggregation over
  the DISTINCT token set (occurrence voting lets one boilerplate token
  collapse all signatures — see ``simhash``'s docstring) in one narrow
  projection; candidates via 4×16-bit chunk equality (Hamming ≤ 3 ⇒ at
  least one chunk identical by pigeonhole) with the same
  degenerate-bucket cap as MinHash (``_banded_pairs``), verified with
  ``bit_count(xor)`` — ``packed_hamming_pairs`` is the one engine.
* **exact set joins** — ``jaccard_threshold_join``, ``containment_join``
  and the all-pairs form of ``ngram_jaccard_pairs`` are one prefix-filter
  join (``_set_join``) with a different required overlap and score.
* **connected components** — iterative min-label propagation over the
  candidate-pair edge list (alternating small-star-ish join rounds, AQE
  handles the shrinking frontier). Converges in O(log n) rounds on
  near-dup graphs, whose components are tiny in practice.

Every step is DataFrame built-ins — no Python in any per-row path.

Cache lifecycle: the pair generators ``persist()`` each frame that
several consumers of their plan read — ``_set_join``'s ``docs`` and
``toks`` (so ``jaccard_threshold_join``, ``containment_join`` and the
all-pairs ``ngram_jaccard_pairs``), ``minhash_lsh_pairs``'s signatures
when no ``sigs=`` frame is injected, ``packed_hamming_pairs``'s
signature frame (so ``simhash_pairs`` and ``simhash_pairs_portable``),
and ``embedding_near_dup_pairs``'s normalized vectors (bucketed, or
blocked in ``_blocked_cosine_pairs``). The result is lazy, so the cache
must outlive the call: the caller's first action fills it, and none of
these functions unpersists it. A caller that wants the memory back owns
the frame — injects it (``sigs=``), or unpersists the very frame it
gave ``packed_hamming_pairs``, which persists its input in place —
after its action, or calls
``spark.catalog.clearCache()`` once the pairs are consumed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_min_partitions
from ..functions.textfns import normalize_ws, whitespace_tokens
from ..session import round_checkpoints

__all__ = [
    "exact_dedup",
    "shingles",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_pairs",
    "simhash_bits_portable",
    "simhash_pairs_portable",
    "packed_hamming_pairs",
    "embedding_near_dup_pairs",
    "connected_components",
    "dedup_keep_min",
    "dedup_keep_best",
    "paragraph_dedup",
    "url_dedup",
    "duplicate_span_stats",
    "remove_duplicate_spans",
    "minhash_signatures",
    "band_keys",
    "signature_agreement",
    "contaminated_ids",
    "decontaminate",
    "jaccard_threshold_join",
    "containment_join",
]


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the minimum id per exact (normalized) text value.

    Returns (id_col, n_copies). The shuffle key is the md5 fingerprint —
    16 bytes regardless of document size — and partial aggregation folds
    duplicates map-side before the exchange.
    """
    fp = F.md5(normalize_ws(F.lower(F.col(text_col))))
    return (
        df.groupBy(fp.alias("fp"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .drop("fp")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-shingles from an ALREADY-MATERIALIZED token-array column.

    The lambda below slices ``toks`` once per shingle position; if
    ``toks`` were an inlined tokenizer expression, Spark's interpreted
    HOF evaluation would re-split the whole document per position —
    O(n²) per doc (measured 16.6 s → 3.1 s at sf0.1 when
    cdc_chunk_documents hit the same trap). Callers therefore project
    the token array into a real column first and pass ``F.col(...)``.
    """
    n = F.size(toks)
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        )
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as strings from raw text — expression-context
    convenience; hot paths materialize tokens and use
    ``shingles_from_tokens`` (see its docstring for the O(n²) trap)."""
    return shingles_from_tokens(whitespace_tokens(F.lower(text)), k)


def _md5_long(s: Column, i: int) -> Column:
    """Engine-portable seeded hash: first 8 md5 hex chars of
    ``s + ':' + i`` as a long — the ``hash_fraction`` recipe, replayable
    in DuckDB as ``CAST(concat('0x', substring(md5(s || ':' || i), 1,
    8)) AS BIGINT)``. Slower than the xxhash64 intrinsic (string
    md5 per (shingle, seed)); use only where cross-engine verification
    is worth the cycles."""
    return F.conv(
        F.substring(F.md5(F.concat(s, F.lit(f":{i}"))), 1, 8), 16, 10
    ).cast("long")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    num_perm: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig) — the ``num_perm``-wide MinHash signature per document,
    as one narrow projection + one partial-aggregated groupBy.

    The hash/min hot loop stays in whole-stage codegen (explode + 64
    codegen'd min-aggregates; higher-order-function folds are
    interpreted — measured ~2× slower), and map-side partial mins mean
    the shuffle carries one 64-long row per (partition, doc). Shared by
    ``minhash_lsh_pairs`` and the incremental (cross-run) near-dedup
    store, which must agree bit-for-bit on signatures.

    ``hash_fn``: ``"xxhash64"`` (default, JVM intrinsic — the fast
    production path) or ``"md5"`` (portable: a DuckDB oracle replays
    every signature component exactly; same statistical quality)."""
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError("hash_fn must be 'xxhash64' or 'md5'")
    df = ensure_min_partitions(df)  # small-split inputs must not serialize the hash loop
    exploded = df.select(
        F.col(id_col).alias("id"),
        whitespace_tokens(F.lower(F.col(text_col))).alias("__toks"),
    ).select(
        "id", F.explode(shingles_from_tokens(F.col("__toks"), k)).alias("sh")
    )
    if hash_fn == "md5":
        hashes = [F.min(_md5_long(F.col("sh"), i)) for i in range(num_perm)]
    else:
        hashes = [F.min(F.xxhash64("sh", F.lit(i))) for i in range(num_perm)]
    return exploded.groupBy("id").agg(F.array(*hashes).alias("sig"))


def band_keys(
    sig: DataFrame, *, bands: int = 16, num_perm: int = 64,
    portable: bool = False,
) -> DataFrame:
    """(id, sig, band, bucket) — LSH banding over a signature frame:
    each doc explodes to ``bands`` rows keyed by an 8-byte hash of its
    signature slice. ``xxhash64`` hashes the long-array slice directly —
    no string materialization per band.

    ``portable``: key each band by the EXACT ':'-joined slice string
    instead of its xxhash64 — collision-free band equality an external
    SQL engine can reproduce verbatim (wider shuffle key; the oracle
    path's trade)."""
    rows = num_perm // bands

    def bucket_of(b: Column) -> Column:
        sl = F.slice("sig", b * rows + 1, rows)
        if portable:
            return F.concat_ws(":", F.transform(sl, lambda x: x.cast("string")))
        return F.xxhash64(sl, b)  # stays an 8-byte shuffle key

    return sig.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"), bucket_of(b).alias("bucket")
                ),
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def signature_agreement(a: Column | str, b: Column | str) -> Column:
    """Fraction of matching MinHash components — the unbiased estimator
    of set Jaccard two stores can compute without ever re-reading text."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.size(
        F.filter(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.size(a).cast("double")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    hash_fn: str = "xxhash64",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) with estimated Jaccard ≥
    threshold. Estimate = fraction of matching minhash components
    (unbiased estimator of set Jaccard).

    Plan: narrow signature projection → explode to ``bands`` rows/doc →
    shuffle on (band, bandhash) → within-bucket self-join → distinct pair
    verification on full signatures.

    ``hash_fn="md5"`` switches signatures AND band keys to the
    engine-portable forms (``minhash_signatures``/``band_keys``
    docstrings) so the whole LSH pipeline — candidate generation
    included — is replayable by a DuckDB oracle.

    ``sigs`` supplies a precomputed ``minhash_signatures`` frame
    (same k/num_perm/hash_fn) so callers that also need the
    signatures for their own joins — the incremental near-dedup store
    pays the shingling+permutation scan once instead of twice — don't
    recompute them; the caller then owns its persistence.
    """
    # computed once, read by both self-join sides + the bucket-size guard
    sig = (
        sigs
        if sigs is not None
        else minhash_signatures(
            df, text_col, id_col, k=k, num_perm=num_perm, hash_fn=hash_fn
        ).persist()
    )
    banded = band_keys(
        sig, bands=bands, num_perm=num_perm, portable=hash_fn == "md5"
    )
    est = signature_agreement("sig_a", "sig_b")
    return (
        _banded_pairs(banded, max_bucket)
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def _banded_pairs(banded: DataFrame, max_bucket: int) -> DataFrame:
    """(id, band, bucket, *payload) rows → distinct (id_a < id_b) pairs
    sharing at least one (band, bucket), each payload column as
    ``<col>_a``/``<col>_b`` — the banded self-join behind
    ``minhash_lsh_pairs`` and ``packed_hamming_pairs``. A bucket holding
    more than ``max_bucket`` rows is dropped first: identical-corpus
    buckets would make the self-join quadratic (cap² per bucket
    instead)."""
    sizes = banded.groupBy("band", "bucket").count()
    banded = banded.join(
        sizes.filter(F.col("count") <= max_bucket).drop("count"),
        ["band", "bucket"],
    )
    payload = [c for c in banded.columns if c not in ("band", "bucket")]

    def side(s: str) -> DataFrame:
        return banded.select(
            "band", "bucket", *[F.col(c).alias(f"{c}_{s}") for c in payload]
        )

    return (
        side("a")
        .join(side("b"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*[f"{c}_{s}" for c in payload for s in "ab"])
        .dropDuplicates(["id_a", "id_b"])
    )


def contaminated_ids(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    broadcast_eval: bool = False,
) -> DataFrame:
    """ids of corpus docs sharing any word ``k``-gram with ``eval_df`` —
    benchmark decontamination, the overlap check every LLM training-data
    pipeline runs before a corpus ships.

    Scale shape: eval/benchmark sets are small by definition, so AQE
    turns the LEFT SEMI into a broadcast join from the runtime size of
    the distinct k-gram set; the corpus side is a single narrow explode →
    semi join → distinct ids. The corpus is never shuffled on document
    bodies; the semi join carries only (id, gram-hash). The default
    deliberately carries NO broadcast hint: measured at sf0.1, the forced
    driver-side broadcast build made run time bimodal (0.9 s typical,
    6-10 s under contention) while the AQE-decided plan held a stable
    ~0.9-1.1 s. ``broadcast_eval=True`` restores the forced hint.
    """
    # Join on xxhash64(gram), not the gram string: the broadcast build
    # shrinks from tens of MB of k-word strings to 8 bytes/gram (measured
    # at sf0.1: the string broadcast made run time bimodal, 2 s vs 9-14 s
    # under GC pressure), and the corpus side ships longs through the semi
    # join instead of strings. A 64-bit collision falsely flags a doc with
    # p ≈ n_grams²/2⁶⁵ — at 10¹⁰ distinct grams that is still <1%, and
    # decontamination over-flagging is the safe direction.
    def gram_hashes(toks: Column) -> Column:
        return F.transform(
            shingles_from_tokens(toks, k), lambda s: F.xxhash64(s)
        )

    def tokenized(frame: DataFrame, *keep: str) -> DataFrame:
        return frame.select(
            *keep, whitespace_tokens(F.lower(F.col(text_col))).alias("__toks")
        )

    ev = (
        tokenized(eval_df)
        .select(F.explode(gram_hashes(F.col("__toks"))).alias("gram_h"))
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    # the shingle transform is an interpreted HOF (no codegen) — single-
    # split inputs must fan out or the explode serializes on one core
    grams = tokenized(ensure_min_partitions(df), id_col).select(
        F.col(id_col), F.explode(gram_hashes(F.col("__toks"))).alias("gram_h")
    )
    return grams.join(ev, "gram_h", "left_semi").select(id_col).distinct()


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Corpus minus every doc flagged by ``contaminated_ids`` (left-anti
    on the id list — document bodies never shuffle)."""
    bad = contaminated_ids(
        df, eval_df, text_col, id_col, k=k, broadcast_eval=broadcast_eval
    )
    return df.join(bad, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard for pairs, as (id_a < id_b, jaccard
    rounded to 6) with ``jaccard ≥ threshold`` tested on the rounded
    value. With ``candidates`` (id_a, id_b) given — typically LSH output
    — verification joins shingle sets back by id; without, falls back to
    an exact all-pairs computation: for ``threshold > 0`` the uncapped
    prefix-filter Jaccard join (``_set_join``: no false negatives,
    skew-safe against hot shingles), or the O(n²) self-join only for
    ``threshold <= 0`` callers who want every pair (test scale only).
    """
    df = ensure_min_partitions(df)
    if candidates is None and threshold > 0.0:
        return (
            _jaccard_join(
                df, text_col, id_col, k=k, threshold=threshold, max_bucket=None
            )
            .select("id_a", "id_b", F.round("value", 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    sh = df.select(
        F.col(id_col).alias("id"),
        whitespace_tokens(F.lower(F.col(text_col))).alias("__toks"),
    ).select("id", shingles_from_tokens(F.col("__toks"), k).alias("sh"))
    if candidates is None:
        a, b = sh.alias("a"), sh.alias("b")
        cand = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
    else:
        cand = (
            candidates.select("id_a", "id_b")
            .join(sh.withColumnRenamed("id", "id_a"), "id_a")
            .withColumnRenamed("sh", "sh_a")
            .join(sh.withColumnRenamed("id", "id_b"), "id_b")
            .withColumnRenamed("sh", "sh_b")
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cand.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(text: Column) -> Column:
    """64-bit SimHash over DISTINCT whitespace tokens, as one narrow
    expression: per-feature xxhash64 → per-bit ±1 votes aggregated
    across the feature set → sign bits packed into a long.

    Voting over the distinct-token SET rather than per occurrence is
    deliberate robustness (the Charikar/Manku scheme weights features
    by importance, never raw frequency): a high-frequency token —
    boilerplate, a template header, a watermark — otherwise contributes
    a constant vote bias of magnitude (count × ±1-pattern) that drags
    EVERY containing document's signature toward that token's own hash.
    Measured on a 10× corpus with one token interleaved at 33%
    frequency: occurrence-voting collapsed all signatures per copy into
    the same band buckets and the candidate join degenerated quadratic
    (170 s vs 2.7 s after this fix, same data). Distinct-voting caps
    any single token's influence at one vote, so only genuine content
    overlap moves signatures together."""
    toks = F.array_distinct(whitespace_tokens(F.lower(text)))
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, tok: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                # call_function: SQL shiftright takes a column shift amount
                # (the PySpark wrapper only accepts a literal int)
                lambda b: F.call_function("shiftright", F.xxhash64(tok), b)
                .bitwiseAND(F.lit(1)) * 2 - 1,
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(63)),
            lambda v, b: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_bits_portable(text: Column) -> Column:
    """64 SimHash sign bits as ``array<int>`` using md5-derived feature
    hashes — the engine-portable twin of ``simhash``: one md5 per
    DISTINCT token (materialized first, so the fold never recomputes
    it per bit — the HOF-inlining trap), bit b of a token = bit (b%4)
    of hex digit (b/4), votes summed across the token set, sign bits
    kept as a list instead of packed into a long (bit 63 would need
    Long.MIN gymnastics in a SQL replay; slices of a bit list band
    directly)."""
    hashes = F.transform(
        F.array_distinct(whitespace_tokens(F.lower(text))), F.md5
    )
    seq = F.sequence(F.lit(0), F.lit(63))

    def vote(h: Column, b: Column) -> Column:
        digit = F.conv(
            F.substring(h, ((b - F.pmod(b, 4)) / 4).cast("int") + 1, 1), 16, 10
        ).cast("int")
        bit = F.call_function(
            "shiftright", digit, F.pmod(b, 4).cast("int")
        ).bitwiseAND(F.lit(1))
        return bit * 2 - 1

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc, F.transform(seq, lambda b: vote(h, b)), lambda a, v: a + v
        ),
    )
    return F.transform(votes, lambda v: F.when(v > 0, 1).otherwise(0))


def simhash_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """``simhash_pairs`` on the portable signature: the 64 md5-derived
    sign bits pack into TWO 32-bit longs (a single 64-bit pack would
    need Long.MIN gymnastics in a SQL replay at bit 63), banding is the
    same 4-chunk pigeonhole (complete for Hamming ≤ 3) via shifts, and
    Hamming distance is ``bit_count(xor)`` on the packed halves —
    every stage replayable by a DuckDB oracle (the gate's
    ``simhash_near_dup_portable``). An earlier bit-LIST form verified
    pairs with an interpreted 64-element zip_with and went super-linear
    at 10× (exponent 1.39 — per-pair array work amplifies in-bucket
    quadratic growth); the packed ints keep the verify one codegen'd
    instruction. The xxhash64 path stays the production default."""
    df = ensure_min_partitions(df)

    def pack(bits: Column, lo_idx: int) -> Column:
        # Σ bits[lo_idx+i] << i for i in 0..31 — fits a long comfortably
        return F.aggregate(
            F.zip_with(
                F.slice(bits, lo_idx + 1, 32),
                F.sequence(F.lit(0), F.lit(31)),
                lambda x, i: F.call_function(
                    "shiftleft", x.cast("long"), i.cast("int")
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    bits = simhash_bits_portable(F.col(text_col))
    sh = df.select(
        F.col(id_col).alias("id"), bits.alias("__bits")
    ).select(
        "id",
        pack(F.col("__bits"), 0).alias("lo"),
        pack(F.col("__bits"), 32).alias("hi"),
    )
    return packed_hamming_pairs(
        sh, max_hamming=max_hamming, max_bucket=max_bucket
    )


def packed_hamming_pairs(
    sh: DataFrame,
    *,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """(id, lo, hi) 64-bit signatures (two packed 32-bit halves) →
    (id_a, id_b, hamming) candidate pairs with Hamming ≤ ``max_hamming``
    — the banding engine behind ``simhash_pairs``,
    ``simhash_pairs_portable`` and ``multimodal.image_near_dup``:
    4×16-bit pigeonhole chunks (a pair within Hamming ≤ 3 must agree on
    at least one chunk — complete for 3; higher ``max_hamming`` still
    verifies correctly but banding may miss pairs differing in all four
    chunks), per-chunk equi-join with the ``max_bucket``
    degenerate-bucket cap (``_banded_pairs``), verify =
    ``bit_count(xor)`` on the packed halves (one codegen'd instruction
    per half)."""
    # The signature frame has FOUR consumers (each self-join side plus
    # each side's bucket-cap aggregate); unpersisted, every consumer
    # replays the whole upstream signature computation — for the media
    # callers that is the full Arrow payload decode ×4 (guide §1.2,
    # the minhash_lsh_pairs precedent). Cached rows are (id, 2 longs).
    sh = sh.persist()
    chunks = [
        F.shiftright(F.col(half), shift).bitwiseAND(F.lit(0xFFFF))
        for half in ("lo", "hi")
        for shift in (0, 16)
    ]
    banded = sh.select(
        "id",
        "lo",
        "hi",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("band"), v.alias("bucket"))
                    for c, v in enumerate(chunks)
                ]
            )
        ).alias("bb"),
    ).select("id", "lo", "hi", "bb.band", "bb.bucket")
    ham = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("int")
    return (
        _banded_pairs(banded, max_bucket)
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming (≤ 3 guaranteed
    complete via 4-chunk pigeonhole banding).

    ``max_bucket`` is the same degenerate-bucket guard
    ``minhash_lsh_pairs`` carries: a (chunk, value) bucket larger than
    the cap is dropped from candidate generation, bounding the
    within-bucket self-join at cap² instead of letting an
    all-near-identical corpus (or a signature-collapsing feature
    distribution) go quadratic. Inside the cap the Hamming ≤ 3
    completeness guarantee is intact; a dropped bucket is the explicit,
    sized trade — same contract as the MinHash path.

    The 64-bit SimHash splits into unsigned 32-bit halves for
    ``packed_hamming_pairs``: its four chunks are the same 16-bit ranges,
    and the two halves' ``bit_count(xor)`` sum to the 64-bit one."""
    df = ensure_min_partitions(df)
    sh = df.select(
        F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh")
    ).select(
        "id",
        F.col("sh").bitwiseAND(F.lit(0xFFFFFFFF)).alias("lo"),
        F.shiftrightunsigned("sh", 32).alias("hi"),
    )
    return packed_hamming_pairs(
        sh, max_hamming=max_hamming, max_bucket=max_bucket
    )


# --------------------------------------------------------------------------
# Embedding cosine near-dup
# --------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.95,
    n_planes: int = 0,
    n_blocks: int = 8,
) -> DataFrame:
    """Pairs with cosine ≥ threshold.

    ``n_planes=0``: exact all-pairs via **blocked matmul** — rows are
    hashed into ``n_blocks`` blocks, every unordered block pair becomes
    one task that BLAS-matmuls its two normalized sub-matrices
    (``applyInPandas``; Arrow in, one ``A @ B.T`` per task). Shuffle
    volume is ``(n_blocks+1) × input`` and the n² work is dense float64
    kernels, not per-pair expression trees (~20× faster than the HOF
    cross-join form at 2 K × 64-dim). ``n_blocks`` scales the task grid:
    use ~``sqrt(2 × cores)`` locally, more on a cluster.

    ``n_planes>0``: random-hyperplane LSH — pairs only form within a
    sign-pattern bucket (high-cosine vectors collide with probability
    ``(1 - θ/π)^n_planes``); the 100 TB path, trading recall for a
    near-linear shuffle.
    """
    from ..functions.vectors import cosine_similarity, l2_normalize

    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("id"), l2_normalize(F.col(vec_col)).alias("v")
    )
    if n_planes > 0:
        from .similarity import random_hyperplane_bucket

        # both self-join sides replay normalize + n_planes dot products
        # per row unpersisted (guide §1.2; the signature-frame pattern
        # used across this file). Cached rows are (id, dim doubles, int).
        base = base.withColumn(
            "bucket", random_hyperplane_bucket("v", n_planes)
        ).persist()
        a, b = base.alias("a"), base.alias("b")
        cos = cosine_similarity(F.col("a.v"), F.col("b.v"))
        return (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.round(cos, 6).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )
    return _blocked_cosine_pairs(base, threshold=threshold, n_blocks=n_blocks)


def _blocked_cosine_pairs(
    base: DataFrame, *, threshold: float, n_blocks: int,
    cell_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold over (id, normalized v) rows.

    Each row sits in block ``b = pmod(hash(id), n_blocks)`` and is
    replicated to every group ``(min(b,x), max(b,x))`` — side 0 when it
    is the lower block, side 1 when the upper, both on the diagonal.
    One ``applyInPandas`` task per unordered block pair computes the
    dense similarity matrix and keeps ``id_a < id_b`` hits, so each pair
    is produced exactly once.

    ``cell_col``: optional blocking column — pairs form only WITHIN a
    cell (``semantic_dedup``'s centroid cells), and the block grid runs
    per cell, so one giant cell still fans out to ``n_blocks·(n_blocks
    +1)/2`` tasks instead of one straggler. Without it the whole input
    is a single implicit cell (exact all-pairs).
    """
    import numpy as np  # imported here so the closure ships cleanly
    import pandas as pd

    B = n_blocks
    id_sql_type = base.schema["id"].dataType.simpleString()

    # two consumers (the main side emission + the diagonal side-1 copy
    # unioned below) — persist so the caller's scan + normalize chain
    # runs once, not twice (guide §1.2; the signature-frame pattern).
    blocked = base.filter(F.col("v").isNotNull()).withColumn(
        "blk", F.pmod(F.hash("id"), F.lit(B))
    ).persist()
    cell_keys = [cell_col] if cell_col is not None else []
    sides = blocked.select(
        *cell_keys,
        "id",
        F.col("v").cast("array<double>").alias("v"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(B - 1)),
                lambda x: F.struct(
                    F.least("blk", x).alias("ga"),
                    F.greatest("blk", x).alias("gb"),
                    (F.col("blk") > x).cast("int").alias("side"),
                ),
            )
        ).alias("g"),
    ).select(*cell_keys, "id", "v", "g.ga", "g.gb", "g.side")
    # diagonal groups need the row on BOTH sides (emitted once by the
    # transform above with side=0); add the side-1 copy
    diag = sides.filter((F.col("ga") == F.col("gb")) & (F.col("side") == 0))
    sides = sides.unionByName(diag.withColumn("side", F.lit(1)))

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        A = np.stack(left["v"].to_numpy())
        Bm = np.stack(right["v"].to_numpy())
        sims = A @ Bm.T
        ia, ib = np.nonzero(np.round(sims, 6) >= threshold)
        id_l = left["id"].to_numpy()[ia]
        id_r = right["id"].to_numpy()[ib]
        if pdf["ga"].iat[0] == pdf["gb"].iat[0]:
            # diagonal: both orderings of every pair (and self-pairs) are
            # present — keep the ascending ordering once
            keep = id_l < id_r
            lo, hi = id_l[keep], id_r[keep]
            cos = sims[ia, ib][keep]
        else:
            # off-diagonal: each unordered pair appears exactly once, but
            # block membership doesn't order ids — normalize, drop none
            lo = np.minimum(id_l, id_r)
            hi = np.maximum(id_l, id_r)
            cos = sims[ia, ib]
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": np.round(cos, 6)}
        )

    return (
        sides.groupBy(*cell_keys, "ga", "gb")
        # id columns keep the caller's id type (string doc ids work too)
        .applyInPandas(
            gemm, schema=f"id_a {id_sql_type}, id_b {id_sql_type}, cosine double"
        )
    )


# --------------------------------------------------------------------------
# components / resolution
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, *, max_iter: int = 20, checkpoint_dir: str | None = None
) -> DataFrame:
    """(id, component) from an edge list (id_a, id_b) via iterative
    min-label propagation. Each round: label ← min(label of self, labels
    of neighbors); stops when no label changes. Rounds are plain joins —
    AQE re-plans as the frontier shrinks; near-dup components are shallow
    so this converges in a handful of rounds. Labels propagate one hop
    per round, so full convergence needs ``max_iter`` ≥ the largest
    component's diameter; past the cap the result is still deterministic
    (each label is the min over its ``max_iter``-hop neighborhood).

    ``checkpoint_dir``: reliable location (HDFS/S3 on a real cluster)
    for the per-round lineage truncation; every round is materialized
    eagerly. The round contract is ``session.round_checkpoints``.
    """
    spark = pairs.sparkSession
    # edges are the loop invariant read by EVERY round's join — cache
    # them once or the whole candidate-pair lineage (for LSH callers:
    # band explode + bucket self-join + signature verify) re-executes
    # per round (the graph.pagerank e/nodes/deg lesson, measured here
    # r8: the 3-batch incremental near-dedup replay spent 6.9-11.7 s
    # per CC call recomputing pair generation ~2× per round; with the
    # edge cache the whole replay dropped 27.0 → ~11 s warm at sf0.1).
    # Unpersisted before return: `labels` is checkpoint-materialized,
    # so nothing downstream re-reads the cached edges.
    # both directions come from ONE pass over pairs via explode — the
    # union-of-two-selects form put the pair lineage under BOTH union
    # branches, so even the single cache-warming job computed it twice
    # (measured r8: 90 s vs 47 s single-pass for the jaccard-join caller)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    try:
        with round_checkpoints(spark, checkpoint_dir) as materialize:
            labels = materialize(labels, eager=True)
            for _ in range(max_iter):
                neighbor_min = (
                    edges.join(labels, edges.dst == labels.id)
                    .groupBy("src")
                    .agg(F.min("component").alias("nbr_component"))
                )
                # the convergence flag rides the label-update pass itself
                # (least() can only decrease the label, so changed ⇔ new <
                # old) — the probe is then a scan of the materialized frame,
                # not a join+count job
                new_comp = F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                )
                updated = (
                    labels.join(
                        neighbor_min, labels.id == neighbor_min.src, "left"
                    ).select(
                        "id",
                        new_comp.alias("component"),
                        (new_comp < F.col("component")).alias("chg"),
                    )
                )
                # the convergence count rides the checkpoint job itself via
                # Dataset.observe (r9): the probe used to be a second
                # scheduled job per round over the just-materialized frame —
                # pure protocol floor at ~0.15-0.3 s/job locally (guide
                # §1.2/§1.5). Metrics land when the eager checkpoint
                # materializes, so obs.get returns without scheduling
                # anything.
                from pyspark.sql import Observation

                obs = Observation()
                updated = updated.observe(
                    obs, F.sum(F.col("chg").cast("int")).alias("n")
                )
                updated = materialize(updated, eager=True)
                n_changed = obs.get["n"]
                labels = updated.drop("chg")
                if not n_changed:
                    break
    finally:
        edges.unpersist(blocking=True)
    return labels


def dedup_keep_min(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every doc that belongs to a near-dup component except the
    min-id representative. Docs in no component survive untouched."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    quality_col: str,
) -> DataFrame:
    """Drop every doc in a near-dup component except its BEST
    representative: highest ``quality_col``, minimum ``id_col`` on
    ties. Production near-dedup keeps the longest / highest-scoring
    copy of a duplicated page, not the accidental minimum id —
    ``dedup_keep_min`` is the id-deterministic sibling.

    Scale shape: the winner election runs on the component table
    (id, component, quality) — one row per clustered doc, never
    document bodies — with a row_number window partitioned by
    component; losers anti-join back on the id. Identical shuffle
    discipline to ``dedup_keep_min`` plus one narrow quality column.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs)
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q")),
        "id",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__q").desc(), F.col("id").asc()
    )
    losers = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# paragraph-level (inner-document) dedup
# --------------------------------------------------------------------------

def paragraph_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup — the C4/RefinedWeb
    inner-document pass (the dedup granularity between whole-document
    ``exact_dedup`` and MinHash near-dup): repeated boilerplate
    (headers, footers, licence blocks) is removed from every document
    except its first occurrence, while the rest of each document
    survives.

    Each document is split on ``sep`` (a Java regex, like ``F.split``
    itself — escape metacharacters in literal separators); a paragraph
    is dropped when its
    normalized form (lowercased, whitespace-collapsed) already occurred
    at a smaller (``id_col``, position); survivors are reassembled with
    ``sep`` in their original order. Returns (id_col, text_col,
    n_paras, n_kept) for every input document — a fully-boilerplate
    document keeps its row with empty text (n_kept = 0), so corpus row
    counts are stable through the pass.

    Scale shape: the keep/drop decision shuffles only (16-byte md5
    fingerprint, id, position) — paragraph BODIES stay out of the
    winner election entirely (a ``row_number`` over the fingerprint
    partition, first occurrence wins; same 16-byte-key discipline as
    ``exact_dedup``). Bodies then move twice: the winner join on
    (id, position) and the per-document reassembly groupBy — the same
    cost as any explode-and-regroup pass; pre-bucketing the corpus by
    ``id_col`` removes the second exchange. ``collect_list`` holds one
    document's paragraphs per group — bounded by document size, the
    same envelope every per-document operator here assumes.
    """
    from pyspark.sql import Window

    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias(
            "__para_idx", "__para"
        ),
    ).filter(F.trim(F.col("__para")) != "")
    fp = F.md5(normalize_ws(F.lower(F.col("__para"))))
    keys = paras.select(id_col, "__para_idx", fp.alias("__fp"))
    w = Window.partitionBy("__fp").orderBy(id_col, "__para_idx")
    winners = (
        keys.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "__para_idx", F.lit(1).alias("__keep"))
    )
    flagged = paras.join(winners, [id_col, "__para_idx"], "left")
    kept_struct = F.when(
        F.col("__keep").isNotNull(),
        F.struct(F.col("__para_idx"), F.col("__para")),
    )
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["__para"],
            ),
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_paras"),
        F.coalesce(F.sum("__keep"), F.lit(0)).cast("long").alias("n_kept"),
    )


def duplicate_span_stats(
    df: DataFrame,
    *,
    k: int = 5,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span coverage — the exact-substring dedup
    statistic (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): what fraction of each document's tokens
    sits inside a token ``k``-gram that occurs at least ``min_count``
    times corpus-wide. The span granularity between paragraph dedup
    (fixed separator-delimited units) and near-dup (whole-document
    similarity) — it catches templated sentences, quoted boilerplate,
    and self-repetition that neither of those sees.

    Output, one row per input document: (id_col, n_tokens,
    n_dup_grams, dup_tokens, dup_fraction) where dup_tokens is the
    EXACT size of the union of all duplicated k-gram intervals
    (overlapping spans are not double-counted) and dup_fraction =
    round(dup_tokens / n_tokens, 6). Documents shorter than ``k``
    tokens report zero coverage. A training pipeline filters or
    re-weights on dup_fraction, or feeds the flagged docs to a span
    remover.

    Scale shape (the suffix-array construction of the paper is replaced
    by hashed k-gram counting, the shuffle-friendly equivalent for
    fixed k): tokens are materialized once per document (HOF-inlining
    trap avoided), each position's k-gram is folded to an 8-byte
    ``xxhash64`` BEFORE the explode, so the corpus-wide count
    aggregation shuffles (8-byte key, count) with map-side partials —
    gram TEXT never shuffles. Duplicated positions come back via an
    AQE-decided semi-join on the same 8-byte key (no broadcast hint:
    the duplicated-gram table is corpus-dependent, the TF-IDF lesson).
    Interval-union coverage is one window pass per document —
    ``least(k, next_pos - pos)`` over positions sorted within the doc —
    exact for fixed-length intervals with no per-token explode. 64-bit
    hash collisions would need ~2³² distinct grams (birthday bound) to
    appear at all and only ever OVER-count by one gram; acceptable for
    a filter statistic and standard for this operator family.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    toks, lengths, grams = _gram_positions(df, k, text_col, id_col)
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("gh")
    )
    return _span_coverage(lengths, grams, dup, k, id_col)


def _gram_positions(df, k: int, text_col: str, id_col: str):
    """Shared k-gram plumbing: (toks, lengths, grams) where grams is
    (id, pos, gh) with gh an 8-byte xxhash64 of the k-gram — gram TEXT
    never leaves the document row (the duplicate_span_stats shuffle
    discipline)."""
    df = ensure_min_partitions(df)
    toks = df.select(
        F.col(id_col),
        whitespace_tokens(F.lower(F.col(text_col))).alias("__toks"),
    ).select(id_col, "__toks", F.size("__toks").alias("n_tokens"))
    lengths = toks.select(id_col, "n_tokens")
    gram_hashes = F.when(
        F.col("n_tokens") >= k,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - k + 1),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("__toks"), i, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = toks.select(
        F.col(id_col), F.posexplode(gram_hashes).alias("pos", "gh")
    )
    return toks, lengths, grams


def _span_coverage(lengths, grams, dup, k: int, id_col: str):
    """Exact interval-union coverage of the ``dup``-flagged gram
    positions: one window pass per document, no per-token explode."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    covered = F.least(
        F.lit(k), F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(k))
    )
    per_doc = (
        grams.join(dup, "gh", "semi")
        .select(F.col(id_col), covered.alias("cov"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.sum("cov").alias("dup_tokens"),
        )
    )
    return lengths.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias(
            "n_dup_grams"
        ),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias(
            "dup_tokens"
        ),
        F.round(
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("dup_fraction"),
    )


def cross_doc_span_stats(
    df: DataFrame,
    *,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document coverage by k-grams shared across ≥ ``min_docs``
    DISTINCT documents — the CROSS-DOC variant of
    ``duplicate_span_stats``. The corpus-wide count catches
    self-repetition (a doc quoting itself trips it); this one is the
    boilerplate/quotation detector: only spans that appear in multiple
    documents count, which is the signal licensing banners, templated
    headers, and syndicated passages leave and self-repetition does
    not (Lee et al. 2022 §5 measure cross-example memorization this
    way).

    Output schema matches duplicate_span_stats: (id, n_tokens,
    n_dup_grams, dup_tokens, dup_fraction) with the same exact
    interval-union coverage. Scale shape identical too — the only
    change is the dup predicate: count(DISTINCT doc) over the 8-byte
    hash key (two-level partial aggregation; gram text never
    shuffles)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (cross-doc by definition)")
    toks, lengths, grams = _gram_positions(df, k, text_col, id_col)
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    return _span_coverage(lengths, grams, dup, k, id_col)


def top_shared_spans(
    df: DataFrame,
    *,
    k: int = 5,
    min_docs: int = 2,
    top_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The corpus boilerplate REPORT: the ``top_n`` k-grams shared by
    the most documents, WITH their text — (gram, n_docs,
    n_occurrences), ordered (n_docs DESC, n_occurrences DESC, gram
    ASC). This is what a curation run reads before writing blocklist
    rules: the actual banner/footer/template strings, not just
    coverage numbers.

    Two-phase exactness: phase 1 finds candidate hashes with
    count(DISTINCT doc) ≥ min_docs on the 8-byte key (cheap, text
    never shuffles); phase 2 re-derives gram TEXT by re-slicing the
    surviving (id, pos) positions against the token arrays and
    re-aggregates BY TEXT with the same min_docs predicate — so a
    64-bit hash collision can only add phase-2 work, never a wrong
    row, and the text tiebreak makes the top-n deterministic in any
    engine. Phase-2 volume is bounded by actual cross-doc duplication,
    not corpus size."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    toks, _lengths, grams = _gram_positions(df, k, text_col, id_col)
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    survivors = grams.join(dup, "gh", "semi")
    with_text = survivors.join(
        toks.select(id_col, "__toks"), id_col
    ).select(
        F.col(id_col),
        F.concat_ws(
            " ", F.slice(F.col("__toks"), F.col("pos") + 1, k)
        ).alias("gram"),
    )
    return (
        with_text.groupBy("gram")
        .agg(
            F.countDistinct(F.col(id_col)).cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("gram"))
        .limit(top_n)
    )


def remove_duplicate_spans(
    df: DataFrame,
    *,
    k: int = 5,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring span REMOVAL: drop every token covered by a
    corpus-duplicated k-gram occurrence, except inside the gram's
    globally-first occurrence (min (id, position) — the same
    first-wins rule as ``paragraph_dedup``), then reassemble the
    surviving tokens in order. Returns (id_col, text_col, n_tokens,
    n_kept) for every input row.

    A token survives if NO duplicated non-first gram occurrence covers
    it. Coverage is decided per token index via a bounded k-way explode
    of only the duplicated, non-first occurrences (each contributes k
    (doc, index) rows — fanout is k × dup-gram count, not k × corpus),
    anti-joined against the token positions. First-occurrence election
    shuffles (8-byte hash, id, pos) triples only.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    df = ensure_min_partitions(df)
    toks = df.select(
        F.col(id_col),
        whitespace_tokens(F.lower(F.col(text_col))).alias("__toks"),
    ).select(id_col, "__toks", F.size("__toks").alias("n_tokens"))
    gram_hashes = F.when(
        F.col("n_tokens") >= k,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - k + 1),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("__toks"), i, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = toks.select(
        F.col(id_col), F.posexplode(gram_hashes).alias("pos", "gh")
    )
    w = Window.partitionBy("gh").orderBy(id_col, "pos")
    flagged = grams.withColumn("__n", F.count(F.lit(1)).over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    ))).withColumn("__rn", F.row_number().over(w))
    # duplicated gram occurrences that are NOT the global first
    removals = flagged.filter(
        (F.col("__n") >= min_count) & (F.col("__rn") > 1)
    ).select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("tok_idx"),
    ).distinct()
    positions = toks.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.posexplode_outer("__toks").alias("tok_idx", "tok"),
    )
    kept = positions.join(removals, [id_col, "tok_idx"], "anti")
    agg_tok = F.when(
        F.col("tok").isNotNull(), F.struct(F.col("tok_idx"), F.col("tok"))
    )
    agg = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(agg_tok)), lambda s: s["tok"]
            ),
        ).alias(text_col),
        F.sum(
            F.when(F.col("tok").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_kept"),
    )
    # left-join back onto the full id set: a document whose EVERY token
    # sits in removed spans loses all its position rows in the anti-join
    # and would otherwise vanish — row counts stay stable through the
    # pass (same contract as paragraph_dedup / duplicate_span_stats)
    return toks.select(id_col, "n_tokens").join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        F.col("n_tokens"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    *,
    quality_col: str | None = None,
) -> DataFrame:
    """URL-level recrawl collapse — the CommonCrawl-style stage that
    keeps ONE page per canonical URL when a corpus holds many crawls of
    the same address under cosmetically different URLs (case, tracking
    params, fragments, default ports, userinfo). URLs canonicalize via
    ``functions.urls.url_normalize``; within each canonical URL the
    winner is the highest ``quality_col`` (ties → lowest ``id_col``),
    or the lowest id when no quality column is given — same election
    semantics as ``dedup_keep_best`` / ``dedup_keep_min``, keyed by URL
    instead of content. Returns the winning rows with ``url_canon`` and
    ``n_crawls`` (the collapsed group's size) appended.

    Scale shape: the election window runs on a slim (id, canon,
    quality) projection — ONE shuffle keyed by the canonical URL whose
    rows are ~100 bytes regardless of page size; bodies rejoin the
    |winners|-sized table by id (the exact_dedup semi-join-back
    kernel). Canonicalization itself is a narrow codegen'd projection.
    """
    from pyspark.sql import Window

    from ..functions.urls import url_normalize

    q = F.col(quality_col) if quality_col is not None else F.lit(0)
    slim = df.select(
        F.col(id_col),
        url_normalize(F.col(url_col)).alias("url_canon"),
        q.alias("__q"),
    )
    w = Window.partitionBy("url_canon").orderBy(
        F.col("__q").desc_nulls_last(), F.col(id_col).asc()
    )
    winners = (
        slim.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_crawls",
            F.count(F.lit(1)).over(Window.partitionBy("url_canon")),
        )
        .filter(F.col("__rn") == 1)
        .select(id_col, "url_canon", "n_crawls")
    )
    return df.join(winners, id_col, "inner")


# --------------------------------------------------------------------------
# Exact set-similarity joins (prefix filtering)
# --------------------------------------------------------------------------

def _set_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int | None,
    threshold: float,
    max_bucket: int | None,
    need: Callable[[float, Column, Column], Column],
    score: Callable[[Column, Column, Column], Column],
    directed: bool,
    expand: bool = True,
) -> DataFrame:
    """(id_a, id_b, value) for every pair of documents whose element-set
    ``score`` reaches ``threshold`` — the one prefix-filter join (AllPairs
    / PPJoin: Chaudhuri et al. 2006, Xiao et al. 2008) behind
    ``jaccard_threshold_join``, ``containment_join`` and the all-pairs
    ``ngram_jaccard_pairs``. ``value`` is exact and unrounded; rows below
    ``threshold − 1e-6`` are dropped and each caller applies its own
    published filter to the rest.

    Elements: ``k=None`` → the distinct whitespace tokens; ``k`` → the
    distinct word-k shingles (``shingles_from_tokens``: a sub-k document
    is one whole-text shingle). Empty sets never pair.

    ``score(s, na, nb)`` is the pair's value from its overlap
    ``s = |A∩B|`` and sizes; ``need(t, na, nb)`` is the least ``s`` with
    ``score ≥ t``. ``directed=False``: the score is symmetric and each
    pair comes once with id_a < id_b. ``directed=True``: ``score`` is the
    value of A inside B and both orders are scored, so a pair can come
    twice.

    No false negatives. Every representative lists its elements in one
    global rarest-first order (document frequency, then the element). A
    qualifying pair has ``s ≥ ⌈t·|A|⌉`` (Jaccard: ``s ≥ t·|A∪B|``;
    containment: ``s ≥ t·|A|`` by definition), so its first shared
    element w sits within A's first ``|A| − ⌈t·|A|⌉ + 1`` elements — the
    prefix. A symmetric score bounds B the same way, so w is in both
    prefixes and prefix × prefix finds the pair; a directed one bounds
    only the contained side, so A's prefix probes B's full list. Where
    the join meets at w, at positions (pa, pb), every shared element
    follows w on both sides, so ``s ≤ 1 + min(|A|−pa, |B|−pb)``: a row
    where that bound misses ``need`` cannot be w's, and dropping it loses
    nothing (the PPJoin positional filter — it cut 10×-sweep Jaccard
    candidates 1.50 M → 0.55 M). With pa, pb ≥ 1 it also implies the
    size filters (``t|A| ≤ |B| ≤ |A|/t`` for Jaccard, ``|B| ≥ ⌈t·|A|⌉``
    for containment). Every bound uses ``t = threshold − 1e-6``, so float
    error in ``⌈t·|x|⌉`` never prunes a qualifying pair and a caller that
    filters ``round(value, 6) ≥ threshold`` (true value down to
    threshold − 5e-7) still gets every pair. Rarest-first order keeps a
    hot element out of a document's prefix unless the document has
    almost nothing else, i.e. unless its pairs are real near-duplicates.
    Verification counts the exact ``s`` over the full index.

    Degenerate-corpus guards (a duplicate clique is quadratic in the
    OUTPUT, but must not be quadratic in the JOIN):

    * Duplicate collapse: documents with identical sets (md5 of the
      sorted set) enter the join once, as their min-id representative.
      With ``expand`` the pairs then re-expand to members: a cross-group
      pair gives every member pair the representatives' value, and a
      group of ≥ 2 gives its member pairs ``score`` of identical sets
      (1.0). Without, only representative pairs return.
    * ``max_bucket``: an element on more than ``max_bucket`` rows of the
      probed side (representative prefixes, or full lists when
      ``directed``) is dropped from candidate generation. With the
      collapse in front that means > max_bucket distinct near-identical
      sets; the cap can lose true pairs only there. ``None`` is exact.

    ``docs`` and ``toks`` are persisted: each feeds ≥ 5 consumers, and
    unpersisted every consumer replays tokenize + shingle + sort + md5
    over the corpus (measured super-linear at the 10× sweep, 14 s →
    268 s). Only ids, 16-byte fingerprints and short elements shuffle;
    element arrays never enter a join (shipping them measured 2× slower
    at sf0.1). No ``ensure_min_partitions`` (measured): fanning the
    1-split document scan out to 32 partitions made ``doc_jaccard_join``
    13.3 → 23.5 s and ``doc_containment_join`` 20.0 → 35.0 s at the 10×
    sweep — the persists already bound the tokenize stage, and the wide
    input defeats AQE's advisory sizing for every later exchange."""
    from pyspark.sql import Window

    t = max(threshold - 1e-6, 0.0)
    # tokens materialize into a real column first — shingles_from_tokens'
    # O(len²) HOF-inlining contract (see its docstring)
    base = df.select(
        F.col(id_col).alias("id"),
        whitespace_tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    words = F.col("__toks")
    elems = F.array_distinct(
        words if k is None else shingles_from_tokens(words, k)
    )
    # \x01 cannot survive whitespace tokenization, so it separates even
    # space-joined shingles unambiguously
    docs = base.select(
        "id",
        F.md5(F.concat_ws("\x01", F.array_sort(elems))).alias("fp"),
        F.size(elems).alias("sz"),
    ).persist()
    groups = docs.groupBy("fp").agg(
        F.min("id").alias("rep"),
        F.count(F.lit(1)).alias("n"),
        F.max("sz").alias("sz"),
    )
    toks = (
        base.select(
            "id", F.size(elems).alias("sz"), F.explode(elems).alias("tok")
        )
        .join(groups.select(F.col("rep").alias("id")), "id", "semi")
        .persist()
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    rarest_first = Window.partitionBy("id").orderBy("df", "tok")
    ranked = toks.join(freq, "tok").withColumn(
        "rnk", F.row_number().over(rarest_first)
    )
    prefix = ranked.filter(
        F.col("rnk") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    )
    probe = ranked if directed else prefix
    if max_bucket is not None:
        keep = (
            probe.groupBy("tok")
            .count()
            .filter(F.col("count") <= max_bucket)
            .drop("count")
        )
        prefix, probe = prefix.join(keep, "tok"), probe.join(keep, "tok")

    def cols(frame: DataFrame, s: str, *names: str) -> DataFrame:
        return frame.select(
            "tok", *[F.col(c).alias(f"{c}_{s}") for c in names]
        )

    # a symmetric pair is found from both sides, so one order suffices
    before = (lambda x, y: x != y) if directed else (lambda x, y: x < y)
    na, nb = F.col("sz_a"), F.col("sz_b")
    cand = (
        cols(prefix, "a", "id", "sz", "rnk")
        .join(cols(probe, "b", "id", "sz", "rnk"), "tok")
        .filter(
            before(F.col("id_a"), F.col("id_b"))
            & (
                1 + F.least(na - F.col("rnk_a"), nb - F.col("rnk_b"))
                >= need(t, na, nb)
            )
        )
        # the overlap is order-free: verify each unordered pair once
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    shared = (
        cand.join(cols(toks, "a", "id", "sz"), "id_a")
        .join(cols(toks, "b", "id", "sz"), ["id_b", "tok"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("s"))
    )

    def scored(x: str, y: str) -> DataFrame:
        return shared.select(
            F.col(f"id_{x}").alias("id_a"),
            F.col(f"id_{y}").alias("id_b"),
            score(F.col("s"), F.col(f"sz_{x}"), F.col(f"sz_{y}")).alias(
                "value"
            ),
        )

    pairs = scored("a", "b")
    if directed:
        pairs = pairs.unionByName(scored("b", "a"))
    pairs = pairs.filter(F.col("value") >= t)
    if not expand:
        return pairs

    sz = F.col("sz")
    clones = groups.filter((F.col("n") > 1) & (sz > 0)).select(
        F.col("rep").alias("id_a"),
        F.col("rep").alias("id_b"),
        score(sz, sz, sz).alias("value"),
    )
    members = docs.join(groups.select("fp", "rep"), "fp")

    def member(s: str) -> DataFrame:
        return members.select(
            F.col("rep").alias(f"id_{s}"), F.col("id").alias(f"m_{s}")
        )

    ma, mb = F.col("m_a"), F.col("m_b")
    out = (
        pairs.unionByName(clones)
        .join(member("a"), "id_a")
        .join(member("b"), "id_b")
        .filter((F.col("id_a") != F.col("id_b")) | before(ma, mb))
    )
    if not directed:
        ma, mb = F.least(ma, mb), F.greatest(ma, mb)
    return out.select(ma.alias("id_a"), mb.alias("id_b"), "value")


def _jaccard_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int | None,
    threshold: float,
    max_bucket: int | None,
    expand: bool = True,
) -> DataFrame:
    """``_set_join`` for Jaccard: J ≥ t ⇔ |A∩B| ≥ t/(1+t)·(|A|+|B|)."""
    return _set_join(
        df,
        text_col,
        id_col,
        k=k,
        threshold=threshold,
        max_bucket=max_bucket,
        need=lambda t, na, nb: F.ceil(F.lit(t / (1.0 + t)) * (na + nb)),
        score=lambda s, na, nb: s / (na + nb - s),
        directed=False,
        expand=expand,
    )


def jaccard_threshold_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.5,
    k: int | None = None,
    max_bucket: int | None = 1000,
    expand_duplicates: bool = True,
) -> DataFrame:
    """EXACT token-set Jaccard θ-join: all pairs with
    ``J(tokens_a, tokens_b) ≥ threshold``, no false negatives — the
    deterministic complement of the MinHash path (banding trades recall
    for speed probabilistically; the prefix filter prunes provably). The
    candidate rule is prefix × prefix under ``_set_join`` (whose
    docstring states the argument), with the positional bound
    ``⌈θ/(1+θ)·(|A|+|B|)⌉``; the score is ``shared/(|A|+|B|−shared)``.

    ``k``: None compares unigram token SETS; ``k ≥ 2`` compares
    distinct word-k-gram (shingle) sets — the right granularity for
    near-duplicate text, where unigram sets collapse (documents off a
    shared template share nearly all their vocabulary while sharing
    few 3-grams). Sub-k-token documents compare by their whole joined
    text as one shingle (so in shingle mode two EMPTY documents share
    the '' shingle and pair at J = 1 — the whole-text granularity, not
    a bug); in unigram mode empty token sets never pair.

    Identical sets collapse to one representative before the join and
    re-expand after it; ``expand_duplicates=False`` returns
    representative pairs only (bounded output even on a pure-duplicate
    corpus). ``max_bucket`` caps the representatives sharing one prefix
    token (the ``minhash_lsh_pairs``/``packed_hamming_pairs``
    convention); ``max_bucket=None`` is the provably-exact mode.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded
    to 6."""
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    return (
        _jaccard_join(
            df,
            text_col,
            id_col,
            k=k,
            threshold=threshold,
            max_bucket=max_bucket,
            expand=expand_duplicates,
        )
        .filter(F.col("value") >= threshold)
        .select("id_a", "id_b", F.round("value", 6).alias("jaccard"))
    )


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.8,
    k: int | None = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """EXACT directed set-CONTAINMENT θ-join: every ordered pair
    (a, b), a ≠ b, with ``C(a→b) = |Sa ∩ Sb| / |Sa| ≥ threshold`` —
    "a's shingles are mostly inside b". The asymmetric sibling of
    `jaccard_threshold_join` and the right predicate for doc-in-doc
    detection (quotes, boilerplate wrappers, article + comments
    scrapes): a short doc fully embedded in a long one has tiny
    Jaccard but containment 1.0, so symmetric dedup never sees it.

    The candidate rule is a's prefix × b's full token list under
    ``_set_join`` (whose docstring states the argument): the required
    overlap ``⌈θ·|Sa|⌉`` bounds only the contained side, since b can be
    arbitrarily large and still contain a. The score is
    ``shared/|Sa|``, in both directions. Identical sets collapse to one
    representative and re-expand (every ordered pair within a group at
    1.0); ``max_bucket`` caps the index-token fan-in, ``None`` for
    provably-exact mode.

    ``k``: None = unigram token sets (empty sets never pair — a 0-size
    contained side is undefined and is dropped); k ≥ 2 = distinct
    word-k-gram sets, where sub-k-token documents compare by their
    whole joined text as one shingle (the `jaccard_threshold_join`
    granularity contract — two empty docs contain each other at 1.0).

    Returns (id_a, id_b, containment) — DIRECTED, id_a is the
    contained side, containment rounded to 6."""
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    return (
        _set_join(
            df,
            text_col,
            id_col,
            k=k,
            threshold=threshold,
            max_bucket=max_bucket,
            need=lambda t, na, nb: F.ceil(F.lit(t) * na),
            score=lambda s, na, nb: s / na,
            directed=True,
        )
        .filter(F.col("value") >= threshold)
        .select("id_a", "id_b", F.round("value", 6).alias("containment"))
    )
