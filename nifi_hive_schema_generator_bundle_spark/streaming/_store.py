"""The batch-partitioned store protocol, stated once for every
streaming store (the sketch stores ``cms``/``hll``/``count``/
``histogram``/``span`` and the dedup stores ``incremental_dedup``/
``_near_dedup``/``_embedding_dedup``):

* **Partition per batch.** Micro-batch N writes its partial state (a
  sketch delta, new fingerprints, band keys…) into its own
  ``batch_id=N`` partition by dynamic partition overwrite
  (``write_partial``/``write_counted``). The store's value is the merge
  of all its partitions.
* **Replay overwrites.** ``foreachBatch`` may re-run batch N after a
  crash between the write and the checkpoint commit. The replay
  rewrites the same partition with the same bytes, so it converges
  instead of double-counting. Dedup stores read history as
  ``batch_id < N`` only, so a replay never matches its own rows.
* **Monotonic guard.** A ``batch_id`` below the store's max means the
  streaming checkpoint was reset against a live store; the update
  raises (``check_batch_id``). Equal to the max is a replay and allowed.
* **Cadence.** ``start_batch_stream`` wires ``foreachBatch``, the
  checkpoint and ``availableNow``; with ``compact_every=N`` it compacts
  after the update of every batch id ``> 0`` divisible by N.
* **Fold.** ``compact_store`` folds every partition below the newest
  ``keep_last`` into the ``cut − 1`` partition, then deletes the
  originals. A sketch store folds with the associative merge its
  readout uses (``read_merged``); a dedup store rewrites its row set.
  Safe because future ids are above the fold and a replay of a kept
  batch rewrites only its own partition.
* **Dedup batches.** The three cross-run dedup streams share their
  batch steps: ``open_history`` (config pin, heal-then-read, id guard,
  strictly-earlier filter), ``band_history_lookup`` (the banded
  streams' hot-capped band join and verify join),
  ``write_dedup_batch`` (concurrent corpus and store writes) and
  ``compact_set_stores`` (the sub-store set rewrite).

The rest of this module makes the fold crash-safe.

**Durable staging.** Every fold writes partitions ``batch_id < cut``
into the ``cut − 1`` partition and then deletes the originals. Two
failure windows are closed here:

1. **Lost lineage.** The fold frame MUST NOT depend (even lazily) on
   the files being overwritten: a ``.persist()`` + ``count()`` is not
   enough, because cached blocks can be evicted or lost (executor
   failure), and the recompute would then re-read the mutated store —
   failing, or worse, double-counting. ``durable_fold`` therefore
   first writes the folded frame to a sibling temp directory (a real
   parquet write — durable by construction) and re-reads it from those
   files (fresh lineage with no reference to the store) before
   touching the store.

2. **Crash between overwrite and delete.** After the ``fold_to``
   partition is overwritten with the folded sums, the original
   pre-``cut`` partitions are REDUNDANT COPIES: until they are
   deleted, any readout double-counts them, and a subsequent
   compaction would fold them in again — permanently wrong for
   count/sum stores (only max-merge stores like HLL are idempotent
   here). So the delete step is part of the durable protocol: a
   ``_fold_commit.json`` marker (the commit point) is written into the
   store BEFORE the overwrite, recording the staged location and the
   stale partition ids. ``finish_pending_fold`` — called by every
   store reader and compactor before it binds file listings — replays
   overwrite + deletes from the staged files if a marker survives a
   crash. The marker is removed only after the deletes complete, and
   the staged temp dir only after the marker, so marker ⇒ staged files
   exist and the replay is always possible and idempotent.

Crash matrix: before the staging write completes → store untouched,
partial temp dir clobbered by the next fold. After staging, before the
marker → store untouched, stale temp dir clobbered. After the marker,
anywhere up to marker removal → next reader/compactor replays the
fold to completion before reading. After marker removal → only the
temp dir may linger; clobbered.

Concurrency: healing is EXCLUSIVE. A healer first CLAIMS
the marker by atomically renaming it to a unique
``_fold_commit.claimed.<token>.json`` name; only the process whose
rename succeeded replays the fold (and removes the staged dir), while
losers wait for every marker to disappear before binding the store's
listing — so two concurrent readers can never replay the same fold,
double-write the ``fold_to`` partition, or delete the staged dir out
from under each other's overwrite job. A claimed marker that survives
(healer crashed mid-replay) is itself claimable — the replay is
idempotent, so the next claimer finishes it. Rename is atomic on HDFS
and local FS; on S3A it degrades to copy+delete of one ~100-byte
object and the single-compactor deployment note below applies.
WRITERS are still single-process per store by contract (the monotonic
batch_id guard assumes one streaming query; run ONE compactor per
store) — the claim protocol protects the read/heal path, not
concurrent ``durable_fold`` calls. Genuinely read-only consumers
(analytics jobs without write permission on the store) should call
``read_store(..., heal=False)``: it never mutates the store, serving
a consistent post-fold VIEW (store minus stale/folded partitions,
plus the staged rows) when a marker is pending.

All filesystem mutations go through the Hadoop FS API (``fs_delete``,
marker create/rename), not ``shutil`` — correct on any scheme the job
can write (local, HDFS, s3a), where POSIX calls would silently no-op
or miss.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.formats import overwrite_partitions

_TMP_SUFFIX = ".__compact_tmp__"
# leading underscore: Spark's parquet scans and store_max_batch_id's
# partition listing both ignore it as a non-data file
_MARKER_NAME = "_fold_commit.json"
# claimed markers: `_fold_commit.claimed.<token>.json` — exclusive-heal
# claims (leading underscore: ignored by Spark scans, like the base)
_CLAIM_PREFIX = "_fold_commit.claimed."


def _jpath(spark, path_str: str):
    return spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path_str)


def _fs(spark, path_str: str):
    p = _jpath(spark, path_str)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def fs_delete(spark, path_str: str) -> bool:
    """Recursive delete via the Hadoop FS API. Returns True if the path
    existed and was removed. ``shutil.rmtree`` only understands POSIX
    paths — on an object-store store_dir it would silently delete
    nothing and leave the double-count window open forever."""
    fs, p = _fs(spark, path_str)
    return bool(fs.exists(p) and fs.delete(p, True))


def _fs_exists(spark, path_str: str) -> bool:
    fs, p = _fs(spark, path_str)
    return bool(fs.exists(p))


def _marker_path(store_dir: str) -> str:
    return store_dir.rstrip("/") + "/" + _MARKER_NAME


def _write_marker(spark, store_dir: str, payload: dict) -> None:
    """Atomically publish the fold-commit marker: write to a dotfile,
    then rename into place. Rename is atomic on HDFS and local FS; on
    S3A it is a copy+delete of one ~100-byte object, where the worst
    case is a torn read that ``json.loads`` rejects — recovery treats
    that as "no marker", leaving the stale-partition window open until
    the next fold rather than ever corrupting data."""
    fs, _ = _fs(spark, store_dir)
    tmp = _jpath(spark, store_dir.rstrip("/") + "/._fold_commit.tmp")
    final = _jpath(spark, _marker_path(store_dir))
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    # Hadoop rename/delete signal several failure modes by returning
    # false rather than raising; an unpublished marker would reopen the
    # crash window the protocol exists to close, so fail loudly here
    if fs.exists(final) and not fs.delete(final, False):
        raise OSError(f"could not replace fold-commit marker {final}")
    if not fs.rename(tmp, final):
        raise OSError(f"could not publish fold-commit marker {final}")


def _read_json_file(spark, path_str: str) -> dict | None:
    """Parse a small JSON file via the Hadoop FS API; a missing or
    torn/unparseable file reads as None (see ``_write_marker``)."""
    fs, p = _fs(spark, path_str)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        jvm = spark.sparkContext._jvm
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        out = json.loads(text)
    except ValueError:
        return None
    return out if isinstance(out, dict) else None


def _find_marker_path(spark, store_dir: str) -> str | None:
    """Path of the surviving fold-commit marker: the unclaimed base
    marker, else a claimed marker left behind by a crashed healer."""
    fs, p = _fs(spark, store_dir)
    if not fs.exists(p):
        return None
    base = _marker_path(store_dir)
    if fs.exists(_jpath(spark, base)):
        return base
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith(_CLAIM_PREFIX) and name.endswith(".json"):
            return store_dir.rstrip("/") + "/" + name
    return None


def read_fold_marker(spark, store_dir: str) -> dict | None:
    """The surviving fold-commit marker (base or crashed-claim), or
    None. A torn/unparseable marker reads as None."""
    mp = _find_marker_path(spark, store_dir)
    return None if mp is None else _read_json_file(spark, mp)


def finish_pending_fold(
    spark, store_dir: str, *, wait_secs: float = 300.0
) -> bool:
    """Replay a crashed fold to completion from its commit marker,
    EXCLUSIVELY: the marker is first claimed by an atomic
    rename to a unique name; only the claim winner replays (overwrite
    + stale deletes + cleanup), while losers WAIT for the winner's
    markers to disappear (so they never bind the double-count state,
    and never delete the staged dir out from under the winner's
    overwrite job) and raise after ``wait_secs`` if the winner seems
    stuck. A claimed marker surviving a healer crash is claimable
    again — the replay is idempotent (the overwrite re-writes the same
    ``fold_to`` rows; deletes no-op on already-removed partitions).

    Every store reader and compactor calls this BEFORE binding the
    store's file listing, so no plan ever observes the
    overwritten-but-not-yet-deleted state. Requires write access to
    the store; genuinely read-only consumers should use
    ``read_store(..., heal=False)`` instead. Returns True if this
    process completed a pending fold."""
    import time
    import uuid

    fs, _ = _fs(spark, store_dir)
    deadline = None
    completed = False
    while True:
        mp = _find_marker_path(spark, store_dir)
        if mp is None:
            return completed
        claim = (
            store_dir.rstrip("/")
            + "/"
            + _CLAIM_PREFIX
            + uuid.uuid4().hex
            + ".json"
        )
        src, dst = _jpath(spark, mp), _jpath(spark, claim)
        try:
            won = bool(fs.exists(src) and fs.rename(src, dst))
        except Exception:  # noqa: BLE001 — lost race / FS hiccup → wait
            won = False
        if won:
            m = _read_json_file(spark, claim)
            if m is None:
                # torn marker (S3A partial write): same verdict as the
                # pre-claim protocol — treat as "no marker"; the stale
                # window stays open until the next fold overwrites it
                fs_delete(spark, claim)
                return completed
            _replay_fold(spark, store_dir, m, claim)
            completed = True
            continue  # re-list: normally no marker remains
        # lost the claim: another process is replaying — wait it out
        if deadline is None:
            deadline = time.monotonic() + wait_secs
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"fold-commit marker at {store_dir} is claimed by "
                f"another healer that has not finished within "
                f"{wait_secs}s; inspect the store"
            )
        time.sleep(0.2)


def _replay_fold(spark, store_dir: str, m: dict, claim_path: str) -> None:
    """Complete a claimed fold: overwrite from the staged files, delete
    stale partitions, then release the claim and the staged dir (in
    that order — claim ⇒ staged files exist)."""
    tmp = m["staged"]
    part_col = m.get("partition_col", "batch_id")
    if not _fs_exists(spark, tmp):
        # marker outlives the staged dir only under out-of-band
        # tampering (the protocol removes the marker first) — refuse
        # to guess which partitions are authoritative. The claim stays
        # behind so every later healer refuses just as loudly.
        raise RuntimeError(
            f"fold-commit marker at {store_dir} references missing "
            f"staged dir {tmp}; store needs manual inspection"
        )
    staged = spark.read.parquet(tmp)
    overwrite_partitions(staged, store_dir, [part_col], fmt="parquet")
    for i in m.get("stale_ids", []):
        fs_delete(spark, f"{store_dir.rstrip('/')}/{part_col}={i}")
    fs_delete(spark, claim_path)
    fs_delete(spark, tmp)


def read_store(
    spark, store_dir: str, *, heal: bool = True
) -> DataFrame | None:
    """Heal-then-read for batch-partitioned stores: complete any
    crashed compaction BEFORE binding the file listing — a readout
    between a fold's overwrite and its deletes would double-count the
    stale pre-cut partitions — then read the store. Returns None only
    when the store doesn't exist yet (first batch); any other analysis
    error surfaces.

    ``heal=False`` is the READ-ONLY mode: no FS mutation
    ever happens. When a fold-commit marker is pending, the returned
    frame is the consistent post-fold VIEW — store partitions minus
    the marker's stale ids minus the partitions the staged fold
    rewrites, unioned with the staged rows — i.e. exactly what the
    store will contain once some writer heals it."""
    from pyspark.errors import AnalysisException

    if heal:
        finish_pending_fold(spark, store_dir)
        m = None
    else:
        m = read_fold_marker(spark, store_dir)
    try:
        store = spark.read.parquet(store_dir)
    except AnalysisException as e:
        # UNABLE_TO_INFER_SCHEMA: dir exists but holds no data files
        # yet (e.g. only a _store_config.json published ahead of the
        # first partition write) — same verdict as not-yet-created
        if "PATH_NOT_FOUND" not in str(e) and (
            "UNABLE_TO_INFER_SCHEMA" not in str(e)
        ):
            raise
        return None
    if m is None:
        return store
    tmp = m["staged"]
    part_col = m.get("partition_col", "batch_id")
    if not _fs_exists(spark, tmp):
        raise RuntimeError(
            f"fold-commit marker at {store_dir} references missing "
            f"staged dir {tmp}; store needs manual inspection"
        )
    staged = spark.read.parquet(tmp)
    fold_ids = [
        r[0] for r in staged.select(part_col).distinct().collect()
    ]
    excluded = sorted(
        {int(i) for i in m.get("stale_ids", [])}
        | {int(i) for i in fold_ids}
    )
    kept = store.filter(~F.col(part_col).isin(excluded))
    return kept.unionByName(staged.select(kept.columns))


def durable_fold(
    folded: DataFrame,
    store_dir: str,
    *,
    partition_col: str = "batch_id",
    stale_ids: list[int] | None = None,
) -> int:
    """Stage ``folded`` durably, commit, overwrite it into
    ``store_dir``, and delete the now-redundant ``stale_ids``
    partitions. Returns the folded row count.

    The caller must have called ``finish_pending_fold`` before READING
    the store to build ``folded`` (``compact_store`` does) —
    recovery cannot run here because ``folded``'s lineage is already
    bound to the store's current files."""
    spark = folded.sparkSession
    tmp = store_dir.rstrip("/") + _TMP_SUFFIX
    fs_delete(spark, tmp)
    try:
        folded.write.mode("overwrite").parquet(tmp)
    except Exception:
        # failed staging write: nothing committed, don't leave Spark's
        # partial _temporary output behind
        fs_delete(spark, tmp)
        raise
    staged = spark.read.parquet(tmp)
    n = staged.count()
    # ---- commit point: from here the fold always completes — below,
    # or replayed by finish_pending_fold after a crash ----
    _write_marker(
        spark,
        store_dir,
        {
            "staged": tmp,
            "partition_col": partition_col,
            "stale_ids": sorted(int(i) for i in (stale_ids or [])),
        },
    )
    overwrite_partitions(staged, store_dir, [partition_col], fmt="parquet")
    for i in stale_ids or []:
        fs_delete(spark, f"{store_dir.rstrip('/')}/{partition_col}={i}")
    fs_delete(spark, _marker_path(store_dir))
    fs_delete(spark, tmp)
    return n


def write_counted(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    *,
    fmt: str = "parquet",
) -> int:
    """``overwrite_partitions`` + exact row count in ONE Spark job.

    Every ``*_batch_update`` must return the rows it wrote. The count
    rides the write itself via ``Dataset.observe`` (a CollectMetrics
    node over the written rows), so the delta executes ONCE with no
    cache block and no separate count job (~0.15-0.3 s of local job
    floor each). Exactness: observe metrics merge only from
    successful tasks, and the write is the query's result stage, where
    the scheduler applies one accumulator update per output partition
    (duplicate speculative successes are dropped) — the same guarantee
    a count() gives."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    overwrite_partitions(observed, path, partition_by, fmt=fmt)
    return int(obs.get["n"])


_CONFIG_NAME = "_store_config.json"


def write_store_config(spark, store_dir: str, payload: dict) -> None:
    """Persist a store's immutable creation-time parameters (e.g. LSH
    banding geometry) as ``_store_config.json`` inside the store, via
    the same write-dotfile-then-rename publish as the fold marker.
    Leading underscore: invisible to Spark scans and the partition
    listing. Call once, when the store's first batch is written."""
    fs, _ = _fs(spark, store_dir)
    dir_p = _jpath(spark, store_dir)
    if not fs.exists(dir_p):
        fs.mkdirs(dir_p)
    tmp = _jpath(spark, store_dir.rstrip("/") + "/._store_config.tmp")
    final = _jpath(
        spark, store_dir.rstrip("/") + "/" + _CONFIG_NAME
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(final) and not fs.delete(final, False):
        raise OSError(f"could not replace store config {final}")
    if not fs.rename(tmp, final):
        raise OSError(f"could not publish store config {final}")


def read_store_config(spark, store_dir: str) -> dict | None:
    """The store's creation-time config, or None if absent (store
    predates config tracking, or not yet created)."""
    return _read_json_file(
        spark, store_dir.rstrip("/") + "/" + _CONFIG_NAME
    )


def check_store_config(spark, store_dir: str, expected: dict) -> None:
    """Guard an immutable-parameter store: on first use, record
    ``expected``; on every later use, raise if the recorded config
    differs. The failure this prevents is SILENT — e.g. changed LSH
    banding params still run, but history band keys never collide with
    new ones again and cross-run matching quietly returns nothing."""
    found = read_store_config(spark, store_dir)
    if found is None:
        write_store_config(spark, store_dir, expected)
        return
    if found != expected:
        raise ValueError(
            f"store at {store_dir} was created with {found} but this "
            f"run supplies {expected}; these parameters are fixed for "
            "the life of a store — resume with the original values or "
            "point at a fresh store_dir"
        )


def store_batch_ids(spark, store_dir: str) -> list[int] | None:
    """Sorted ``batch_id`` partition values of a batch-partitioned
    store, read from the hive-layout PARTITION DIRECTORY NAMES via the
    Hadoop FS API — ONE LIST call on any filesystem (local, HDFS, s3a)
    instead of a distinct-scan that opens every partition's parquet
    footers. Returns [] when the store exists but holds no batch
    partitions, and None when the store doesn't exist OR the layout is
    unexpectedly non-hive (flat part files, foreign partition columns
    — store written by something else): None means "fall back to the
    authoritative data scan". Every compactor's fold-set discovery and
    the monotonic-id guard both run off this listing; a footer scan
    grew from 0.73 to 1.38 s/batch over a 30-batch sweep (SCALE.md)."""
    try:
        fs, path = _fs(spark, store_dir)
        if not fs.exists(path):
            return None
        ids = []
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if name.startswith("batch_id="):
                try:
                    ids.append(int(name.split("=", 1)[1]))
                except ValueError:
                    return None
            elif not name.startswith((".", "_")):
                # any other visible content (flat part files, foreign
                # partition columns) → not our layout, scan instead
                return None
        return sorted(ids)
    except Exception:  # noqa: BLE001 — any JVM/FS surprise → data scan
        return None


def store_batch_ids_or_scan(spark, store_dir: str) -> list[int]:
    """``store_batch_ids`` with the authoritative (slow) fallback: a
    non-hive layout or listing failure distinct-scans the data. []
    when the store doesn't exist at all."""
    ids = store_batch_ids(spark, store_dir)
    if ids is not None:
        return ids
    from pyspark.errors import AnalysisException

    try:
        store = spark.read.parquet(store_dir)
    except AnalysisException:
        return []
    return sorted(
        int(r[0])
        for r in store.select("batch_id").distinct().collect()
        if r[0] is not None
    )


def store_max_batch_id(spark, store_dir: str) -> int | None:
    """Max ``batch_id`` of a batch-partitioned store (the monotonic-id
    guard every ``*_batch_update`` runs per micro-batch), from the same
    one-LIST partition listing as ``store_batch_ids``."""
    ids = store_batch_ids_or_scan(spark, store_dir)
    return max(ids) if ids else None


def check_batch_id(spark, store_dir: str, batch_id: int) -> None:
    """The monotonic batch-id guard, run by every batch update before
    it writes: ``batch_id`` may equal the store's max (a replay) but
    never fall behind it."""
    top = store_max_batch_id(spark, store_dir)
    if top is not None and batch_id < top:
        raise ValueError(
            f"batch_id {batch_id} is behind the store's max {top}: "
            "the streaming checkpoint was reset against an existing "
            "store. Resume with the original checkpoint, or point the "
            "store (and any output) at fresh locations."
        )


def write_partial(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    build: Callable[[DataFrame], DataFrame],
) -> int:
    """A sketch store's batch update: guard the id, then write
    ``build(batch_df)`` into the ``batch_id`` partition. Returns the
    rows written (0 for an empty batch, which writes nothing)."""
    if batch_df.isEmpty():
        return 0
    check_batch_id(batch_df.sparkSession, store_dir, batch_id)
    partial = build(batch_df).withColumn("batch_id", F.lit(batch_id))
    return write_counted(partial, store_dir, ["batch_id"])


def read_merged(
    spark,
    store_dir: str,
    merge: Callable[[DataFrame], DataFrame],
    *,
    heal: bool = True,
) -> DataFrame:
    """A store's whole-history readout: ``merge`` over every partition's
    rows (``batch_id`` dropped) — the same merge ``compact_store`` folds
    with, so a readout is unchanged by compaction. ``heal`` as in
    ``read_store``; raises FileNotFoundError when there is no store."""
    store = read_store(spark, store_dir, heal=heal)
    if store is None:
        raise FileNotFoundError(f"no store at {store_dir}")
    return merge(store.drop("batch_id"))


def compact_store(
    spark,
    store_dir: str,
    fold: Callable[[DataFrame], DataFrame],
    *,
    keep_last: int = 1,
) -> int:
    """Fold every partition below the newest ``keep_last`` into the
    ``cut − 1`` partition: ``fold`` maps the pre-cut rows (``batch_id``
    dropped) to the folded rows, staged and committed by
    ``durable_fold``. Returns the folded row count; 0 when the store is
    missing or has too few partitions to be worth folding."""
    store = read_store(spark, store_dir)  # heals any pending fold first
    if store is None:
        return 0
    ids = store_batch_ids_or_scan(spark, store_dir)
    if len(ids) <= keep_last + 1:
        return 0
    cut = ids[-keep_last] if keep_last else ids[-1] + 1
    fold_to = cut - 1
    folded = fold(
        store.filter(F.col("batch_id") < cut).drop("batch_id")
    ).withColumn("batch_id", F.lit(fold_to))
    return durable_fold(
        folded, store_dir, stale_ids=[i for i in ids if i < fold_to]
    )


def open_history(
    spark,
    store_dir: str,
    batch_id: int,
    subs: tuple[str, ...] = (),
    config: dict | None = None,
) -> list[DataFrame] | None:
    """A dedup batch's open step: pin ``config`` (a banded store's
    fixed geometry, ``check_store_config``), heal-then-read each
    sub-store ``<store_dir>/<sub>`` (the store itself when ``subs`` is
    empty) and guard ``batch_id``. Returns each sub-store's
    strictly-earlier rows (``batch_id < N``: a replay never matches its
    own half-written rows), or None while any holds no data yet."""
    if config is not None:
        check_store_config(spark, store_dir, config)
    dirs = [f"{store_dir}/{s}" for s in subs] or [store_dir]
    stores = [read_store(spark, d) for d in dirs]
    for d in dirs:
        check_batch_id(spark, d, batch_id)
    if any(s is None for s in stores):
        return None
    return [s.filter(F.col("batch_id") < batch_id) for s in stores]


def band_history_lookup(
    hist_bands: DataFrame,
    hist_items: DataFrame,
    kept_bands: DataFrame,
    kept_items: DataFrame,
    item_col: str,
    score: Callable[[Column, Column], Column],
    threshold: float,
    max_bucket: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """A banded dedup batch's history lookup. The batch's band keys
    ``kept_bands`` (id, band, bucket) join the history band rows minus
    the hot buckets (more than ``max_bucket`` history members: the batch
    LSH operator's degenerate-bucket trade); each distinct (id, hist_id)
    candidate verifies on ``score(item, hist_item) >= threshold``, with
    ``kept_items``/``hist_items`` carrying ``item_col`` per id, so a
    history item ships per candidate, never per history row. Returns
    the ``hot`` (band, bucket) keys, the ``cand`` pairs and the
    matched ``dup_ids``."""
    hist_bands = hist_bands.select(
        "band", "bucket", F.col("id").alias("hist_id")
    )
    hot = (
        hist_bands.groupBy("band", "bucket")
        .count()
        .filter(F.col("count") > max_bucket)
        .select("band", "bucket")
    )
    cand = (
        kept_bands.join(
            hist_bands.join(hot, ["band", "bucket"], "anti"),
            ["band", "bucket"],
        )
        .select("id", "hist_id")
        .distinct()
    )
    hist = hist_items.select(
        F.col("id").alias("hist_id"), F.col(item_col).alias("__hist")
    )
    dup_ids = (
        cand.join(kept_items.select("id", item_col), "id")
        .join(hist, "hist_id")
        .filter(score(F.col(item_col), F.col("__hist")) >= F.lit(threshold))
        .select("id")
        .distinct()
    )
    return hot, cand, dup_ids


def write_dedup_batch(
    batch_id: int,
    corpus: DataFrame,
    out_dir: str,
    fmt: str,
    stores: dict[str, DataFrame],
) -> int:
    """A dedup batch's write step: ``corpus`` into ``out_dir``'s
    ``ingest_batch=N`` partition and each ``stores[path]`` into that
    store's ``batch_id=N`` partition, run concurrently from a driver
    thread pool. Returns the corpus rows written, observed on that
    write (``write_counted``).

    Safe because every write is an idempotent dynamic partition
    overwrite of batch N's own partitions, and their mutual order is
    not part of the replay contract: a crash between any two leaves
    partials that the checkpoint replay rewrites byte-identically, and
    ``check_batch_id`` accepts ``batch_id`` equal to the store's max for
    exactly this reason. Frames the writes share should be cached by
    the caller; Spark's BlockInfoManager serializes concurrent first
    readers of a cached block, so the history lookup runs once, not
    per writer. Overlapped, the small write jobs back-fill each
    other's stragglers and cost about one job floor together."""
    with ThreadPoolExecutor(max_workers=1 + len(stores)) as pool:
        counted = pool.submit(
            write_counted,
            corpus.withColumn("ingest_batch", F.lit(batch_id)),
            out_dir,
            ["ingest_batch"],
            fmt=fmt,
        )
        writes = [
            pool.submit(
                overwrite_partitions,
                rows.withColumn("batch_id", F.lit(batch_id)),
                path,
                ["batch_id"],
            )
            for path, rows in stores.items()
        ]
        for w in writes:
            w.result()
        return counted.result()


def compact_set_stores(
    spark, store_dir: str, subs: tuple[str, ...], target_files: int
) -> tuple[int, ...]:
    """Fold each sub-store's partitions below the newest into one
    (``compact_store``). Every row is unique by construction, so the
    fold is a set rewrite into ``target_files`` files, not an
    aggregate, and the history lookup reads the same sets afterwards.
    Each sub-store recovers from a crashed fold independently. Returns
    the rows folded per sub-store; all zero when nothing was worth
    folding."""

    def fold(rows: DataFrame) -> DataFrame:
        return rows.repartition(target_files)

    return tuple(compact_store(spark, f"{store_dir}/{s}", fold) for s in subs)


def start_batch_stream(
    stream_df: DataFrame,
    update: Callable[[DataFrame, int], object],
    *,
    checkpoint_dir: str,
    available_now: bool = True,
    compact_every: int | None = None,
    compact: Callable[..., object] | None = None,
) -> StreamingQuery:
    """Start ``stream_df`` with ``update(batch_df, batch_id)`` as its
    ``foreachBatch`` hook, checkpointed at ``checkpoint_dir``;
    ``available_now`` drains what is there and stops.

    ``compact_every=N`` runs ``compact(spark)`` after the update of
    every batch id ``> 0`` divisible by N, bounding the partition count
    of an unbounded drain. The SCALE.md 30-batch sweeps price the
    cadence: ~10 for the sketch stores, 50-100 for the dedup stores,
    whose partials are larger and folds dearer. A crash between the
    fold and the checkpoint commit is safe: the replayed batch rewrites
    only its own (kept) partition, and the fold itself is crash-safe
    via the ``durable_fold`` commit marker."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        update(batch_df, batch_id)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact(batch_df.sparkSession)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
