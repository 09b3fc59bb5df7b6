"""Incremental cross-run dedup: history store semantics, replay
idempotency, and the streaming wiring."""

from __future__ import annotations

import json

from nifi_hive_schema_generator_bundle_spark.streaming.incremental_dedup import (
    dedup_batch_against_store,
    run_incremental_dedup,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cross_batch_dups_dropped(spark, tmp_path):
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    n0 = dedup_batch_against_store(
        _batch(spark, [(1, "alpha"), (2, "beta"), (3, "alpha")]),
        0, store_dir=store, out_dir=out,
    )
    assert n0 == 2  # within-batch dup of "alpha" dropped, min id kept
    n1 = dedup_batch_against_store(
        _batch(spark, [(4, "beta"), (5, "gamma"), (6, "ALPHA  ")]),
        1, store_dir=store, out_dir=out,
    )
    # beta and (normalized) alpha already ingested in batch 0
    assert n1 == 1
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2, 5}


def test_replay_of_same_batch_converges(spark, tmp_path):
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    rows = [(1, "alpha"), (2, "beta")]
    dedup_batch_against_store(_batch(spark, rows), 0, store_dir=store, out_dir=out)
    # crash-replay: the SAME batch id runs again — must not collide with
    # its own stored fingerprints, and must converge to the same output
    n = dedup_batch_against_store(_batch(spark, rows), 0, store_dir=store, out_dir=out)
    assert n == 2
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2]
    fps = spark.read.parquet(store).collect()
    assert len(fps) == 2  # store not duplicated either


def test_streaming_incremental_dedup_two_drains(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (src / "a.json").write_text(
        json.dumps({"doc_id": 1, "text": "one"}) + "\n"
        + json.dumps({"doc_id": 2, "text": "two"}) + "\n"
    )
    schema = "doc_id long, text string"

    def drain():
        stream = spark.readStream.schema(schema).json(str(src))
        q = run_incremental_dedup(
            stream, store_dir=store, out_dir=out, checkpoint_dir=ckpt
        )
        q.awaitTermination(120)

    drain()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}
    # second drain: one genuinely new doc, one cross-run duplicate
    (src / "b.json").write_text(
        json.dumps({"doc_id": 3, "text": "two"}) + "\n"
        + json.dumps({"doc_id": 4, "text": "three"}) + "\n"
    )
    drain()
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2, 4}


def test_store_compaction_preserves_dedup_semantics(spark, tmp_path):
    from nifi_hive_schema_generator_bundle_spark.streaming.incremental_dedup import (
        compact_fingerprint_store,
    )

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    for i, text in enumerate(["a", "b", "c", "d"]):
        dedup_batch_against_store(
            _batch(spark, [(i, text)]), i, store_dir=store, out_dir=out
        )
    n = compact_fingerprint_store(spark, store, target_files=1)
    assert n == 3  # batches 0-2 folded; live batch 3 untouched
    parts = {r.batch_id for r in spark.read.parquet(store).collect()}
    assert parts == {2, 3}
    # dedup against the compacted store still sees all history
    n_next = dedup_batch_against_store(
        _batch(spark, [(10, "a"), (11, "e")]), 4, store_dir=store, out_dir=out
    )
    assert n_next == 1


def test_checkpoint_reset_against_existing_store_raises(spark, tmp_path):
    import pytest

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    dedup_batch_against_store(_batch(spark, [(1, "a")]), 5, store_dir=store, out_dir=out)
    # fresh checkpoint would restart batch ids at 0 — must refuse, not
    # silently skip history and overwrite old partitions
    with pytest.raises(ValueError, match="checkpoint was reset"):
        dedup_batch_against_store(
            _batch(spark, [(2, "b")]), 0, store_dir=store, out_dir=out
        )


def test_empty_store_dir_is_first_batch(spark, tmp_path):
    # a store_dir created ahead of the first write (or left empty by a
    # crashed one) holds no data files yet: batch 0 has no history
    store, out = tmp_path / "store", str(tmp_path / "out")
    store.mkdir()
    n = dedup_batch_against_store(
        _batch(spark, [(1, "alpha"), (2, "beta")]),
        0, store_dir=str(store), out_dir=out,
    )
    assert n == 2
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2}
