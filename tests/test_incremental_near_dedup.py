"""Incremental cross-run NEAR-dedup: history-store semantics, replay
idempotency, signature-agreement verification, and the streaming wiring."""

from __future__ import annotations

import json

import pytest

from nifi_hive_schema_generator_bundle_spark.streaming.incremental_near_dedup import (
    near_dedup_batch_against_store,
    run_incremental_near_dedup,
)

BASE = "the quick brown fox jumps over the lazy dog again and again " * 6
NEAR = BASE.replace("lazy", "sleepy", 1)  # one token differs -> near-dup
OTHER = "completely different content about distributed engines " * 8


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cross_batch_near_dups_dropped(spark, tmp_path):
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    n0 = near_dedup_batch_against_store(
        _batch(spark, [(1, BASE), (2, NEAR), (3, OTHER)]),
        0, store_dir=store, out_dir=out,
    )
    assert n0 == 2  # 2 is a near-dup of 1 within the batch
    # batch 1: a fresh near-variant of BASE and genuinely new content
    n1 = near_dedup_batch_against_store(
        _batch(spark, [(4, BASE.replace("fox", "wolf", 1)), (5, "entirely novel words " * 10)]),
        1, store_dir=store, out_dir=out,
    )
    assert n1 == 1  # 4 matches history doc 1 on signature agreement
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3, 5}


def test_replay_of_same_batch_converges(spark, tmp_path):
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    rows = [(1, BASE), (2, OTHER)]
    near_dedup_batch_against_store(_batch(spark, rows), 0, store_dir=store, out_dir=out)
    # crash-replay: the SAME batch id must not collide with its own
    # stored band keys / signatures, and must converge to the same bytes
    n = near_dedup_batch_against_store(_batch(spark, rows), 0, store_dir=store, out_dir=out)
    assert n == 2
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2]
    sigs = spark.read.parquet(f"{store}/sigs").collect()
    assert len(sigs) == 2  # stores not duplicated either


def test_checkpoint_reset_against_existing_store_raises(spark, tmp_path):
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    near_dedup_batch_against_store(_batch(spark, [(1, BASE)]), 5, store_dir=store, out_dir=out)
    with pytest.raises(ValueError, match="behind the store"):
        near_dedup_batch_against_store(_batch(spark, [(2, OTHER)]), 3, store_dir=store, out_dir=out)


def test_streaming_incremental_near_dedup_two_drains(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (src / "a.json").write_text(
        json.dumps({"doc_id": 1, "text": BASE}) + "\n"
        + json.dumps({"doc_id": 2, "text": OTHER}) + "\n"
    )
    schema = "doc_id long, text string"

    def drain():
        q = run_incremental_near_dedup(
            spark.readStream.schema(schema).json(str(src)),
            store_dir=store, out_dir=out, checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)

    drain()
    # second file: one near-dup of an already-ingested doc, one new
    (src / "b.json").write_text(
        json.dumps({"doc_id": 3, "text": NEAR}) + "\n"
        + json.dumps({"doc_id": 4, "text": "fresh unseen tokens " * 12}) + "\n"
    )
    drain()
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 4]


def test_compact_near_dedup_store_preserves_history_semantics(spark, tmp_path):
    """VERDICT r6 #6: fold both stores mid-run and prove the fold is
    invisible — the post-compaction batch drops exactly the docs it
    would have dropped against the uncompacted stores, and both stores
    end with a single folded pre-max partition."""
    import os

    from nifi_hive_schema_generator_bundle_spark.streaming.incremental_near_dedup import (
        compact_near_dedup_store,
    )

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    near_dedup_batch_against_store(
        _batch(spark, [(1, BASE)]), 0, store_dir=store, out_dir=out
    )
    near_dedup_batch_against_store(
        _batch(spark, [(2, OTHER)]), 1, store_dir=store, out_dir=out
    )
    near_dedup_batch_against_store(
        _batch(spark, [(3, "unrelated third corpus slice " * 9)]),
        2, store_dir=store, out_dir=out,
    )
    n_bands, n_sigs = compact_near_dedup_store(spark, store)
    assert n_sigs == 2 and n_bands > 0  # batches 0,1 folded into 1
    for sub in ("bands", "sigs"):
        parts = sorted(
            d for d in os.listdir(f"{store}/{sub}")
            if d.startswith("batch_id=")
        )
        assert parts == ["batch_id=1", "batch_id=2"]
    # near-dups of FOLDED history docs are still caught...
    n3 = near_dedup_batch_against_store(
        _batch(
            spark,
            [(4, BASE.replace("fox", "wolf", 1)), (5, "fresh words " * 12)],
        ),
        3, store_dir=store, out_dir=out,
    )
    assert n3 == 1
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 3, 5]
    # ...and compaction below the minimum partition count is a no-op
    assert compact_near_dedup_store(spark, str(tmp_path / "empty")) == (0, 0)


def test_banding_config_pinned_per_store(spark, tmp_path):
    """The band keys are the index: a batch with other banding params
    would never collide with history again, so an exact duplicate of a
    stored doc would be kept. The store records its geometry on first
    use and refuses a mismatch."""
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    near_dedup_batch_against_store(
        _batch(spark, [(1, BASE)]), 0, store_dir=store, out_dir=out
    )
    with pytest.raises(ValueError, match="fixed for the life"):
        near_dedup_batch_against_store(
            _batch(spark, [(2, BASE)]), 1,
            store_dir=store, out_dir=out, bands=8,
        )
    # the original geometry is still accepted, and catches the duplicate
    n = near_dedup_batch_against_store(
        _batch(spark, [(2, BASE)]), 1, store_dir=store, out_dir=out
    )
    assert n == 0
