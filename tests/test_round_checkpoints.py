"""The round-checkpoint protocol (``session.round_checkpoints``) shared by
connected_components, pagerank and bradley_terry: a reliable run gives
the caller's process-global checkpoint dir back exactly."""

from __future__ import annotations

import os

import pytest

from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
    connected_components,
)
from nifi_hive_schema_generator_bundle_spark.operators.graph import pagerank
from nifi_hive_schema_generator_bundle_spark.operators.ranking import (
    bradley_terry,
)


def _cc(spark, ckpt):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    return connected_components(pairs, checkpoint_dir=ckpt)


def _pagerank(spark, ckpt):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    return pagerank(edges, iters=3, checkpoint_dir=ckpt)


def _bt(spark, ckpt):
    battles = spark.createDataFrame(
        [("A", "B", "a"), ("B", "C", "a"), ("C", "A", "b")],
        "model_a string, model_b string, winner string",
    )
    return bradley_terry(battles, iters=3, checkpoint_dir=ckpt)


def _dir(spark):
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    return opt.get() if opt.isDefined() else None


@pytest.fixture
def no_checkpoint_dir(spark):
    """Run with the session's checkpoint dir unset; put back whatever the
    session had afterwards."""
    jsc = spark.sparkContext._jsc.sc()
    saved = jsc.getCheckpointDir()
    getattr(jsc, "checkpointDir_$eq")(spark._jvm.scala.Option.empty())
    yield
    getattr(jsc, "checkpointDir_$eq")(saved)


@pytest.mark.parametrize("preset", [True, False], ids=["set", "unset"])
@pytest.mark.parametrize(
    "op", [_cc, _pagerank, _bt], ids=["cc", "pagerank", "bt"]
)
def test_caller_checkpoint_dir_is_restored_exactly(
    spark, tmp_path, no_checkpoint_dir, op, preset
):
    if preset:
        spark.sparkContext.setCheckpointDir(str(tmp_path / "mine"))
    before = _dir(spark)
    for _ in range(2):  # a second call must not nest one level deeper
        op(spark, str(tmp_path / "ck")).collect()
        assert _dir(spark) == before
    assert len(os.listdir(tmp_path / "ck")) == 1


def test_reliable_run_leaves_no_dir_for_the_caller_to_lose(
    spark, tmp_path, no_checkpoint_dir
):
    """Were an unset dir left at the run's last round, the caller's next
    ``checkpoint`` would write there and a longer run over the same
    ``checkpoint_dir`` would delete it under the caller's frame."""
    ckpt = str(tmp_path / "cc")
    _cc(spark, ckpt).collect()
    with pytest.raises(Exception, match="has not been set"):
        spark.range(5).checkpoint(eager=True)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "mine"))
    mine = spark.range(5).checkpoint(eager=True)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    connected_components(chain, checkpoint_dir=ckpt).collect()
    assert mine.count() == 5


def test_restored_when_a_round_raises(spark, tmp_path, no_checkpoint_dir):
    from nifi_hive_schema_generator_bundle_spark.session import (
        round_checkpoints,
    )

    ckpt = str(tmp_path / "ck")
    with pytest.raises(RuntimeError):
        with round_checkpoints(spark, ckpt) as materialize:
            materialize(spark.range(3), eager=False)
            raise RuntimeError("round failed")
    assert _dir(spark) is None
    assert os.listdir(ckpt) == ["round0"]
