"""Bradley-Terry ranking tests (operators/ranking.py)."""

from __future__ import annotations

import pytest

from nifi_hive_schema_generator_bundle_spark.operators.ranking import (
    bradley_terry,
)

SCHEMA = "model_a string, model_b string, winner string"


def _fit_reference(battles, iters):
    """Plain-python replica of the smoothed MM update."""
    pairs = {}
    wins = {}
    nodes = set()
    for a, b, w in battles:
        if w not in ("a", "b"):
            continue
        pairs[(a, b)] = pairs.get((a, b), 0) + 1
        pairs[(b, a)] = pairs.get((b, a), 0) + 1
        winner = a if w == "a" else b
        wins[winner] = wins.get(winner, 0) + 1
        nodes.update((a, b))
    r = {m: 1.0 for m in nodes}
    for _ in range(iters):
        new = {}
        for m in nodes:
            s = sum(
                n / (r[i] + r[j])
                for (i, j), n in pairs.items()
                if i == m
            )
            new[m] = (wins.get(m, 0) + 1.0) / (s + 2.0 / (r[m] + 1.0))
        t = sum(new.values())
        r = {m: v * len(nodes) / t for m, v in new.items()}
    return r


def test_matches_python_replica_and_orders_by_skill(spark):
    battles = []
    # A beats B 8-2, B beats C 7-3, A beats C 9-1, one tie ignored
    battles += [("A", "B", "a")] * 8 + [("A", "B", "b")] * 2
    battles += [("B", "C", "a")] * 7 + [("B", "C", "b")] * 3
    battles += [("A", "C", "a")] * 9 + [("A", "C", "b")] * 1
    battles += [("A", "C", "tie")]
    df = spark.createDataFrame(battles, SCHEMA)
    got = {r.model: r for r in bradley_terry(df, iters=15).collect()}
    ref = _fit_reference(battles, 15)
    for m in "ABC":
        assert got[m].rating == pytest.approx(ref[m], abs=1e-6)
    assert got["A"].rating > got["B"].rating > got["C"].rating
    assert got["A"].elo > 1000.0 > got["C"].elo
    assert got["A"].n_wins == 17 and got["A"].n_battles == 20
    assert got["C"].n_wins == 4


def test_zero_win_model_stays_positive(spark):
    df = spark.createDataFrame(
        [("A", "B", "a")] * 5, SCHEMA
    )
    got = {r.model: r for r in bradley_terry(df, iters=10).collect()}
    assert got["B"].n_wins == 0
    assert got["B"].rating > 0.0          # Laplace smoothing floor
    assert got["A"].rating > got["B"].rating


def test_empty_and_validation(spark):
    df = spark.createDataFrame([], SCHEMA)
    assert bradley_terry(df, iters=3).count() == 0
    with pytest.raises(ValueError):
        bradley_terry(df, iters=-1)


def test_checkpoint_dir_matches_local(spark, tmp_path):
    battles = [("A", "B", "a")] * 3 + [("B", "A", "a")] * 2 + [("B", "C", "a")]
    df = spark.createDataFrame(battles, SCHEMA)
    local = sorted(
        (r.model, r.rating) for r in bradley_terry(df, iters=8).collect()
    )
    out = bradley_terry(df, iters=8, checkpoint_dir=str(tmp_path / "bt"))
    ckpt = sorted((r.model, r.rating) for r in out.collect())
    assert local == ckpt
    # with checkpoint_dir the result is a reliable checkpoint written
    # there, never executor-local blocks
    rdd = out._jdf.queryExecution().logical().rdd()
    assert not rdd.isLocallyCheckpointed()
    path = rdd.getCheckpointFile()
    assert path.isDefined() and str(tmp_path / "bt") in path.get()


def test_plan_jvm_only(spark):
    df = spark.createDataFrame([("A", "B", "a")], SCHEMA)
    plan = (
        bradley_terry(df, iters=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "BatchEval" not in plan


class TestPairwiseWinRates:
    def test_hand_computed_wilson(self, spark):
        from math import sqrt

        from nifi_hive_schema_generator_bundle_spark.operators.ranking import (
            pairwise_win_rates,
        )

        battles = (
            [("A", "B", "a")] * 7 + [("A", "B", "b")] * 3 + [("A", "B", "tie")]
        )
        df = spark.createDataFrame(battles, SCHEMA)
        got = {(r.model, r.opponent): r for r in pairwise_win_rates(df).collect()}
        ab = got[("A", "B")]
        assert (ab.n_battles, ab.n_wins, ab.win_rate) == (10, 7, 0.7)

        def wilson(p, n, z=1.96):
            z2 = z * z
            c = (p + z2 / (2 * n)) / (1 + z2 / n)
            h = z * sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / (1 + z2 / n)
            return round(c - h, 6), round(c + h, 6)

        lo, hi = wilson(0.7, 10)
        assert (ab.ci_lo, ab.ci_hi) == (pytest.approx(lo), pytest.approx(hi))
        ba = got[("B", "A")]
        assert (ba.n_wins, ba.win_rate) == (3, 0.3)
        assert 0.0 <= ba.ci_lo < 0.3 < ba.ci_hi <= 1.0

    def test_validates_z_and_plan(self, spark):
        from nifi_hive_schema_generator_bundle_spark.operators.ranking import (
            pairwise_win_rates,
        )

        df = spark.createDataFrame([("A", "B", "a")], SCHEMA)
        with pytest.raises(ValueError):
            pairwise_win_rates(df, z=0)
        plan = (
            pairwise_win_rates(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan and "BatchEval" not in plan


def test_fit_materializes_before_cache_release(spark):
    """r9 optimization pin: the MM rounds are lazy localCheckpoints, so
    the result must be eagerly materialized BEFORE the finally block
    releases the pair/win/node caches (the pagerank `ranks.count()`
    rationale) — the old order unregistered the caches at build time
    and the caller's action recomputed the battle aggregations once per
    round. Pins: (a) the loop caches are released by return time,
    (b) the returned plan reads stored blocks (no battle-table scan),
    (c) values still match the python replica."""
    battles = (
        [("A", "B", "a")] * 8 + [("A", "B", "b")] * 2
        + [("B", "C", "a")] * 7 + [("B", "C", "b")] * 3
    )
    df = spark.createDataFrame(battles, SCHEMA)
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    out = bradley_terry(df, iters=6)
    assert cache_mgr.isEmpty(), "bradley_terry leaked its loop caches"
    # materialized result: the plan is one leaf over an eagerly written
    # local checkpoint, not the 6-round join tree over the battle table
    logical = out._jdf.queryExecution().logical()
    assert logical.children().isEmpty()
    rdd = logical.rdd()
    assert rdd.isLocallyCheckpointed() and rdd.isCheckpointed()
    ref = _fit_reference(battles, 6)
    got = {r["model"]: r["rating"] for r in out.collect()}
    assert got == {m: pytest.approx(round(v, 6)) for m, v in ref.items()}
