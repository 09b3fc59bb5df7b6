"""Streaming arena leaderboard — continuous Bradley-Terry over a battle
stream.

Battles arrive continuously (arena votes, judge outputs); the
leaderboard wants ALL history, not a watermark window — the same
"across runs and restarts" requirement as ``incremental_dedup``, so the
same architecture: a durable per-batch-partitioned store holds the
SUFFICIENT STATISTICS (ordered-pair battle/win counts — fixed-size per
model pair, never raw battles), each micro-batch appends its partial
counts, and the leaderboard refits from the folded store.

Replay safety is `_store.py`'s partition-per-batch rule: each batch
overwrites only its own ``batch_id=N`` partition, so a replay converges
to the same bytes.

Scale shape: the stored state is O(model pairs), not O(battles) — the
per-batch write is a (i, j, n, w) partial aggregate; the refit reads the
folded pair table and runs ``ranking.bradley_terry``'s MM update over
it. Battles themselves are never retained.
"""

from __future__ import annotations

from functools import partial

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.formats import overwrite_partitions
from ._store import start_batch_stream

__all__ = [
    "battles_to_pair_stats",
    "update_leaderboard_store",
    "leaderboard_from_store",
    "run_streaming_leaderboard",
]


def battles_to_pair_stats(battles: DataFrame) -> DataFrame:
    """Collapse raw (model_a, model_b, winner∈{'a','b',…}) battles into
    ordered-pair sufficient statistics (i, j, n, w): battles and wins of
    i against j, one row per orientation. Undecided rows are ignored.
    One map-side-combinable aggregate; this is the ONLY thing the store
    ever holds."""
    decided = battles.filter(F.col("winner").isin("a", "b"))
    oriented = decided.select(
        F.col("model_a").alias("i"),
        F.col("model_b").alias("j"),
        (F.col("winner") == "a").cast("long").alias("won"),
    ).union(
        decided.select(
            F.col("model_b"),
            F.col("model_a"),
            (F.col("winner") == "b").cast("long"),
        )
    )
    return oriented.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"), F.sum("won").alias("w")
    )


def update_leaderboard_store(
    batch_df: DataFrame, batch_id: int, *, store_dir: str
) -> None:
    """foreachBatch hook: write this batch's pair partials into its own
    ``batch_id=N`` partition (dynamic overwrite — replays converge)."""
    overwrite_partitions(
        battles_to_pair_stats(batch_df).withColumn("batch_id", F.lit(batch_id)),
        store_dir,
        ["batch_id"],
    )


def leaderboard_from_store(
    spark: SparkSession, store_dir: str, *, iters: int = 20
) -> DataFrame:
    """Fold the store's per-batch partials into one pair table and fit
    Bradley-Terry on it — same output contract as
    ``ranking.bradley_terry`` ((model, n_battles, n_wins, rating, elo)),
    because it runs the identical MM update on the folded counts (the
    fit depends on the battle set only through these statistics, so
    streaming-then-fit equals batch-fit — pinned in tests). Empty or
    absent store → empty leaderboard frame."""
    from ..operators.ranking import bradley_terry

    empty = spark.createDataFrame(
        [],
        "model string, n_battles long, n_wins long, "
        "rating double, elo double",
    )
    try:
        store = spark.read.parquet(store_dir)
    except AnalysisException:
        return empty
    folded = store.groupBy("i", "j").agg(
        F.sum("n").alias("n"), F.sum("w").alias("w")
    )
    # the MM update runs directly on the folded statistics — re-expanding
    # into pseudo-battles for the batch operator would rebuild O(battles)
    # rows the store exists to avoid
    return _bt_from_pair_stats(folded, iters=iters)


def _bt_from_pair_stats(pairs_iw: DataFrame, *, iters: int) -> DataFrame:
    """The ``ranking.bradley_terry`` MM loop, entered at the
    sufficient-statistics level: ``pairs_iw`` = (i, j, n, w) ordered
    pairs with n = battles of i vs j (both orientations present) and
    w = i's wins. Kept in lockstep with the batch operator — the
    equality test pins them together."""
    spark = pairs_iw.sparkSession
    pairs = pairs_iw.select("i", "j", F.col("n").cast("double").alias("n")).cache()
    wins = (
        pairs_iw.groupBy(F.col("i").alias("node"))
        .agg(F.sum("w").cast("double").alias("w"))
        .filter(F.col("w") > 0)
        .cache()
    )
    nodes = (
        pairs_iw.groupBy(F.col("i").alias("node"))
        .agg(F.sum("n").cast("long").alias("n_battles"))
        .cache()
    )
    try:
        n_models = nodes.count()
        if n_models == 0:
            return spark.createDataFrame(
                [],
                "model string, n_battles long, n_wins long, "
                "rating double, elo double",
            )
        ratings = nodes.select("node").withColumn(
            "rating", F.lit(1.0)
        ).localCheckpoint(eager=False)
        for _ in range(iters):
            ra = ratings.select(
                F.col("node").alias("i"), F.col("rating").alias("ri")
            )
            rb = ratings.select(
                F.col("node").alias("j"), F.col("rating").alias("rj")
            )
            denom = (
                pairs.join(ra, "i")
                .join(rb, "j")
                .select(
                    F.col("i").alias("node"),
                    (F.col("n") / (F.col("ri") + F.col("rj"))).alias("t"),
                )
                .groupBy("node")
                .agg(F.sum("t").alias("s"))
            )
            raw = (
                ratings.join(denom, "node")
                .join(wins, "node", "left")
                .select(
                    "node",
                    (
                        (F.coalesce(F.col("w"), F.lit(0.0)) + 1.0)
                        / (F.col("s") + 2.0 / (F.col("rating") + 1.0))
                    ).alias("raw"),
                )
            )
            total = raw.agg(F.sum("raw").alias("t"))
            ratings = (
                raw.join(F.broadcast(total))
                .select(
                    "node",
                    (F.col("raw") * n_models / F.col("t")).alias("rating"),
                )
                .localCheckpoint(eager=False)
            )
        return (
            nodes.join(ratings, "node")
            .join(wins, "node", "left")
            .select(
                F.col("node").alias("model"),
                "n_battles",
                F.coalesce(F.col("w"), F.lit(0.0)).cast("long").alias(
                    "n_wins"
                ),
                F.round("rating", 6).alias("rating"),
                F.round(
                    F.lit(1000.0) + F.lit(400.0) * F.log10("rating"), 2
                ).alias("elo"),
            )
        )
    finally:
        pairs.unpersist()
        wins.unpersist()
        nodes.unpersist()


def run_streaming_leaderboard(
    battles_stream: DataFrame,
    *,
    store_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Wire a battle stream into the store via foreachBatch. Read the
    current leaderboard at any time with ``leaderboard_from_store``."""

    return start_batch_stream(
        battles_stream,
        partial(update_leaderboard_store, store_dir=store_dir),
        checkpoint_dir=checkpoint_dir,
        available_now=trigger_available_now,
    )
