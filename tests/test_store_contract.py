"""The batch-partitioned store contract (streaming/_store.py), checked
once over every sketch store by calling its ``*_batch_update``
directly: replay converges, a behind id raises, compaction leaves the
readout unchanged, and the readout equals a single pass over all rows.
Plus the stream starter's compaction cadence and the partition writers'
hands-off session conf."""

from __future__ import annotations

import datetime as dt
import json
import os
from functools import partial
from typing import Callable, NamedTuple

import pytest

from nifi_hive_schema_generator_bundle_spark.streaming import quality_stream
from nifi_hive_schema_generator_bundle_spark.streaming._store import (
    start_batch_stream,
)
from nifi_hive_schema_generator_bundle_spark.streaming.cms_stream import (
    cms_batch_update,
    cms_store_grid,
    compact_cms_store,
)
from nifi_hive_schema_generator_bundle_spark.streaming.forecast_stream import (
    compact_count_store,
    count_batch_update,
    count_store_daily,
)
from nifi_hive_schema_generator_bundle_spark.streaming.hll_stream import (
    compact_hll_store,
    hll_batch_update,
    hll_store_registers,
)
from nifi_hive_schema_generator_bundle_spark.streaming.leaderboard import (
    update_leaderboard_store,
)
from nifi_hive_schema_generator_bundle_spark.streaming.quantile_stream import (
    compact_histogram_store,
    histogram_batch_update,
    histogram_store,
)
from nifi_hive_schema_generator_bundle_spark.streaming.span_stream import (
    compact_span_store,
    span_gram_batch_update,
    span_store_grams,
)


class Store(NamedTuple):
    schema: str
    rows: Callable[[int], list]  # batch number -> that batch's rows
    update: Callable
    readout: Callable
    compact: Callable


def _day(i):
    return dt.datetime(2024, 1, 1 + i % 3, 12)


WORDS = "red green blue cyan teal gold".split()

STORES = {
    "cms": Store(
        "tok string",
        lambda b: [(WORDS[(b + i) % 6],) for i in range(b + 3)],
        partial(cms_batch_update, key_col="tok", depth=3, width=16),
        cms_store_grid,
        compact_cms_store,
    ),
    "hll": Store(
        "g string, u string",
        lambda b: [(f"g{i % 2}", f"u{(b * 3 + i) % 7}") for i in range(5)],
        partial(hll_batch_update, key_col="u", group_cols=["g"], p=4),
        partial(hll_store_registers, group_cols=["g"]),
        partial(compact_hll_store, group_cols=["g"]),
    ),
    "count": Store(
        "g string, ts timestamp",
        lambda b: [(f"g{i % 2}", _day(b + i)) for i in range(4)],
        partial(count_batch_update, group_col="g", ts_col="ts"),
        count_store_daily,
        compact_count_store,
    ),
    "histogram": Store(
        "g string, v double",
        lambda b: [(f"g{i % 2}", float(b * 7 + i * 13)) for i in range(5)],
        partial(
            histogram_batch_update,
            val_col="v",
            group_cols=["g"],
            boundaries=[5.0, 20.0, 50.0],
        ),
        partial(histogram_store, group_cols=["g"]),
        partial(compact_histogram_store, group_cols=["g"]),
    ),
    # each document is ingested exactly once (the span store's rule)
    "span": Store(
        "doc_id long, text string",
        lambda b: [
            (b * 10 + i, " ".join(WORDS[(b + i + j) % 6] for j in range(5)))
            for i in range(2)
        ],
        partial(span_gram_batch_update, k=3),
        span_store_grams,
        compact_span_store,
    ),
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", sorted(STORES))
def test_sketch_store_contract(spark, tmp_path, name):
    st = STORES[name]
    store = str(tmp_path / "store")
    batches = [st.rows(b) for b in range(4)]
    frames = [spark.createDataFrame(rows, st.schema) for rows in batches]
    for b in range(3):
        st.update(frames[b], b, store_dir=store)
    st.update(frames[2], 2, store_dir=store)  # crash-replay of the max id
    st.update(frames[3], 3, store_dir=store)
    with pytest.raises(ValueError, match="behind the store") as err:
        st.update(frames[1], 2, store_dir=store)
    assert "checkpoint was reset" in str(err.value)

    before = _rows(st.readout(spark, store))
    assert st.compact(spark, store) > 0
    parts = sorted(d for d in os.listdir(store) if d.startswith("batch_id="))
    assert parts == ["batch_id=2", "batch_id=3"]  # folded history + live max
    after = _rows(st.readout(spark, store))

    single = str(tmp_path / "single")
    everything = [r for rows in batches for r in rows]
    st.update(spark.createDataFrame(everything, st.schema), 0, store_dir=single)
    assert before == after == _rows(st.readout(spark, single))


def test_start_batch_stream_compacts_on_cadence(spark, tmp_path):
    """compact_every=2 compacts after the updates of batch ids 2 and 4,
    never after batch 0."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(5):
        (src / f"{i}.txt").write_text(f"line {i}\n")
    events = []
    stream = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    q = start_batch_stream(
        stream,
        lambda df, batch_id: events.append(("update", batch_id)),
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every=2,
        compact=lambda s: events.append(("compact",)),
    )
    assert q.awaitTermination(120)
    assert events == [
        ("update", 0),
        ("update", 1),
        ("update", 2),
        ("compact",),
        ("update", 3),
        ("update", 4),
        ("compact",),
    ]


def test_partition_writers_leave_session_conf_alone(
    spark, tmp_path, monkeypatch
):
    """The leaderboard and quality-report writes overwrite their batch
    partition through a per-write option; the session-wide
    partitionOverwriteMode key stays unset in the session each write
    ran in."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        battles = spark.createDataFrame(
            [("A", "B", "a"), ("B", "A", "b")],
            "model_a string, model_b string, winner string",
        )
        update_leaderboard_store(battles, 0, store_dir=str(tmp_path / "lb"))
        assert key not in spark.conf.getAll

        # the stream's batches run in their own session: record it
        sessions = []
        report = quality_stream.quality_report

        def recording_report(batch, **kw):
            sessions.append(batch.sparkSession)
            return report(batch, **kw)

        monkeypatch.setattr(quality_stream, "quality_report", recording_report)
        src = tmp_path / "qsrc"
        src.mkdir()
        (src / "b.json").write_text(json.dumps({"id": 1}) + "\n")
        q = quality_stream.run_quality_stream(
            spark.readStream.schema("id long").json(str(src)),
            str(tmp_path / "qreport"),
            checkpoint=str(tmp_path / "qck"),
            not_null=["id"],
        )
        assert q.awaitTermination(120)
        assert len(sessions) == 1
        assert key not in sessions[0].conf.getAll
        assert key not in spark.conf.getAll
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
