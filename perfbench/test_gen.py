"""Tests of the benchmark's generator (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/test_gen.py -q``.

The central cross-check: the generator's spec-derived expected schema
equals the engine's single-threaded reference fold
(``plans.lattice.schema_from_json_lines``) over the generated valid lines.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from nifi_hive_schema_generator_bundle_spark.plans.lattice import (  # noqa: E402
    merge_types,
    schema_from_json_lines,
    type_to_dict,
)
from pyspark.sql.types import StructType  # noqa: E402

SEED = 7


def _valid(lines):
    """Lines the routing would pass: parse as JSON and start with ``{``."""
    out = []
    for line in lines:
        try:
            json.loads(line)
        except ValueError:
            continue
        if line.lstrip()[:1] in ("{", "["):
            out.append(line)
    return out


def _read(path):
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def _fold(lines):
    return gen.canonical(type_to_dict(schema_from_json_lines(lines)))


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench-cache"))


def test_wide_expected_schema_matches_reference_fold(cache):
    out, truth, _ = gen.generate("ndjson_wide_batch", SEED, cache, warmup=True)
    lines = _read(os.path.join(out, truth["path"]))
    good = _valid(lines)
    assert len(lines) == truth["lines"]
    assert (len(good), len(lines) - len(good)) == (truth["good"], truth["bad"])
    assert _fold(good) == truth["schema"]


@pytest.mark.parametrize("seed", range(5))
def test_drift_expected_schema_and_versions(cache, seed):
    # full size: the small warm-up backlog has no drift step
    out, truth, _ = gen.generate("ndjson_drift_stream", seed, cache)
    files = sorted(os.listdir(os.path.join(out, truth["dir"])))
    assert len(files) == truth["files"]
    n_good, events, schema, prev = 0, 0, StructType([]), None
    for name in files:
        good = _valid(_read(os.path.join(out, truth["dir"], name)))
        n_good += len(good)
        schema = merge_types(schema, schema_from_json_lines(good))
        now = gen.canonical(type_to_dict(schema))
        events += now != prev
        prev = now
    assert prev == truth["schema"]
    assert events == truth["drift_events"]
    assert n_good == truth["good"]


def test_same_seed_same_bytes(tmp_path):
    a, ta, _ = gen.generate("ndjson_wide_batch", 3, str(tmp_path / "a"), warmup=True)
    b, tb, _ = gen.generate("ndjson_wide_batch", 3, str(tmp_path / "b"), warmup=True)
    assert ta == tb
    assert _read(os.path.join(a, ta["path"])) == _read(os.path.join(b, tb["path"]))


def test_cache_keeps_the_newest_sets(tmp_path):
    root = str(tmp_path)
    for seed in range(gen.CACHED_PER_WORKLOAD + 3):
        last, _, _ = gen.generate("ndjson_drift_stream", seed, root, warmup=True)
    kept = os.listdir(root)
    assert len(kept) == gen.CACHED_PER_WORKLOAD
    assert os.path.basename(last) in kept
