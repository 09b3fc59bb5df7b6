"""Unit tests: per-group schema drift report (lattice classes)."""

from __future__ import annotations

import pytest

from nifi_hive_schema_generator_bundle_spark.operators.drift import (
    schema_drift_report,
)


@pytest.fixture(scope="module")
def jdf(spark):
    rows = [
        ("a", '{"x": 1, "y": {"n": 2}}'),
        ("a", '{"x": 2, "y": {"m": "s"}}'),
        ("b", '{"x": [1, 2]}'),
        ("b", '{"x": [3]}'),
        ("c", '{"z": true}'),
        ("c", "not json at all"),
        ("d", '{"x": null}'),
    ]
    return spark.createDataFrame(rows, "grp string, payload string")


def _report(spark, jdf):
    out = schema_drift_report(spark, jdf, "payload", "grp").collect()
    return {(r["group_key"], r["field"]): (r["group_class"], r["drift"]) for r in out}


def test_classes_and_drift(spark, jdf):
    rep = _report(spark, jdf)
    # global: x conflicts (scalar vs array vs null) → STRING; y STRUCT; z STRING
    assert rep[("a", "x")] == ("STRING", "same")
    assert rep[("b", "x")] == ("ARRAY", "retyped")
    assert rep[("d", "x")] == ("STRING", "same")  # all-null absorbs → STRING
    assert rep[("a", "y")] == ("STRUCT", "same")
    assert rep[("b", "y")] == ("ABSENT", "absent")
    assert rep[("c", "z")] == ("STRING", "same")
    assert rep[("a", "z")] == ("ABSENT", "absent")


def test_malformed_rows_skipped(spark, jdf):
    # group c has one bad row; its good row still types z
    rep = _report(spark, jdf)
    assert rep[("c", "z")][0] == "STRING"


def test_non_object_group_reports_absent(spark):
    df = spark.createDataFrame(
        [("a", '{"x": 1}'), ("arr", "[1, 2]"), ("arr", "[3]")],
        "grp string, payload string",
    )
    rep = _report(spark, df)
    assert rep[("arr", "x")] == ("ABSENT", "absent")


def test_empty_input(spark):
    df = spark.createDataFrame([], "grp string, payload string")
    assert schema_drift_report(spark, df, "payload", "grp").count() == 0


def test_null_group_is_reported_first(spark):
    """Records without the group field form the NULL group, reported
    before the named groups instead of aborting the sort."""
    df = spark.createDataFrame(
        [("a", '{"x": 1}'), (None, '{"y": 1}')], "grp string, payload string"
    )
    rows = schema_drift_report(spark, df, "payload", "grp").collect()
    assert [(r["group_key"], r["field"], r["drift"]) for r in rows] == [
        (None, "x", "absent"),
        (None, "y", "same"),
        ("a", "x", "same"),
        ("a", "y", "absent"),
    ]
