"""Routing tests — FIXTURES.md F3 matrix (per-record improvement over the
reference's whole-file validation) plus the whole-content lax shim."""

from __future__ import annotations

from nifi_hive_schema_generator_bundle_spark.operators.routing import (
    split_valid,
    split_valid_whole_content,
)


def routed(spark, lines):
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    good, bad = split_valid(df, "value")
    return (
        sorted(r.value for r in good.collect()),
        sorted(r.value for r in bad.collect()),
    )


def test_f3a_not_json_routes_to_failure(spark):
    good, bad = routed(spark, ["ThisIsNotJSON"])
    assert good == [] and bad == ["ThisIsNotJSON"]


def test_f3b_per_record_split(spark):
    good, bad = routed(spark, ['{"a": 1}', "garbage {", '{"b": [1,2]}'])
    assert good == ['{"a": 1}', '{"b": [1,2]}']
    assert bad == ["garbage {"]


def test_top_level_array_is_valid(spark):
    # org.json parity: JSONArray accepted (HiveSchemaGenerator.scala:85)
    good, bad = routed(spark, ['[1, 2, 3]'])
    assert good == ["[1, 2, 3]"] and bad == []


def test_bare_scalar_is_invalid(spark):
    # org.json parity: JSONObject/JSONArray ctors reject bare scalars
    good, bad = routed(spark, ["5", '"str"', "true"])
    assert good == [] and sorted(bad) == sorted(["5", '"str"', "true"])


def test_leading_tab_or_cr_before_object_is_valid(spark):
    # JSON whitespace before the first value is skipped, as try_parse_json
    # and org.json's nextClean do
    lines = ['\t{"a": 1}', '\r{"a": 1}', '\r\n\t [1]']
    good, bad = routed(spark, lines)
    assert good == sorted(lines) and bad == []


def test_null_and_empty_are_invalid(spark):
    good, bad = routed(spark, ["", "   "])
    assert good == []
    assert len(bad) == 2


def test_content_passes_through_unmodified(spark):
    # reference asserts byte-identical content (HiveSchemaGeneratorSpec.scala:50-52)
    lines = ['{ "a" :  1 }', "junk"]
    good, bad = routed(spark, lines)
    assert good == ['{ "a" :  1 }'] and bad == ["junk"]


def routed_whole(spark, contents):
    df = spark.createDataFrame([(x,) for x in contents], "value string")
    good, bad = split_valid_whole_content(df, "value")
    return (
        sorted(r.value for r in good.collect()),
        sorted(r.value for r in bad.collect()),
    )


def test_lax_shim_reproduces_reference_whole_file_verdict(spark):
    """org.json parity (HiveSchemaGenerator.scala:77-95): a multi-line
    file is 'valid' when its FIRST value parses, even with garbage after
    — the exact quirk the per-record router improves on. Users comparing
    routing counts 1:1 with the reference get the same verdicts here."""
    valid_then_garbage = '{"a": 1}\nnot json at all'
    good, bad = routed_whole(spark, [valid_then_garbage])
    assert good == [valid_then_garbage]  # reference says valid
    # ...while per-record routing flags the garbage line
    rec_good, rec_bad = routed(spark, valid_then_garbage.split("\n"))
    assert rec_bad == ["not json at all"]


def test_lax_shim_pretty_printed_json_is_valid(spark):
    pretty = '{\n  "a": 1,\n  "b": [1, 2]\n}'
    good, bad = routed_whole(spark, [pretty])
    assert good == [pretty] and bad == []


def test_lax_shim_garbage_first_line_is_invalid(spark):
    content = 'garbage {\n{"a": 1}'
    good, bad = routed_whole(spark, [content])
    assert good == [] and bad == [content]


def test_lax_shim_bare_scalar_first_value_is_invalid(spark):
    good, bad = routed_whole(spark, ['5\n{"a": 1}'])
    assert good == []
