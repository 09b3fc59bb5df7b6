"""Valid/invalid record routing (SURVEY §2 O3/O14/O16).

The reference routes whole FlowFiles: content is "valid" if org.json can
parse a ``JSONObject`` or ``JSONArray`` from the *first* JSON value
(HiveSchemaGenerator.scala:77-95 — a quirk: later garbage lines still pass
validation, then throw during inference → failure). We route **per
record**, the documented improvement (FIXTURES.md F3b): every line is
independently validated, good lines proceed to inference, bad lines go to
a quarantine side.

Validity is stated once, JVM-side, in ``parse_valid_json``: a first-char
check that mirrors the reference's object-or-array requirement (a bare
scalar like ``5`` is *invalid* to org.json's JSONObject/JSONArray
constructors, so it is invalid here too), then Spark 4's variant JSON
parser (whole-stage codegen). A line is valid exactly when its parsed
value is non-NULL, and inference (``operators.infer``) folds that same
value, so each line is parsed once. No Python UDF in the hot path.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "parse_valid_json",
    "is_valid_json",
    "is_valid_json_lax",
    "split_valid",
    "split_valid_whole_content",
    "RoutedFrames",
]


class RoutedFrames(NamedTuple):
    """The Spark rendering of the reference's success/failure relationships
    (HiveSchemaGeneratorRelationships.scala:23-39): two DataFrames split by
    the validity predicate, content passed through unmodified."""

    success: DataFrame
    failure: DataFrame


def parse_valid_json(col: Column | str) -> Column:
    """The parsed variant of a valid line, NULL otherwise. Valid means the
    value parses as JSON *and* the first value is an object or array
    (org.json parity — HiveSchemaGenerator.scala:80,85).

    The first-character check skips all JSON whitespace (space, tab, LF,
    CR), as the variant parser does; org.json's ``nextClean`` skips those
    too. It runs first, so lines that cannot be valid are never parsed."""
    c = F.col(col) if isinstance(col, str) else col
    first = F.regexp_extract(c, r"^[ \t\n\r]*(.)", 1)
    return F.when(first.isin("{", "["), F.try_parse_json(c))


def is_valid_json(col: Column | str) -> Column:
    """True iff ``parse_valid_json`` is non-NULL; never NULL itself."""
    return parse_valid_json(col).isNotNull()


def is_valid_json_lax(col: Column | str) -> Column:
    """org.json whole-content parity shim (HiveSchemaGenerator.scala:77-95).

    The reference validates a whole FlowFile by constructing one
    ``JSONObject``/``JSONArray`` from the content: the tokener stops after
    the first complete value, so a multi-line file whose FIRST value
    parses is "valid" even when later lines are garbage (those then blow
    up during inference — the documented quirk). The per-record routing
    (`is_valid_json`) is strictly better and remains the default; this
    predicate exists for users comparing routing counts 1:1 with the
    reference.

    Rendering in Spark expressions: content is lax-valid iff the whole
    string parses (pretty-printed JSON spanning lines) OR its first line
    parses (the NDJSON-with-trailing-garbage case the reference's own
    fixtures exercise) — both subject to the object-or-array first-char
    rule. Empirically Spark's variant parser (this build) already
    behaves like org.json's tokener — it stops after the first complete
    value and ignores trailing garbage — so the first-line disjunct is a
    guard against future parser tightening, not the load-bearing branch.
    """
    c = F.col(col) if isinstance(col, str) else col
    first_line = F.split_part(c, F.lit("\n"), F.lit(1))
    return is_valid_json(c) | is_valid_json(first_line)


def split_valid_whole_content(
    df: DataFrame, column: str = "value"
) -> RoutedFrames:
    """Whole-content routing with the reference's lax verdict — each row
    is one FlowFile's entire content (`spark.read.text(...,
    wholetext=True)` produces exactly this shape)."""
    pred = is_valid_json_lax(column)
    return RoutedFrames(success=df.filter(pred), failure=df.filter(~pred))


def split_valid(df: DataFrame, column: str = "value") -> RoutedFrames:
    """Split into (success, failure) on the validity predicate.

    One logical scan; Catalyst plans two filtered reads (or one cached scan
    if the caller persists ``df``). Rows pass through byte-identical —
    the reference's tests assert content unchanged
    (HiveSchemaGeneratorSpec.scala:50-52) and so do ours.
    """
    pred = is_valid_json(column)
    return RoutedFrames(success=df.filter(pred), failure=df.filter(~pred))
