"""Valid/invalid record routing (SURVEY §2 O3/O14/O16).

The reference routes whole FlowFiles: content is "valid" if org.json can
parse a ``JSONObject`` or ``JSONArray`` from the *first* JSON value
(HiveSchemaGenerator.scala:77-95 — a quirk: later garbage lines still pass
validation, then throw during inference → failure). We route **per
record**, the documented improvement (FIXTURES.md F3b): every line is
independently validated, good lines proceed to inference, bad lines go to
a quarantine side.

Validity is stated once, JVM-side, as one SQL template (``valid_json_sql``):
a first-char check that mirrors the reference's object-or-array
requirement (a bare scalar like ``5`` is *invalid* to org.json's
JSONObject/JSONArray constructors, so it is invalid here too), then Spark
4's variant JSON parser (whole-stage codegen). ``parse_valid_json`` is
that text as a Column. A line is valid exactly when its parsed value is
non-NULL, and inference (``operators.infer``) projects and folds that same
value, so each line is parsed once. No Python UDF in the hot path.

The functions here take column *names*, read as ``F.col`` reads them (a
dot steps into a struct, backticks quote a part): the template is SQL
text, and a Column carries none.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "valid_json_sql",
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


# ``{0}`` is the SQL text of the line; ``{{`` is a literal brace.
_VALID_JSON = (
    "CASE WHEN regexp_extract({0}, '^[ \\t\\n\\r]*(.)', 1) IN ('{{', '[') "
    "THEN try_parse_json({0}) END"
)
_NAME_PART = r"`(?:[^`]|``)*`|[^.`]+"


def _sql_name(name: str) -> str:
    """``name`` as ``F.col`` reads it, written as SQL text: every part
    backtick-quoted (an already quoted part keeps its doubled backticks)."""
    if not re.fullmatch(rf"(?:{_NAME_PART})(?:\.(?:{_NAME_PART}))*", name):
        raise ValueError(f"not a column name: {name!r}")
    return ".".join(
        p if p.startswith("`") else f"`{p}`" for p in re.findall(_NAME_PART, name)
    )


def valid_json_sql(expr: str) -> str:
    """SQL text of the parsed variant of a valid ``expr`` (SQL text of a
    string), NULL otherwise. Valid means the value parses as JSON *and*
    the first value is an object or array (org.json parity —
    HiveSchemaGenerator.scala:80,85).

    The first-character check skips all JSON whitespace (space, tab, LF,
    CR), as the variant parser does; org.json's ``nextClean`` skips those
    too. It runs first, so lines that cannot be valid are never parsed."""
    return _VALID_JSON.format(expr)


def parse_valid_json(col: str) -> Column:
    """``valid_json_sql`` over the column named ``col``, as a Column."""
    return F.expr(valid_json_sql(_sql_name(col)))


def is_valid_json(col: str) -> Column:
    """True iff ``parse_valid_json`` is non-NULL; never NULL itself."""
    return parse_valid_json(col).isNotNull()


def is_valid_json_lax(col: str) -> Column:
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
    c = _sql_name(col)
    first_line = f"split_part({c}, '\\n', 1)"
    return F.expr(
        f"{valid_json_sql(c)} IS NOT NULL OR {valid_json_sql(first_line)} IS NOT NULL"
    )


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
