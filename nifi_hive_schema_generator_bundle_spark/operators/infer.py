"""Distributed schema inference (SURVEY §2 O5/O6/O7/O8).

One implementation, one JVM aggregate: ``schema_of_variant_agg`` over
``try_parse_json`` of exactly the lines ``routing.is_valid_json`` accepts.
Spark merges the per-record variant schemas associatively (partial
aggregates per partition, one tiny final merge), and the returned schema
string is parsed into the reference lattice (``plans.lattice``):

* ``OBJECT<…>`` → struct (key union; Spark emits keys name-sorted)
* ``ARRAY<…>``  → array of the merged element
* ``VOID`` (or a NULL aggregate) → lattice bottom
* every scalar and every ``VARIANT`` conflict → STRING

The map is exact because STRING is the lattice top for everything but
bottom: Spark only widens scalars among themselves or gives up to VARIANT
on an object/array/scalar mix, and the lattice sends both to STRING.

The same ``select`` also counts valid and invalid lines, so a routed
inference is one Spark job (``route_and_infer``). Struct fields come out
name-sorted; correctness tests compare order-insensitively (SURVEY §1.4
rule 6).

There is no whole-content buffering anywhere (the reference's
``IOUtils.toString`` double-read at HiveSchemaGenerator.scala:75,98,116 is
fixed by design — SURVEY §4).
"""

from __future__ import annotations

import re
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from ..plans.lattice import merge_types, type_from_dict
from .routing import is_valid_json

__all__ = [
    "Inferred",
    "infer_schema_by_key",
    "infer_schema_df",
    "infer_schema_exact",
    "parse_variant_schema",
    "route_and_infer",
]


class Inferred(NamedTuple):
    """Routing counts and the lattice schema from one aggregate."""

    good: int
    bad: int
    schema: DataType


# --- Spark schema string → raw lattice shape -------------------------------

_SCALAR = re.compile(r"[A-Z_0-9]+(\([0-9, ]*\))?")


def parse_variant_schema(text: str | None) -> Any:
    """Parse a ``schema_of_variant_agg`` string into a raw lattice shape
    (``None | "s" | [elem] | {name: shape}``, see ``plans.lattice``).

    Recursive descent, no textual rewriting: keys may come back
    backtick-quoted with doubled backticks, may be empty or look like
    type syntax (a key named ``OBJECT<``), and ``DECIMAL(p,s)`` contains
    a comma, so only a real parser splits fields correctly.
    """
    if text is None:
        return None
    shape, end = _parse_type(text, 0)
    if end != len(text):
        raise ValueError(f"trailing input at {end} in {text!r}")
    return shape


def _expect(text: str, i: int, token: str) -> int:
    if not text.startswith(token, i):
        raise ValueError(f"expected {token!r} at {i} in {text!r}")
    return i + len(token)


def _parse_type(text: str, i: int) -> tuple[Any, int]:
    if text.startswith("OBJECT<", i):
        i += len("OBJECT<")
        fields: dict[str, Any] = {}
        if text.startswith(">", i):
            return fields, i + 1
        while True:
            name, i = _parse_name(text, i)
            fields[name], i = _parse_type(text, _expect(text, i, ": "))
            if not text.startswith(", ", i):
                return fields, _expect(text, i, ">")
            i += 2
    if text.startswith("ARRAY<", i):
        elem, i = _parse_type(text, i + len("ARRAY<"))
        return [elem], _expect(text, i, ">")
    m = _SCALAR.match(text, i)
    if m is None:
        raise ValueError(f"expected a type at {i} in {text!r}")
    return (None if m.group() == "VOID" else "s"), m.end()


def _parse_name(text: str, i: int) -> tuple[str, int]:
    if not text.startswith("`", i):
        end = text.index(":", i)  # unquoted names are plain identifiers
        return text[i:end], end
    parts = []
    i += 1
    while True:
        end = text.index("`", i)
        parts.append(text[i:end])
        if not text.startswith("``", end):
            return "".join(parts), end + 1
        parts.append("`")
        i = end + 2


# --- the aggregate ----------------------------------------------------------

def _shape_agg(value: Column, valid: Column) -> Column:
    return F.schema_of_variant_agg(F.when(valid, F.try_parse_json(value)))


def _collect_case_sensitive(df: DataFrame) -> list[Row]:
    """``df.collect()`` with ``spark.sql.caseSensitive=true``.

    Spark's variant-schema merge reads the conf when the job runs and,
    case-insensitively, may fold ``a`` and ``A`` into one field depending
    on row order; the reference keeps both. The caller's session conf is
    shared with other threads, so the analyzed plan runs in a clone of
    the session instead of flipping the caller's conf.
    """
    spark = df.sparkSession
    child = spark._jsparkSession.cloneSession()
    child.conf().set("spark.sql.caseSensitive", "true")
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        child, df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, spark).collect()


def route_and_infer(df: DataFrame, column: str = "value") -> Inferred:
    """Valid count, invalid count and the lattice schema of ``column`` in
    ONE Spark job (scan → partial aggregate per partition → final merge).

    Lines are valid exactly when ``is_valid_json`` says so; only valid
    lines reach the fold. The fold starts from the empty struct like
    ``CreateHQL.scala:12``: no valid line gives the empty struct, and
    top-level arrays demote to STRING (rendered ``"ERROR"``).
    """
    value = F.col(column).cast("string")
    valid = is_valid_json(value)
    (row,) = _collect_case_sensitive(
        df.select(
            F.count_if(valid), F.count_if(~valid), _shape_agg(value, valid)
        )
    )
    parsed = type_from_dict(parse_variant_schema(row[2]))
    return Inferred(row[0], row[1], merge_types(StructType([]), parsed))


def infer_schema_df(df: DataFrame, column: str = "value") -> DataType:
    """Reference-lattice inference over a DataFrame's JSON-string column."""
    return route_and_infer(df, column).schema


def infer_schema_exact(spark: SparkSession, path: str) -> DataType:
    """Reference-lattice inference over NDJSON file(s): one text scan
    (``spark.read.text`` splits lines for free) plus the aggregate."""
    return infer_schema_df(spark.read.text(path), "value")


def infer_schema_by_key(
    df: DataFrame, json_col: str, key_col: str
) -> dict[str, DataType]:
    """Reference-lattice inference per routing key in ONE job:
    ``groupBy(key).agg(schema_of_variant_agg(...))``. Each partition
    pre-aggregates one partial schema per key, so the shuffle carries
    ``partitions × keys`` tiny rows, never records.

    There is no empty-struct seed per key: a key whose rows are
    top-level arrays keeps its ARRAY type, and a key with no valid line
    is absent. A NULL key is kept as ``None``.
    """
    value = F.col(json_col).cast("string")
    rows = _collect_case_sensitive(
        df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
            _shape_agg(value, is_valid_json(value)).alias("shape")
        )
    )
    out: dict[str, DataType] = {}
    for key, text in rows:
        shape = parse_variant_schema(text)
        if shape is not None:
            out[key] = type_from_dict(shape)
    return out
