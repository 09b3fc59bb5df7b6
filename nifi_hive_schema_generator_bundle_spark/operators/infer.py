"""Distributed schema inference (SURVEY §2 O5/O6/O7/O8).

One implementation, one JVM aggregate: ``schema_of_variant_agg`` over
``routing.parse_valid_json``, each line parsed once. A line is valid
exactly when that parsed value is non-NULL, so the same value gives the
routing counts. Spark merges the per-record variant schemas
associatively (partial aggregates per partition, one tiny final merge),
and the returned schema string is parsed into a raw lattice shape
(``plans.lattice``), which driver consumers take as it is; the public
functions convert once on return:

* ``OBJECT<…>`` → struct (key union; Spark emits keys name-sorted)
* ``ARRAY<…>``  → array of the merged element
* ``VOID`` (or a NULL aggregate) → lattice bottom
* every scalar and every ``VARIANT`` conflict → STRING

The map is exact because STRING is the lattice top for everything but
bottom: Spark only widens scalars among themselves or gives up to VARIANT
on an object/array/scalar mix, and the lattice sends both to STRING.

Unkeyed (``route_and_infer``) and keyed (``infer_schema_by_key``)
inference run the same ``groupBy(*keys).agg`` job, so a routed inference
is one Spark job, and every key's fold starts from the empty struct.
Struct fields come out name-sorted; correctness tests compare
order-insensitively (SURVEY §1.4 rule 6).

There is no whole-content buffering anywhere (the reference's
``IOUtils.toString`` double-read at HiveSchemaGenerator.scala:75,98,116 is
fixed by design — SURVEY §4).
"""

from __future__ import annotations

import re
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

# ``merge_types`` stays a module attribute: perfbench/spans.py wraps it.
from ..plans.lattice import merge_raw, merge_types, type_from_dict  # noqa: F401
from .routing import parse_valid_json

__all__ = [
    "Inferred",
    "infer_schema_by_key",
    "infer_schema_df",
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

def _clone(spark: SparkSession):
    """The JVM session the engine's own scans and aggregates run in: a
    clone of ``spark``'s, because the caller's conf is shared with other
    threads and is never written. It differs in two settings.

    * ``spark.sql.caseSensitive=true``. Spark's variant-schema merge reads
      it when the job runs and, case-insensitively, may fold ``a`` and
      ``A`` into one field depending on row order; the reference keeps
      both.
    * ``spark.sql.files.minPartitionNum`` = 2 × the default parallelism,
      read per call so that executors added since session start count.
      Spark cuts files into splits of ``max(openCost, (bytes + openCost)
      / n)`` (capped at ``maxPartitionBytes``) with n the slot count, and
      every chunk of a split file starts its own partition, so one file
      of a few ``openCost`` (4 MiB) becomes n − 1 full chunks and one
      short one: a slot idles through most of the scan. At 2n the split
      size halves, down to ``openCost``: the short chunk goes, no slot
      gets more bytes than before, and an input under 4 MiB stays one
      split. Spark plans splits from the session that created the
      relation, so this holds only for a file read in the clone
      (``_read_lines``).
    """
    child = spark._jsparkSession.cloneSession()
    child.conf().set("spark.sql.caseSensitive", "true")
    child.conf().set(
        "spark.sql.files.minPartitionNum",
        str(2 * spark.sparkContext.defaultParallelism),
    )
    return child


def _read_lines(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.text(path)`` with its splits planned in ``_clone``:
    the engine's NDJSON scans (``catalog``, the CLI) read through this.
    A temp view made from the frame lands in the clone, out of the
    caller's sight, so the public ``sources.ndjson.read_ndjson_lines``
    stays a plain read."""
    return DataFrame(_clone(spark).read().text(path), spark)


def _collect_case_sensitive(df: DataFrame) -> list[Row]:
    """``df.collect()`` with the analyzed plan re-run in ``_clone``, so the
    aggregate merges case-sensitively; the scan keeps the splits of the
    session that read it."""
    spark = df.sparkSession
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        _clone(spark), df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, spark).collect()


def _infer(df: DataFrame, column: str, *keys: str) -> list[tuple]:
    """``(key values, good, bad, raw shape)`` per group of ``keys`` in ONE
    Spark job (scan → partial aggregate per partition → final merge); no
    keys is one global group. Counts and shape come from one parsed value
    per line. Every fold starts from the empty struct like
    ``CreateHQL.scala:12``: top-level arrays demote to STRING (``"ERROR"``).
    """
    projected = df.select(
        *(F.col(k).cast("string").alias(f"_k{i}") for i, k in enumerate(keys)),
        parse_valid_json(F.col(column).cast("string")).alias("_v"),
    )
    rows = _collect_case_sensitive(
        projected.groupBy(*projected.columns[:-1]).agg(
            F.count("_v"), F.count(F.lit(1)), F.schema_of_variant_agg("_v")
        )
    )
    return [
        (tuple(key), good, total - good, merge_raw({}, parse_variant_schema(t)))
        for *key, good, total, t in rows
    ]


def _shapes_by_key(df: DataFrame, json_col: str, key_col: str) -> dict:
    """Raw shape per key with a valid line; a NULL key is kept as ``None``."""
    rows = _infer(df, json_col, key_col)
    return {key: shape for (key,), good, _, shape in rows if good}


def route_and_infer(df: DataFrame, column: str = "value") -> Inferred:
    """Valid count, invalid count and the lattice schema of ``column`` in
    ONE Spark job; no valid line gives the empty struct."""
    ((_, good, bad, shape),) = _infer(df, column)
    return Inferred(good, bad, type_from_dict(shape))


def infer_schema_df(df: DataFrame, column: str = "value") -> DataType:
    """Reference-lattice inference over a DataFrame's JSON-string column."""
    return route_and_infer(df, column).schema


def infer_schema_by_key(
    df: DataFrame, json_col: str, key_col: str
) -> dict[str, DataType]:
    """Reference-lattice inference per routing key: the same one-job
    aggregate, grouped by ``key_col``. Each partition pre-aggregates one
    partial schema per key, so the shuffle carries ``partitions × keys``
    tiny rows, never records.

    A key with no valid line is absent; a NULL key is kept as ``None``.
    """
    return {
        key: type_from_dict(shape)
        for key, shape in _shapes_by_key(df, json_col, key_col).items()
    }
