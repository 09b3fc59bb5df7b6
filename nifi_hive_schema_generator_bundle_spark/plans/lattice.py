"""The type-merge lattice — the semantic heart of the engine.

Re-expresses the reference's schema-inference semantics
(``CreateHQL.scala:38-66`` — ``prepare`` + ``merge``) over raw shapes
(``None | "s" | [elem] | {name: shape}``), instead of a value-as-type JSON
encoding. The raw shape is the driver's one schema value: drift is ``==``
over it, and a :mod:`pyspark.sql.types` tree is built (``type_from_dict``)
only where a schema leaves the engine (return value, renderer, callback).

The inferred type universe is deliberately tiny (SURVEY §1.3):

* ``"s"`` (``StringType``) — any JSON scalar and any conflict
* ``[elem]`` (``ArrayType``) — JSON array; element = merge of all elements
* ``{name: shape}`` (``StructType``) — JSON object; union of keys
* ``None`` (``NullType``) — bottom ("no information yet"); absorbed by
  anything; STRING if it survives to output (``finalize_raw``)

``merge`` is commutative and associative, which is what makes the fold
distributable: per-partition partial merges combine into a final schema
(combiner-style aggregation; ``operators.infer`` runs it as one Spark
aggregate).

Lattice rules (SURVEY §1.4; each has a unit test), written once, in
``infer_raw``/``merge_raw``:

1. ``merge(NULL, x) = x``; ``merge(x, NULL) = x``      (CreateHQL.scala:53-54)
2. ``merge(ARRAY[a], ARRAY[b]) = ARRAY[merge(a, b)]``  (CreateHQL.scala:55)
3. ``merge(OBJ a, OBJ b)`` = key-union; shared keys merged recursively
   (CreateHQL.scala:57-61)
4. any other pair → ``STRING``                         (CreateHQL.scala:63-64)

The typed forms (``infer_json_value``, ``merge_types``, ``finalize_type``)
are one-line conversions over the raw ones.

Array normalization (``prepare``, CreateHQL.scala:38-48) happens at
*inference* time here: a JSON array's elements are folded with ``merge``
starting from bottom — so ``[]`` infers ``ARRAY<NULL>`` (renders
``ARRAY<STRING>``) and ``[1, 2]`` infers ``ARRAY<STRING>`` (two numbers
hit the conflict rule, exactly as the reference's catch-all does).

Column order: the reference scrambles struct key order through a Scala
hash map (CreateHQL.scala:58-61 — effectively unspecified). The
distributed engine (``operators.infer``) returns fields *name-sorted*;
the single-threaded fold here keeps first-seen order. Correctness tests
compare order-insensitively.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql.types import (
    ArrayType,
    DataType,
    NullType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "finalize_raw",
    "finalize_type",
    "infer_json_value",
    "infer_json_line",
    "infer_raw",
    "merge_raw",
    "merge_types",
    "schema_from_json_lines",
    "type_to_dict",
    "type_from_dict",
]

def infer_raw(value: Any) -> Any:
    """Map one parsed JSON value to its raw lattice shape: ``null`` →
    bottom (``None``), scalar → ``"s"``, array → ``[merged elements]``,
    object → ``{key: shape}`` in key order."""
    if value is None:
        return None
    if isinstance(value, dict):
        return {k: infer_raw(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        elem: Any = None
        for item in value:
            elem = merge_raw(elem, infer_raw(item))
        return [elem]
    # string / int / float / bool — every scalar is STRING (CreateHQL.scala:64,81)
    return "s"


def merge_raw(a: Any, b: Any) -> Any:
    """The commutative join operator (CreateHQL.scala:50-66) over raw
    shapes."""
    if a is None:
        return b
    if b is None:
        return a
    if isinstance(a, list) and isinstance(b, list):
        return [merge_raw(a[0], b[0])]
    if isinstance(a, dict) and isinstance(b, dict):
        out = dict(a)
        for k, v in b.items():
            out[k] = merge_raw(out[k], v) if k in out else v
        return out
    # "If there is a mismatch, always return string" (CreateHQL.scala:63-64).
    # Total — never raises; the reference's RowMismatch/InconsistentArray
    # error paths are unreachable dead code (SURVEY §1.4 rule 7).
    return "s"


def infer_json_value(value: Any) -> DataType:
    """``infer_raw`` as a :mod:`pyspark.sql.types` lattice type."""
    return type_from_dict(infer_raw(value))


def infer_json_line(line: str) -> DataType:
    """Parse one NDJSON line and infer its lattice type.

    Raises ``ValueError`` (from ``json.loads``) on malformed input — the
    caller decides whether to route to the failure side (O14) or raise.
    """
    return infer_json_value(json.loads(line))


def merge_types(a: DataType, b: DataType) -> DataType:
    """``merge_raw`` over :mod:`pyspark.sql.types` lattice types."""
    return type_from_dict(merge_raw(type_to_dict(a), type_to_dict(b)))


def schema_from_json_lines(lines) -> DataType:
    """Single-threaded reference fold: ``schema = merge(schema, parse(line))``.

    Starts from an empty STRUCT like ``CreateHQL.scala:12`` (``Json.obj()``),
    so top-level-array content degrades to STRING — which the renderer
    reports as the reference's ``"ERROR"`` definition. It folds raw shapes
    and converts once at the end. Used as the test oracle and by the
    single-node baseline; the distributed path is ``operators.infer``.
    """
    schema: Any = {}
    for line in lines:
        if line:
            schema = merge_raw(schema, infer_raw(json.loads(line)))
    return type_from_dict(schema)


def finalize_raw(shape: Any) -> Any:
    """Collapse surviving bottoms to STRING, as the reference's catch-all
    renders a leftover ``JsNull`` (CreateHQL.scala:81): the schema a table
    can see."""
    if shape is None:
        return "s"
    if isinstance(shape, list):
        return [finalize_raw(shape[0])]
    if isinstance(shape, dict):
        return {k: finalize_raw(v) for k, v in shape.items()}
    return shape


def finalize_type(dt: DataType) -> DataType:
    """``finalize_raw`` over lattice types: a usable ``StructType`` for
    ``from_json`` or ``saveAsTable`` instead of rendered text."""
    return type_from_dict(finalize_raw(type_to_dict(dt)))


# --- ser/de between typed and raw shapes ----------------------------------

def type_to_dict(dt: DataType) -> Any:
    """Serialize a lattice type to a JSON-able tree (compact, stable)."""
    if isinstance(dt, NullType):
        return None
    if isinstance(dt, StringType):
        return "s"
    if isinstance(dt, ArrayType):
        return [type_to_dict(dt.elementType)]
    if isinstance(dt, StructType):
        return {f.name: type_to_dict(f.dataType) for f in dt.fields}
    raise TypeError(f"not a lattice type: {dt!r}")


def type_from_dict(obj: Any) -> DataType:
    if obj is None:
        return NullType()
    if obj == "s":
        return StringType()
    if isinstance(obj, list):
        return ArrayType(type_from_dict(obj[0]), True)
    if isinstance(obj, dict):
        return StructType(
            [StructField(k, type_from_dict(v), True) for k, v in obj.items()]
        )
    raise TypeError(f"not a serialized lattice type: {obj!r}")
