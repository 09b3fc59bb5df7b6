"""Hive DDL rendering — reference-exact format plus a Spark-executable dialect.

Reproduces ``CreateHQL.out/definition/table`` (CreateHQL.scala:68-99):

* uppercase ``ARRAY<…>`` / ``STRUCT<…>`` / ``STRING``
* struct keys backtick-quoted with a colon and a space (``` `k`: STRING ```)
* tab indentation by depth; fields joined with ``,\\n``
* top-level columns rendered ``` `name` TYPE ``` (no colon)
* non-object top-level schema → the literal string ``"ERROR"``
  (CreateHQL.scala:91)
* identifier sanitization ``[.-] → _`` applied to the whole rendered
  definition (CreateHQL.scala:97 — safe because the three type words
  contain neither ``.`` nor ``-``)
* 5-line ``DROP TABLE; CREATE EXTERNAL TABLE … JsonSerDe … location``
  template (CreateHQL.scala:94-99), ``DROP`` *without* ``IF EXISTS`` and a
  lowercase ``location`` keyword — kept as documented quirks behind compat
  flags

plus a ``spark_ddl`` variant that Spark SQL can actually execute without a
Hive build (``CREATE TABLE … USING JSON LOCATION``).
"""

from __future__ import annotations

import re

from pyspark.sql.types import ArrayType, DataType, StructType

__all__ = [
    "render_type",
    "render_compact_type",
    "render_definition",
    "render_hive_ddl",
    "render_alter_ddl",
    "render_spark_ddl",
    "render_partition_ddl",
    "render_msck",
    "sanitize_identifiers",
    "sanitize_schema",
]

_SANITIZE_RE = re.compile(r"[.-]")


def render_type(dt: DataType, indent: int = 0, key: str | None = None) -> str:
    """Render one type — mirrors ``out`` (CreateHQL.scala:68-83).

    ``NullType`` and every scalar fall through to ``STRING`` exactly like
    the reference's catch-all at CreateHQL.scala:81.
    """
    pad = "\t" * indent
    prefix = pad + (key + " " if key is not None else "")
    if isinstance(dt, ArrayType):
        body = "\n".join(
            ["ARRAY<", render_type(dt.elementType, indent + 1), f"{pad}>"]
        )
    elif isinstance(dt, StructType):
        fields = ",\n".join(
            render_type(f.dataType, indent + 1, key=f"`{f.name}`:")
            for f in dt.fields
        )
        body = "STRUCT<\n" + fields + "\n" + pad + ">"
    else:
        body = "STRING"
    return prefix + body


def render_compact_type(dt: DataType) -> str:
    """Single-line uppercase rendering (``ARRAY<STRING>``,
    ``STRUCT<`k`: STRING>``) — same lattice, no indentation; bottoms
    render as STRING. Names are sanitized and quoted (``_quote``), so the
    text parses as a Spark type whatever the keys hold. Used for
    executable DDL and where a type travels inside a row (e.g. the
    inference query surface)."""
    if isinstance(dt, ArrayType):
        return f"ARRAY<{render_compact_type(dt.elementType)}>"
    if isinstance(dt, StructType):
        fields = ", ".join(
            f"{_quote(f.name)}: {render_compact_type(f.dataType)}"
            for f in dt.fields
        )
        return f"STRUCT<{fields}>"
    return "STRING"


def render_definition(schema: DataType, indent: int = 0) -> str:
    """Top-level column list — mirrors ``definition`` (CreateHQL.scala:85-92).

    Returns the literal ``"ERROR"`` when the merged schema is not a struct
    (e.g. top-level-array content), matching the reference quirk.
    """
    if not isinstance(schema, StructType):
        return "ERROR"
    return ",\n".join(
        render_type(f.dataType, indent, key=f"`{f.name}`") for f in schema.fields
    )


def sanitize_identifiers(rendered: str) -> str:
    """``replaceAll("[.-]", "_")`` over the whole definition string
    (CreateHQL.scala:97)."""
    return _SANITIZE_RE.sub("_", rendered)


def _quote(name: str) -> str:
    """``[.-]`` → ``_`` on one name, then backtick-quoted with any
    backtick inside doubled (Spark SQL's escape)."""
    return "`" + sanitize_identifiers(name).replace("`", "``") + "`"


def _literal(value: object) -> str:
    """``value`` as a single-quoted SQL string literal: backslash
    escaped first, then the quote, so neither can end the literal or
    turn a following character into an escape."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def sanitize_schema(dt: DataType) -> DataType:
    """Structural equivalent of the whole-string sanitization: rewrite
    ``[.-]`` to ``_`` in every struct field name. Used when the schema is
    consumed as a real ``StructType`` (e.g. ``saveAsTable``) rather than
    rendered to text."""
    if isinstance(dt, ArrayType):
        return ArrayType(sanitize_schema(dt.elementType), True)
    if isinstance(dt, StructType):
        out = StructType()
        for f in dt.fields:
            out.add(_SANITIZE_RE.sub("_", f.name), sanitize_schema(f.dataType), True)
        return out
    return dt


def render_hive_ddl(
    schema: DataType,
    table: str,
    location: str,
    *,
    drop_if_exists: bool = False,
    stored_as: str | None = None,
) -> str:
    """Reference-exact DDL (``table``, CreateHQL.scala:94-99).

    With the default flags the output is byte-identical to the reference:
    ``DROP TABLE`` without ``IF EXISTS`` (would error in Hive on first
    run — documented quirk) and the hardcoded hcatalog JsonSerDe with a
    lowercase ``location`` keyword.

    ``stored_as`` swaps the ROW FORMAT SERDE clause for ``STORED AS
    <fmt>`` — the executable variant for Hive builds without the hcatalog
    SerDe jar (Spark's builtin Hive ships LazySimpleSerDe formats only).
    """
    drop = f"DROP TABLE IF EXISTS {table};" if drop_if_exists else f"DROP TABLE {table};"
    storage = (
        f") STORED AS {stored_as}"
        if stored_as is not None
        else ") ROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'"
    )
    return "\n".join(
        [
            drop,
            f"CREATE EXTERNAL TABLE {table} (",
            sanitize_identifiers(render_definition(schema, 1)),
            storage,
            f"location {_literal(location)};",
        ]
    )


def render_spark_ddl(schema: DataType, table: str, location: str) -> str:
    """Spark-native executable dialect: ``CREATE TABLE … USING JSON``.

    Columns render through ``render_compact_type``, so every name, nested
    or not, is sanitized and quoted and the DDL runs on a plain Spark
    build (no Hive SerDe classes needed); pair with a separate ``DROP
    TABLE IF EXISTS`` statement.

    Raises ``ValueError`` for a schema CREATE would reject, so a caller
    that renders before it drops keeps its table: no columns (an empty
    or all-invalid input), or two names at one struct level that are
    one name to Spark and Hive, which compare case-insensitively after
    sanitization (``a``/``A``, ``x.y``/``x-y``).
    """
    if not isinstance(schema, StructType):
        raise ValueError("top-level schema must be a STRUCT to create a table")
    if not schema.fields:
        raise ValueError(f"no columns to create table {table} with")
    _check_unique_names(schema)
    cols = ",\n  ".join(
        f"{_quote(f.name)} {render_compact_type(f.dataType)}"
        for f in schema.fields
    )
    return (
        f"CREATE TABLE {table} (\n  {cols}\n) USING JSON "
        f"LOCATION {_literal(location)}"
    )


def _check_unique_names(dt: DataType) -> None:
    """Raise ``ValueError`` at the first struct level holding two names
    that ``_quote`` turns into one case-insensitive column name."""
    if isinstance(dt, ArrayType):
        _check_unique_names(dt.elementType)
    elif isinstance(dt, StructType):
        seen: dict[str, str] = {}
        for f in dt.fields:
            key = sanitize_identifiers(f.name).lower()
            if key in seen:
                raise ValueError(
                    f"fields {seen[key]!r} and {f.name!r} both render as "
                    f"column {_quote(f.name)}, and Spark compares column "
                    "names case-insensitively"
                )
            seen[key] = f.name
            _check_unique_names(f.dataType)


def render_alter_ddl(old: DataType, new: DataType, table: str) -> list[str]:
    """Incremental drift DDL (SURVEY §7 step 5): statements that evolve an
    existing table from ``old`` to ``new`` without a full re-create.

    Top-level additions become one ``ALTER TABLE … ADD COLUMNS``; any
    column whose rendered type changed (conflict demotion, array-element
    widening, struct key growth; not a bottom refined to STRING) becomes
    ``ALTER TABLE … CHANGE COLUMN`` — Hive can restate a column type in
    place for SerDe-backed tables. Returns [] when nothing changed (the
    lattice never removes keys).
    """
    if not isinstance(old, StructType) or not isinstance(new, StructType):
        return []
    # compare by SANITIZED name — the live table's columns are sanitized,
    # so a drifted raw name ('a.b') that sanitizes onto an existing column
    # ('a_b') is a type restatement, not an addition (adding it would fail
    # on Hive with a duplicate column)
    old_types = {
        sanitize_identifiers(f.name): render_compact_type(f.dataType)
        for f in old.fields
    }
    added, changed = [], []
    for f in new.fields:
        col, typ = _quote(f.name), render_compact_type(f.dataType)
        old_typ = old_types.get(sanitize_identifiers(f.name))
        if old_typ is None:
            added.append(f"{col} {typ}")
        elif old_typ != typ:
            changed.append(f"ALTER TABLE {table} CHANGE COLUMN {col} {col} {typ};")
    if added:
        changed.insert(0, f"ALTER TABLE {table} ADD COLUMNS ({', '.join(added)});")
    return changed


def render_partition_ddl(
    table: str,
    partitions: list[tuple[dict, str]],
    *,
    if_not_exists: bool = True,
) -> str:
    """Partition registration DDL — the companion the reference's
    CREATE EXTERNAL TABLE output needs once data lands in hive-style
    key=value directories (one NiFi flow per day writes a new
    directory; the metastore only sees it after an ADD PARTITION).

    ``partitions`` is [(spec, location), …] with spec an ordered
    {key: value} dict; one statement covers them all (Hive allows
    multiple PARTITION clauses per ALTER). Values render as quoted
    strings (``_literal``) — Hive coerces to the partition column's
    declared type; keys are quoted like every other identifier
    (``_quote``)."""
    if not partitions:
        return ""
    ine = " IF NOT EXISTS" if if_not_exists else ""
    clauses = []
    for spec, location in partitions:
        kv = ", ".join(
            f"{_quote(k)}={_literal(v)}" for k, v in spec.items()
        )
        clauses.append(f"PARTITION ({kv}) location {_literal(location)}")
    return f"ALTER TABLE {table} ADD{ine} " + " ".join(clauses) + ";"


def render_msck(table: str) -> str:
    """``MSCK REPAIR TABLE`` — the bulk alternative to enumerated ADD
    PARTITION statements when the directory layout is already
    hive-style; emitted (not executed) so the caller controls when the
    potentially expensive filesystem walk runs."""
    return f"MSCK REPAIR TABLE {table};"
