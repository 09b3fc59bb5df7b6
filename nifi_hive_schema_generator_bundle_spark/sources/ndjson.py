"""NDJSON source/sink helpers (SURVEY §2 O1/O2).

The reference consumes NiFi FlowFile content — NDJSON by convention; here
the equivalents are file-based DataFrame sources. Line framing is the text
source's native behavior (no per-row split logic anywhere), and the JSON
parse path offers both the permissive corrupt-record mode (O3 routing) and
raw-line mode (feeding ``operators.infer``, which parses each line once).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_ndjson_lines", "read_ndjson", "export_table_as_ndjson"]

CORRUPT_COL = "_corrupt_record"


def read_ndjson_lines(spark: SparkSession, path: str) -> DataFrame:
    """One string column ``value`` per line: the plain public reader, a
    frame in ``spark`` itself, so views made from it are the caller's.
    The engine's own scans (``catalog``, the CLI) read through
    ``operators.infer._read_lines`` instead, which plans the splits in a
    session clone; a frame from there would hide its temp views."""
    return spark.read.text(path)


def read_ndjson(
    spark: SparkSession,
    path: str,
    *,
    primitives_as_string: bool = True,
    schema=None,
    cache: bool = False,
) -> DataFrame:
    """Parsed NDJSON with PERMISSIVE corrupt-record capture: bad lines land
    whole in ``_corrupt_record`` (NULL everywhere else), good lines parse —
    the DataFrame twin of the reference's validate-then-parse double pass,
    in one scan.

    Spark disallows queries that reference *only* the corrupt column over
    raw files (SPARK-21610); pass ``cache=True`` (or persist yourself)
    before filtering on ``_corrupt_record`` alone.
    """
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("primitivesAsString", str(primitives_as_string).lower())
    )
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    return df.cache() if cache else df


def export_table_as_ndjson(
    df: DataFrame, out_dir: str, *, coalesce: int | None = None
) -> str:
    """Write a DataFrame as NDJSON files (``to_json`` over a struct of all
    columns → text sink). Used to build inference workloads from the
    parquet test tables; at scale this is a narrow job."""
    out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    if coalesce:
        out = out.coalesce(coalesce)
    out.write.mode("overwrite").text(out_dir)
    return out_dir
