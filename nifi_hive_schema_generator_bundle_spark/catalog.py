"""Metastore registration — the executed counterpart of the DDL sink
(SURVEY §2 O12/O13/O15).

The reference only *emits* a DDL string into a flowfile attribute
(HiveSchemaGenerator.scala:102); actually running it was someone else's
job. Here registration is first-class: ``register_table`` executes the
Spark-native DDL against the session catalog (Hive metastore when the
session was built with ``enableHiveSupport()``, in-memory/derby otherwise).

Per-record table routing — the NiFi Expression Language use-case where
``Table Name`` is evaluated per flowfile (``${destination.table.name}``,
HiveSchemaGeneratorProperties.scala:24-42) — maps to grouping by a routing
column and emitting one DDL per group (``ddl_per_group``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from .operators.infer import infer_schema_by_key, infer_schema_df, route_and_infer
from .plans.render import render_hive_ddl, render_spark_ddl

__all__ = ["infer_ddl", "register_table", "infer_and_register", "ddl_per_group", "write_bucketed"]


def infer_ddl(
    spark: SparkSession,
    path: str,
    table: str,
    location: str,
    *,
    drop_if_exists: bool = False,
) -> str:
    """The minimum end-to-end slice (SURVEY §7): NDJSON path → reference
    lattice schema → reference-format DDL string."""
    schema = infer_schema_df(spark.read.text(path), "value")
    return render_hive_ddl(
        schema, table, location, drop_if_exists=drop_if_exists
    )


def register_table(
    spark: SparkSession,
    schema: DataType,
    table: str,
    location: str,
) -> str:
    """Drop ``table`` if present, then run the Spark-native DDL; returns it."""
    ddl = render_spark_ddl(schema, table, location)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # Spark resolves the relation eagerly at CREATE time and errors on a
    # missing location; ensure it exists (Hadoop FS API — local/HDFS/S3).
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(location)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        fs.mkdirs(jpath)
    spark.sql(ddl)
    return ddl


def infer_and_register(
    spark: SparkSession,
    path: str,
    table: str,
    location: str | None = None,
) -> dict:
    """Full pipeline (SURVEY §3 'Spark lifecycle'): scan → route → infer →
    render → register. Returns counts plus both DDL dialects.

    Routing counts and the schema come from one aggregate over one scan
    (``route_and_infer``); registration is driver-side DDL."""
    good, bad, schema = route_and_infer(spark.read.text(path), "value")
    loc = location or path
    hive_ddl = render_hive_ddl(schema, table, loc)
    spark_ddl = register_table(spark, schema, table, loc)
    return {
        "table": table,
        "good_count": good,
        "bad_count": bad,
        "hive_ddl": hive_ddl,
        "spark_ddl": spark_ddl,
    }


def ddl_per_group(
    df: DataFrame,
    json_col: str,
    table_col: str,
    location_fmt: str = "/warehouse/{table}",
) -> dict[str, str]:
    """One DDL per distinct routing value — the EL ``${destination.table.
    name}`` pattern distributed.

    Single pass: one ``groupBy(table).agg`` job (``infer_schema_by_key``)
    whose shuffle carries ≤ partitions × tables partial schemas. The
    earlier per-table ``filter`` loop re-scanned the input once per
    distinct table — O(T) scans vs this one.
    """
    schemas = infer_schema_by_key(df, json_col, table_col)
    # a NULL routing value cannot name a table — those rows are the
    # caller's quarantine problem (split_valid upstream), not a DDL group
    named = [(t, s) for t, s in schemas.items() if t is not None]
    return {
        t: render_hive_ddl(schema, t, location_fmt.format(table=t))
        for t, schema in sorted(named)
    }


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_col: str,
    n_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table.

    Bucketing pre-pays the shuffle once at write time: two tables
    bucketed by the same key into the same bucket count join with NO
    exchange on either side (SortMergeJoin reads co-located buckets), and
    aggregations on the bucket key skip their exchange too. This is the
    persistent counterpart of ``repartition`` — the co-partitioning
    survives across jobs, which is exactly what a 100 TB fact table
    joined every hour wants.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)
