"""SparkSession construction tuned for the engine's workloads.

Defaults encode the scale posture (SURVEY §4): AQE on (runtime coalesce +
skew-join handling), Arrow for the few Pandas-UDF paths, and shuffle
partitioning sized by the caller (tests use small counts; a 1000-executor
cluster would size ``spark.sql.shuffle.partitions`` to ~2-3× total cores
or rely on AQE coalescing from a high initial value).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

__all__ = ["get_session", "ship_package"]


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers.

    Schema inference runs entirely in the JVM and does not need it, but
    operators whose Python UDFs or ``mapInPandas`` closures reference
    package modules by name do, so every executor needs the package
    importable. On a real cluster this is the ``--py-files`` deployment
    story; doing it programmatically keeps ``spark-submit`` invocations
    flag-free. Idempotent per session.
    """
    if getattr(spark, "_engine_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(
        tempfile.mkdtemp(prefix="engine-pyfiles-"), "nifi_hive_schema_generator_bundle_spark"
    )
    archive = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                  os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(archive)
    spark._engine_pkg_shipped = True


def get_session(
    app_name: str = "nifi-hive-schema-generator-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    prefer_sort_merge_join: bool = False,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's tuned session.

    ``prefer_sort_merge_join`` gates the join-strategy posture (ADVICE
    r8: make the trade a first-class parameter, not a conf key to
    know). The default ``False`` lets the planner pick shuffled-hash
    joins when the per-partition build side fits (guide §3.1/§9) —
    sort-merge stays available, broadcast decisions are unaffected, and
    AQE skew handling applies to both kinds; measured r8 on a 12-query
    join-heavy subset at sf0.1: 39.0 → 30.3 s with every query ≤. The
    documented trade: a shuffled-hash build side that does not fit in
    execution memory OOMs instead of spilling — AQE coalescing bounds
    post-shuffle partition sizes, but deployments with extreme skew or
    tight executor memory should pass ``prefer_sort_merge_join=True``
    for the always-spillable sort-merge everywhere (per-join SHUFFLE_HASH
    / MERGE hints still win over either default)."""
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true" if prefer_sort_merge_join else "false",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Driver status-store hygiene (guide §5: the driver should do
        # almost no data work): even with the UI off, AppStatusListener
        # and SQLAppStatusListener retain per-job/stage/task rollups and
        # per-execution PLAN GRAPHS on the driver heap — at the library's
        # plan sizes (hundreds of operators for the dedup/θ-join paths)
        # the 1000-execution/100k-task defaults grow to GBs over a long
        # session and late queries pay the GC bill. Bounded here;
        # deployments that want deep UI history can raise via extra_conf.
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "20000")
        .config("spark.sql.ui.retainedExecutions", "40")
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
