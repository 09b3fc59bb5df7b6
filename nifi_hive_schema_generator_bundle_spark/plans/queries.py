"""The engine's headline query registry — the driver contract surface.

Each entry pairs an idiomatic-Spark DataFrame program with the ANSI-SQL
oracle DuckDB runs on the same parquet tables (CORRECTNESS gate, see
``__spark_entry__.py``). Column names/aliases match exactly on both sides;
the driver's comparison sorts columns by name and hashes values.

Float determinism rules used throughout (so Spark and DuckDB hash-match):

* money aggregates go through DECIMAL(18,2)/(38,4) arithmetic (exact,
  order-independent), then cast to double and round
* rank/top-k queries carry a unique-id tiebreak so result SETS are
  deterministic even under float ties
* timestamps are returned as 'yyyy-MM-dd' strings, never raw timestamps

Scale notes per query live in the docstrings — these are also the queries
``bench.py`` times at sf0.1.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "QUERIES",
    "ORACLE_SQL",
    "get_oracle_sql",
    "load_table",
    "register_query",
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}
# name -> zero-arg generator for oracles that are expensive to build
# (twin-trainer re-fits). Resolved once by get_oracle_sql() at gate time,
# NOT at import time (ADVICE r6: the registry import must stay cheap).
_LAZY_ORACLES: dict[str, Callable[[], str | None]] = {}


def get_oracle_sql() -> dict[str, str]:
    """The full oracle map, resolving lazily-registered generators
    exactly once. A generator returning None demotes its entry to the
    rows-only gate (missing fixture); a generator RAISING is a bug in
    the twin and propagates loudly."""
    for name in list(_LAZY_ORACLES):
        # call BEFORE popping: a raising generator must stay registered
        # so every later call re-raises instead of silently demoting the
        # entry to rows-only
        sql = _LAZY_ORACLES[name]()
        del _LAZY_ORACLES[name]
        if sql is not None:
            ORACLE_SQL[name] = sql
    return ORACLE_SQL


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. ``events.ts`` is TIMESTAMP(NANOS) parquet,
    which Spark's vectorized reader rejects; read it as a long
    (``nanosAsLong``) and rebuild the timestamp at micro precision
    (Spark's native resolution — DuckDB reads the same values as
    TIMESTAMP_NS, truncation below micros is irrelevant to both)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                # integer DIV, not `/`: double division rounds the low
                # microsecond digit; DuckDB (and parquet nanos->micros
                # readers generally) truncate.
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_query(
    name: str, oracle: str | Callable[[], str | None] | None = None
):
    def deco(fn):
        QUERIES[name] = fn
        if callable(oracle):
            _LAZY_ORACLES[name] = oracle
        elif oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


_DEC = "decimal(18,2)"


# ===========================================================================
# Reference core: schema inference + routing (SURVEY §2 O1-O17)
# ===========================================================================

@register_query(
    "infer_props_schema",
    oracle="""
    WITH kv AS (
        SELECT k AS column_name,
               CASE json_type(props, k)
                    WHEN 'ARRAY' THEN 'A' WHEN 'OBJECT' THEN 'O'
                    WHEN 'NULL' THEN NULL ELSE 'S' END AS cat
        FROM (SELECT unnest(json_keys(props)) AS k, props FROM events)
    )
    SELECT column_name,
           CASE WHEN count(DISTINCT cat) > 1 THEN 'STRING'
                WHEN max(cat) = 'A' THEN 'ARRAY<STRING>'
                WHEN max(cat) = 'O' THEN 'STRUCT'
                ELSE 'STRING' END AS hive_type
    FROM kv GROUP BY column_name ORDER BY column_name
    """,
)
def infer_props_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed reference-exact schema inference over the ``props`` JSON
    column (SURVEY §2 O5). The oracle replays the depth-1 lattice in SQL
    (sufficient for this table's flat objects; nesting is covered by the
    golden-DDL unit tests). Scale: one scan + ≤numPartitions partial rows."""
    from ..operators.infer import infer_schema_df
    from ..plans.render import render_compact_type

    events = load_table(spark, sf_dir, "events")
    schema = infer_schema_df(events, "props")
    rows = [(f.name, render_compact_type(f.dataType)) for f in schema.fields]
    return spark.createDataFrame(
        sorted(rows), "column_name string, hive_type string"
    )


@register_query(
    "route_json_validity",
    oracle="""
    SELECT
      CAST(sum(CASE WHEN json_valid(props)
                AND (ltrim(props) LIKE '{%' OR ltrim(props) LIKE '[%')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
      CAST(sum(CASE WHEN json_valid(props)
                AND (ltrim(props) LIKE '{%' OR ltrim(props) LIKE '[%')
               THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
    FROM events
    """,
)
def route_json_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record success/failure routing counts (SURVEY §2 O3/O14) as a
    single conditional aggregation — one scan, not one per route. The
    two-frame form (``split_valid``) is for callers that consume the
    routed rows, not their counts."""
    from ..operators.routing import is_valid_json

    events = load_table(spark, sf_dir, "events")
    valid = is_valid_json("props").cast("long")
    return events.agg(
        F.sum(valid).alias("n_valid"),
        F.sum(F.lit(1) - valid).alias("n_invalid"),
    )


@register_query(
    "route_json_validity_lax",
    oracle="""
    WITH c AS (SELECT props || chr(10) || '!garbage' AS content FROM events),
    v AS (
        SELECT
          CASE WHEN json_valid(split_part(content, chr(10), 1))
                AND (ltrim(split_part(content, chr(10), 1)) LIKE '{%'
                     OR ltrim(split_part(content, chr(10), 1)) LIKE '[%')
               THEN 1 ELSE 0 END AS lax_ok,
          CASE WHEN json_valid(split_part(content, chr(10), 2))
                AND (ltrim(split_part(content, chr(10), 2)) LIKE '{%'
                     OR ltrim(split_part(content, chr(10), 2)) LIKE '[%')
               THEN 1 ELSE 0 END AS line2_ok
        FROM c
    )
    SELECT
      CAST(sum(lax_ok) AS BIGINT) AS n_lax_valid,
      CAST(sum(line2_ok) AS BIGINT) AS n_line2_valid
    FROM v
    """,
)
def route_json_validity_lax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The org.json whole-content compat verdict
    (HiveSchemaGenerator.scala:77-95): every props document gets a
    trailing garbage line appended, making it a multi-line "FlowFile" the
    reference still calls valid (the first value parses) even though its
    second line is garbage — the quirk the per-record router improves on.
    n_lax_valid counts the reference's verdicts; n_line2_valid counts the
    garbage lines that would individually pass (none). The oracle renders
    the lax rule as a first-line check because DuckDB's json_valid is
    whole-string-strict, whereas Spark's try_parse_json (like org.json's
    tokener) already stops after the first complete value."""
    from ..operators.routing import is_valid_json, is_valid_json_lax

    events = load_table(spark, sf_dir, "events").select(
        F.concat(F.col("props"), F.lit("\n!garbage")).alias("content")
    )
    lines = events.select(
        "content", F.split_part("content", F.lit("\n"), F.lit(2)).alias("l2")
    )
    return lines.select(
        is_valid_json_lax("content").cast("long").alias("lax"),
        is_valid_json("l2").cast("long").alias("line2"),
    ).agg(
        F.sum("lax").alias("n_lax_valid"),
        F.sum("line2").alias("n_line2_valid"),
    )


# ===========================================================================
# Relational surface (extension categories from SURVEY §2)
# ===========================================================================

@register_query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice AS {_DEC}) * (1 - CAST(l_discount AS {_DEC}))) AS DOUBLE), 2) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy single-pass aggregation. Catalyst pushes
    the shipdate filter into the parquet scan and partial-aggregates
    map-side; shuffle carries only 4-ish groups × partials."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias(
                "sum_base_price"
            ),
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
                .cast("double"),
                2,
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register_query(
    "q3_top_orders",
    oracle=f"""
    SELECT l.l_orderkey AS o_orderkey,
           round(CAST(sum(CAST(l.l_extendedprice AS {_DEC}) * (1 - CAST(l.l_discount AS {_DEC}))) AS DOUBLE), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dims join fact + top-k. ``customer`` is
    broadcast (small side); lineitem→orders joins on the shuffle key both
    sides already need. Exact decimal revenue makes the DESC order (and
    the LIMIT cut) engine-independent; orderkey breaks residual ties."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(li.l_orderkey.alias("o_orderkey"), o.o_orderdate)
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
                .cast("double"),
                2,
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register_query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n.n_name AS nation,
           round(CAST(sum(CAST(l.l_extendedprice AS {_DEC}) * (1 - CAST(l.l_discount AS {_DEC}))) AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. All dimension tables (region, nation,
    supplier, customer) broadcast — the only shuffle left is
    lineitem⋈orders on orderkey. At 100 TB that is the minimal-shuffle
    plan for this topology."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
                .cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("nation"))
    )


@register_query(
    "q6_revenue_delta",
    oracle=f"""
    SELECT round(CAST(sum(CAST(l_extendedprice AS {_DEC}) * CAST(l_discount AS {_DEC})) AS DOUBLE), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+scalar-agg — the predicate-pushdown
    showcase (all four predicates reach the parquet reader)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * dec("l_discount")).cast("double"), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register_query(
    "customers_with_big_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    ORDER BY c_custkey
    """,
)
def customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS) demo — left_semi keeps the build side tiny."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register_query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1998-04-01')
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS) over a filtered build side: dormant
    customers — no order since 1998-04-01 (the synthetic orders table
    gives EVERY customer some order, so the unfiltered anti-join is
    empty at every SF and its r1-r7 driver hashes compared empty sets;
    the date filter makes the boundary nonempty at every SF — the
    zero-row audit in tests/test_oracle_nonempty.py pins this). The
    filter lands on the build side BEFORE the anti-join, so the probe
    streams against a smaller hash table."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-04-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register_query(
    "events_topk_per_user",
    oracle="""
    SELECT user_id, event_id, rnk FROM (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rnk
        FROM events)
    WHERE rnk <= 3 ORDER BY user_id, rnk
    """,
)
def events_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function top-k per key. event_id tiebreak ⇒ deterministic.
    At scale: single hash-partition-by-user shuffle; AQE handles skewed
    users; no driver involvement."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "rnk")
        .orderBy("user_id", "rnk")
    )


@register_query(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM flagged GROUP BY user_id ORDER BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min timeout): lag + conditional
    flag + per-user aggregation. One shuffle on user_id covers both the
    window and the groupBy (Catalyst reuses the partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev) > 1800),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(
            F.sum("new_s").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register_query(
    "event_type_daily_counts",
    oracle="""
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY event_type, day ORDER BY event_type, day
    """,
)
def event_type_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped batch rollup (the tumbling-window agg the streaming
    module runs continuously; here as the batch equivalent)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast(_DEC)).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("event_type", "day")
    )


@register_query(
    "sources_langs_union",
    oracle="""
    SELECT DISTINCT source AS val FROM documents
    UNION
    SELECT DISTINCT lang AS val FROM documents
    ORDER BY val
    """,
)
def sources_langs_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation demo (UNION distinct)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.col("source").alias("val"))
        .union(d.select(F.col("lang").alias("val")))
        .distinct()
        .orderBy("val")
    )


# ===========================================================================
# LLM-data-pipeline operators (north star; BASELINE.json)
# ===========================================================================

@register_query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp_md5
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (exact-dup key) — narrow, shuffle-free."""
    from ..operators.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    return fingerprint(d).select("doc_id", "fp_md5").orderBy("doc_id")


@register_query(
    "exact_dedup_docs",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
    ORDER BY doc_id
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping min doc_id per normalized text."""
    from ..operators.dedup import exact_dedup

    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d).orderBy("doc_id")


@register_query(
    "doc_bloom_incremental",
    oracle="""
    WITH old AS (
        SELECT DISTINCT md5(text) AS key FROM documents WHERE doc_id % 4 <> 0
    ), batch AS (
        SELECT doc_id, md5(text) AS key FROM documents
    )
    SELECT b.doc_id, b.key
    FROM batch b ANTI JOIN old o ON b.key = o.key
    ORDER BY b.doc_id
    """,
)
def doc_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup (functions/bloom): an
    existing corpus (doc_id % 4 <> 0) summarizes its content keys into
    a broadcast Bloom filter; an incoming batch (here: the full table)
    probes it with a per-row JVM fold, and only the "maybe" sliver pays
    the exact anti-join shuffle — rows the filter rejects are CERTAINLY
    new (no false negatives) and bypass the join on the narrow path.
    Output is exactly the anti-join, so the oracle replays it as plain
    SQL with no hash dependence; the filter only routes rows between
    the cheap and expensive paths (equivalence + FPR bound are pinned
    in tests/test_bloom.py)."""
    from ..functions.bloom import bloom_prefiltered_anti_join

    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 4 != 0).select(
        F.md5(F.col("text")).alias("key")
    )
    batch = d.select("doc_id", F.md5(F.col("text")).alias("key"))
    return bloom_prefiltered_anti_join(batch, old, "key").orderBy("doc_id")


def _cross_batch_survivor_sql(
    n_batches: int, thr: float, members: str
) -> tuple[str, str]:
    """Shared CTE generator for the incremental-dedup replay oracles:
    given an ``est`` CTE of (id_a, id_b, batch_a, batch_b, e) banded
    pairs and a ``members`` CTE of (doc_id, batch), emits per-batch
    within-batch connected-components keep-min blocks plus the
    cross-batch survivor chain (a keeper drops on any est ≥ thr edge
    to a SURVIVING earlier-batch member). Returns (blocks, final).

    Every non-recursive CTE is ``MATERIALIZED`` (r9, VERDICT r8 #1 —
    driver-verify wall clock): DuckDB inlines a CTE once PER REFERENCE,
    and this chain references each e/kept/surv block several times from
    the next block, so inlining multiplied the whole upstream pipeline
    3^batches-fold — the un-materialized 4-batch replay oracle spent
    ~90 s in DuckDB's optimizer alone (measured; 0.1-1 s materialized,
    identical results — it is a hint, not a semantic change)."""
    blocks = []
    for b in range(n_batches):
        blocks.append(f""", e{b} AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM est
        WHERE batch_a = {b} AND batch_b = {b} AND e >= {thr}
        UNION SELECT id_b, id_a FROM est
        WHERE batch_a = {b} AND batch_b = {b} AND e >= {thr}
    ), r{b}(n, m) AS (
        SELECT a, b FROM e{b}
        UNION SELECT r.n, e.b FROM r{b} r JOIN e{b} e ON r.m = e.a
    ), kept{b} AS MATERIALIZED (
        SELECT doc_id FROM {members} WHERE batch = {b} AND doc_id NOT IN
            (SELECT n FROM r{b} GROUP BY n HAVING min(m) < n)
    )""")
    surv = [
        ", surv0 AS MATERIALIZED (\n        SELECT doc_id FROM kept0\n    )"
    ]
    for b in range(1, n_batches):
        earlier = " OR ".join(
            f"id_b IN (SELECT doc_id FROM surv{j})" for j in range(b)
        )
        earlier_rev = " OR ".join(
            f"id_a IN (SELECT doc_id FROM surv{j})" for j in range(b)
        )
        surv.append(f""", surv{b} AS MATERIALIZED (
        SELECT doc_id FROM kept{b} WHERE doc_id NOT IN (
            SELECT CASE WHEN batch_a = {b} THEN id_a ELSE id_b END
            FROM est WHERE e >= {thr} AND (
                (batch_a = {b} AND batch_b < {b}
                 AND id_a IN (SELECT doc_id FROM kept{b})
                 AND ({earlier}))
             OR (batch_a < {b} AND batch_b = {b}
                 AND id_b IN (SELECT doc_id FROM kept{b})
                 AND ({earlier_rev}))))
    )""")
    final = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS ingest_batch FROM surv{b}"
        if b == 0
        else f"SELECT doc_id, {b} FROM surv{b}"
        for b in range(n_batches)
    )
    return "".join(blocks) + "".join(surv), final


def _incnd_oracle_sql(n_batches: int, thr: float = 0.5) -> str:
    """Generalized DuckDB twin of the incremental near-dedup replay for
    any batch count (the 3-batch literal above, parameterized): per-batch
    within-batch LSH dedup via recursive-CTE connected components +
    keep-min, then each batch's keepers drop on any est ≥ thr edge to a
    SURVIVING earlier-batch doc. Store compaction on the engine side must
    be invisible here — history is a set, and folding batch partitions
    renumbers ids without changing membership."""
    ctes, final = _cross_batch_survivor_sql(n_batches, thr, "sigs")
    return rf"""
    WITH RECURSIVE toks AS MATERIALIZED (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), sh AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' ')))
               END AS shingles
        FROM toks
    ), mh AS MATERIALIZED (
        SELECT doc_id, r.i AS i,
               min(CAST(concat('0x', substring(md5(u.sh || ':' || CAST(r.i AS VARCHAR)), 1, 8)) AS BIGINT)) AS h
        FROM sh, LATERAL unnest(shingles) AS u(sh)
        CROSS JOIN (SELECT unnest(range(0, 16)) AS i) r
        GROUP BY doc_id, r.i
    ), sigs AS MATERIALIZED (
        SELECT doc_id, CAST(doc_id % {n_batches} AS INT) AS batch,
               list(h ORDER BY i) AS sig
        FROM mh GROUP BY doc_id
    ), bandx AS MATERIALIZED (
        SELECT doc_id, batch, b.b AS band,
               array_to_string(sig[CAST(b.b*4+1 AS INT):CAST(b.b*4+4 AS INT)], ':') AS bucket
        FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ), est AS MATERIALIZED (
        SELECT c.id_a, c.id_b, c.batch_a, c.batch_b,
               len(list_filter(
                   list_transform(generate_series(1, 16),
                       i -> CASE WHEN sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)] THEN 1 ELSE 0 END),
                   v -> v = 1)) / 16.0 AS e
        FROM (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                   x.batch AS batch_a, y.batch AS batch_b
            FROM bandx x JOIN bandx y
              ON x.band = y.band AND x.bucket = y.bucket
             AND x.doc_id < y.doc_id
        ) c
        JOIN sigs sa ON sa.doc_id = c.id_a
        JOIN sigs sb ON sb.doc_id = c.id_b
    ){ctes}
    {final}
    ORDER BY doc_id
    """



@register_query(
    "doc_incremental_near_dedup",
    # r9: the inline 3-batch literal was the un-parameterized twin of
    # _incnd_oracle_sql(3) (equivalent modulo CTE block order and a
    # batch_b=0 vs batch_b<1 spelling); using the generator gives the
    # MATERIALIZED CTE hints the 4-batch sibling documents — ~15 s of
    # DuckDB optimizer time per gate run gone, identical results.
    oracle=_incnd_oracle_sql(3),
)
def doc_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-run NEAR-dedup, batch-replayed (streaming/
    incremental_near_dedup.near_dedup_batch_against_store — the exact
    foreachBatch body run_incremental_near_dedup streams through): the
    corpus arrives as 3 batches (doc_id % 3); each batch near-dedups
    within itself (portable MinHash-LSH candidates → CC keep-min), then
    checks its survivors' band keys against the persistent band store
    of strictly-earlier batches and drops docs whose signature agreement
    with ANY historical survivor reaches the threshold; true survivors
    append to the corpus and both stores (dynamic partition overwrite —
    the replay-safe exactly-once discipline). hash_fn='md5' + 16 perms ×
    4 bands makes every stage SQL-portable, so the oracle replays the
    full three-batch history — the same promotion the exact-fingerprint
    sibling got via doc_bloom_incremental. Returns (doc_id,
    ingest_batch) for every document the whole run kept."""
    import tempfile

    from ..streaming.incremental_near_dedup import (
        near_dedup_batch_against_store,
    )

    d = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="incnd_gate_")
    for b in range(3):
        near_dedup_batch_against_store(
            d.filter(F.col("doc_id") % 3 == b),
            b,
            store_dir=f"{work}/store",
            out_dir=f"{work}/corpus",
            threshold=0.5,
            num_perm=16,
            bands=4,
            max_bucket=10**9,
            hash_fn="md5",
        )
    return (
        spark.read.parquet(f"{work}/corpus")
        .select(
            "doc_id", F.col("ingest_batch").cast("int").alias("ingest_batch")
        )
        .orderBy("doc_id")
    )


@register_query(
    "doc_incremental_near_dedup_compacted",
    oracle=_incnd_oracle_sql(4),
)
def doc_incremental_near_dedup_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental near-dedup replay with a STORE COMPACTION
    interleaved mid-run (VERDICT r6 #6): 4 batches (doc_id % 4); after
    batch 2 lands, ``compact_near_dedup_store`` folds both stores'
    pre-max partitions into one via the crash-safe ``durable_fold``
    commit-marker protocol, and batch 3 then reads its history entirely
    from the folded partitions. The oracle is the same whole-history
    replay with NO notion of compaction — hash-green means folding is
    invisible to candidate generation and signature verification, the
    merge==direct equality pattern the four sketch stores already
    carry (``lineitem_ddsketch_incremental``)."""
    import tempfile

    from ..streaming.incremental_near_dedup import (
        compact_near_dedup_store,
        near_dedup_batch_against_store,
    )

    d = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="incndc_gate_")
    for b in range(4):
        if b == 3:
            # fold batches {0,1} into partition 1; batch 3's history
            # join now reads partitions {1 (folded), 2} only
            n_bands, n_sigs = compact_near_dedup_store(
                spark, f"{work}/store"
            )
            assert n_bands > 0 and n_sigs > 0, "compaction must fold"
        near_dedup_batch_against_store(
            d.filter(F.col("doc_id") % 4 == b),
            b,
            store_dir=f"{work}/store",
            out_dir=f"{work}/corpus",
            threshold=0.5,
            num_perm=16,
            bands=4,
            max_bucket=10**9,
            hash_fn="md5",
        )
    return (
        spark.read.parquet(f"{work}/corpus")
        .select(
            "doc_id", F.col("ingest_batch").cast("int").alias("ingest_batch")
        )
        .orderBy("doc_id")
    )


def _inc_embdedup_oracle_sql(n_batches: int = 4, thr: float = 0.3) -> str:
    """DuckDB twin of the incremental EMBEDDING dedup replay: the
    Rademacher planes are data-independent md5 literals (the
    `_bitext_ann_oracle` construction), so the SQL replays band-bucket
    candidate generation, exact quantized-cosine verification, the
    within-batch connected-components keep-min, and the cross-batch
    survivor chain — bit-for-bit, with store compaction on the engine
    side necessarily invisible (set stores, renumbered batch ids)."""
    from ..operators.bitext import rademacher_planes

    planes = rademacher_planes(8, 64)

    def bit(p: int) -> str:
        lst = "[" + ",".join(str(x) for x in planes[p]) + "]"
        return (
            "(CASE WHEN list_sum(list_transform(generate_series(1, 64),"
            f" i -> ({lst})[i] * qv[i])) >= 0 THEN 1 ELSE 0 END)"
        )

    b0 = " + ".join(f"{2**j} * {bit(j)}" for j in range(4))
    b1 = " + ".join(f"{2**j} * {bit(4 + j)}" for j in range(4))
    ctes, final = _cross_batch_survivor_sql(n_batches, thr, "members")
    return f"""
    WITH RECURSIVE vecs AS MATERIALIZED (
        SELECT vec_id, CAST(vec_id % {n_batches} AS INT) AS batch,
               embedding::DOUBLE[] AS v,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(floor(x * 1e6) AS BIGINT)) AS qv,
               list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(floor((CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE)) * 1e8) AS BIGINT)))
                   AS qn
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64
    ), members AS MATERIALIZED (
        SELECT vec_id AS doc_id, batch FROM vecs
    ), bandx AS MATERIALIZED (
        SELECT vec_id AS doc_id, batch, 0 AS band, {b0} AS bucket FROM vecs
        UNION ALL
        SELECT vec_id, batch, 1, {b1} FROM vecs
    ), est AS MATERIALIZED (
        SELECT c.id_a, c.id_b, c.batch_a, c.batch_b,
               CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(floor((va.v[i] * vb.v[i]) * 1e8) AS BIGINT)))
                   AS DOUBLE)
               / sqrt(CAST(va.qn AS DOUBLE) * CAST(vb.qn AS DOUBLE)) AS e
        FROM (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                   x.batch AS batch_a, y.batch AS batch_b
            FROM bandx x JOIN bandx y
              ON x.band = y.band AND x.bucket = y.bucket
             AND x.doc_id < y.doc_id
        ) c
        JOIN vecs va ON va.vec_id = c.id_a
        JOIN vecs vb ON vb.vec_id = c.id_b
    ){ctes}
    SELECT doc_id AS vec_id, ingest_batch FROM (
    {final}
    ) ORDER BY vec_id
    """


@register_query(
    "embedding_incremental_dedup",
    oracle=_inc_embdedup_oracle_sql(),
)
def embedding_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-run EMBEDDING near-dedup, batch-replayed
    (streaming/incremental_embedding_dedup — NEW round 7): vectors
    arrive as 4 batches (vec_id % 4); each batch near-dedups within
    itself (pinned-Rademacher cosine-LSH candidates → exact quantized
    cosine ≥ θ → CC keep-min), then checks its survivors' band keys
    against the persistent band store of strictly-earlier batches and
    drops vectors whose exact cosine with ANY stored survivor reaches
    θ; survivors append to the corpus and both stores. A mid-run
    compaction folds both stores through the durable_fold commit-marker
    protocol before the final batch ingests — the oracle has no notion
    of compaction, so hash-green certifies the fold is invisible. This
    is streaming semantic dedup without a per-run k-means fit (whose
    centroids would drift across runs): pinned planes keep history
    band keys valid forever. θ = 0.3 on the random synthetic
    embeddings yields a real mix of within-batch and cross-batch
    drops. Returns (vec_id, ingest_batch) for every vector kept."""
    import tempfile

    from ..streaming.incremental_embedding_dedup import (
        compact_embedding_dedup_store,
        embedding_dedup_batch_against_store,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    work = tempfile.mkdtemp(prefix="incemb_gate_")
    for b in range(4):
        if b == 3:
            # fold batches {0,1} into partition 1; batch 3's history
            # reads come entirely from the folded partitions
            n_bands, n_vecs = compact_embedding_dedup_store(
                spark, f"{work}/store"
            )
            assert n_bands > 0 and n_vecs > 0, "compaction must fold"
        embedding_dedup_batch_against_store(
            emb.filter(F.col("vec_id") % 4 == b),
            b,
            store_dir=f"{work}/store",
            out_dir=f"{work}/corpus",
            threshold=0.3,
            n_planes=8,
            band_bits=4,
            dim=64,
            max_bucket=10**9,
        )
    return (
        spark.read.parquet(f"{work}/corpus")
        .select(
            "vec_id", F.col("ingest_batch").cast("int").alias("ingest_batch")
        )
        .orderBy("vec_id")
    )


@register_query(
    "doc_paragraph_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    paras AS (
        SELECT doc_id, CAST(g.i AS INT) AS idx,
               array_to_string(t[(CAST(g.i AS INT)*10+1):(CAST(g.i AS INT)*10+10)], ' ') AS para
        FROM toks
        CROSS JOIN LATERAL unnest(range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS g(i)
    ),
    ranked AS (
        SELECT doc_id, idx, para,
               row_number() OVER (
                   PARTITION BY md5(regexp_replace(trim(lower(para)), '\\s+', ' ', 'g'))
                   ORDER BY doc_id, idx) AS rn
        FROM paras WHERE trim(para) <> ''
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
                               chr(10) || chr(10) ORDER BY idx), '') AS text,
           count(*) AS n_paras,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level (inner-document) exact dedup — the C4/RefinedWeb
    boilerplate pass (operators/dedup.paragraph_dedup). The synthetic
    corpus has no newlines, so the query first synthesizes paragraph
    structure JVM-side (10-token chunks joined by blank lines — the
    token array is materialized first, dodging the O(len²) HOF-inlining
    trap), then removes every corpus-wide repeated paragraph except its
    first (doc_id, position) occurrence and reassembles the survivors.
    The winner election shuffles 16-byte fingerprints only — paragraph
    bodies never enter that exchange."""
    from ..operators.dedup import paragraph_dedup

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    para_text = F.concat_ws(
        "\n\n",
        F.transform(
            F.sequence(
                F.lit(0), F.ceil(F.size("t") / F.lit(10.0)).cast("int") - 1
            ),
            lambda i: F.concat_ws(" ", F.slice(F.col("t"), i * 10 + 1, 10)),
        ),
    )
    docs = toks.select("doc_id", para_text.alias("text"))
    return paragraph_dedup(docs, sep="\n\n").orderBy("doc_id")


@register_query(
    "doc_bpe_token_count",
    oracle="""
    WITH words AS (
        SELECT doc_id, w
        FROM documents,
        LATERAL unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS t(w)
    )
    SELECT doc_id,
           count(*) AS n_pretokens,
           CAST(sum(CASE WHEN w IN ('agg','batch','column','customer','filter',
                                    'group','hash','join','merge','query','small',
                                    'spark','the','value','vector','window')
                         THEN 1 ELSE length(w) END) AS BIGINT) AS n_bpe_tokens
    FROM words GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real greedy-merge BPE tokenization (functions/bpe) under the
    bundled fixture vocabulary — one Arrow-batched mapInPandas stage,
    merge table on a SparkContext broadcast. The fixture's prefix
    chains fully merge 16 corpus words and provably leave every other
    corpus word merge-free (unit-pinned), so DuckDB replays the counts
    exactly: 1 token per vocab word, char count otherwise. Partial-merge
    behavior (the part SQL can't express) is pinned by planted unit
    tests on the same encoder."""
    import importlib.resources as res

    from ..functions.bpe import bpe_token_stats, load_merges

    with res.as_file(
        res.files("nifi_hive_schema_generator_bundle_spark").joinpath(
            "data/bpe_merges_fixture.txt"
        )
    ) as p:
        merges = load_merges(str(p))  # driver-side; ranks then broadcast
    d = load_table(spark, sf_dir, "documents")
    return bpe_token_stats(d, merges).orderBy("doc_id")


@register_query("doc_bpe_train")
def doc_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary TRAINING (functions/bpe.bpe_train —
    Sennrich 2016): the corpus collapses once to the (pretoken, freq)
    vocab table, then each round is a vocab-sized pair-stats aggregate
    + 1-row argmax + a JVM merge fold. Returns the learned merge table
    (rank, left, right, pair_count). Rows-only by declared design —
    the loop is iterative with a per-round data-dependent argmax, not
    SQL-expressible; correctness is pinned by a differential unit test
    against the pure-Python reference trainer (tests/test_bpe.py) and
    the deterministic tie-break makes every run identical."""
    from ..functions.bpe import bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=12, min_freq=2)
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count bigint",
    )


_UNIGRAM_FIT_CACHE: dict[str, list] = {}


def _unigram_twin_fit() -> list | None:
    """Gate-time pure-Python re-fit of the gate entries' vocabulary,
    memoized in-process AND to disk (keyed by fixture path + mtime +
    size) so the two oracle generators (fertility + vocab_train) train
    once per fixture, not once per session. Only a MISSING fixture
    demotes the entries to rows-only; a bug in the twin trainer raises
    (ADVICE r6: don't swallow trainer bugs into silent rows-only).

    The disk memo lives in a USER-SCOPED cache dir ($XDG_CACHE_HOME or
    ~/.cache), not the shared system tempdir, and the payload embeds
    its own cache key which is verified on load — a stale, truncated,
    or foreign-user file can therefore never silently substitute the
    oracle vocabulary (ADVICE r7 #4); any such file just misses and
    the twin re-fits."""
    import json

    path = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"),
        os.environ.get("ORACLE_SF", "sf0.01"),
        "documents.parquet",
    )
    if path in _UNIGRAM_FIT_CACHE:
        return _UNIGRAM_FIT_CACHE[path]
    try:
        st = os.stat(path)
    except (FileNotFoundError, OSError):
        _UNIGRAM_FIT_CACHE[path] = None
        return None
    import hashlib as _hl

    key = _hl.md5(
        f"unigram-twin-v1:{path}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()
    cache_dir = os.path.join(
        os.environ.get("XDG_CACHE_HOME")
        or os.path.join(os.path.expanduser("~"), ".cache"),
        "spark_graft",
    )
    cache_file = os.path.join(cache_dir, f"unigram_{key}.json")
    try:
        with open(cache_file) as f:
            payload = json.load(f)
        if isinstance(payload, dict) and payload.get("key") == key:
            vocab = [tuple(row) for row in payload["vocab"]]
            _UNIGRAM_FIT_CACHE[path] = vocab
            return vocab
        # key mismatch / legacy format → distrust the file, re-fit
    except (FileNotFoundError, OSError, ValueError, KeyError, TypeError):
        pass  # absent or unreadable cache → re-fit below
    import pyarrow.parquet as pq

    from ..functions.unigram_lm import (
        py_word_freqs,
        train_unigram_vocab_from_freqs,
    )

    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    vocab = train_unigram_vocab_from_freqs(
        py_word_freqs(texts), vocab_size=120, em_iters=1, max_piece_len=6
    )
    try:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = cache_file + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"key": key, "vocab": [list(row) for row in vocab]}, f)
        os.replace(tmp, cache_file)
    except OSError:
        pass  # read-only cache dir: skip the disk memo, keep the result
    _UNIGRAM_FIT_CACHE[path] = vocab
    return vocab


def _unigram_vocab_oracle() -> str | None:
    """DuckDB twin for ``doc_unigram_vocab_train``: the trained
    inventory, re-fit at import WITHOUT Spark by the pure-Python twin
    trainer (same E-step kernel, same EM schedule — see
    ``train_unigram_vocab_from_freqs``) and pinned as a VALUES table.
    The SQL does no computation by design: the meaningful claim this
    entry hash-verifies is that the DISTRIBUTED trainer (Arrow E-step
    partials summed across an arbitrary partitioning) lands bit-for-bit
    on the single-process replay — the cross-partitioning determinism
    contract, now checked by the driver gate rather than only the local
    property test."""
    vocab = _unigram_twin_fit()
    if not vocab:
        return None
    rows = ",\n        ".join(
        "('" + p.replace("'", "''") + "', " + repr(round(lp, 6)) + ")"
        for p, lp in vocab
    )
    return f"""
    SELECT piece, CAST(logprob AS DOUBLE) AS logprob FROM (VALUES
        {rows}
    ) t(piece, logprob)
    """


@register_query("doc_unigram_vocab_train", oracle=_unigram_vocab_oracle)
def doc_unigram_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed unigram-LM tokenizer TRAINING (functions/unigram_lm.
    train_unigram_vocab — Kudo 2018, the SentencePiece default model):
    corpus → (word, freq) table once, then EM rounds where the E-step is
    one Arrow forward–backward stage emitting exact-integer-quantized
    expected-count partials (bit-reproducible under any partitioning)
    and pruning keeps the highest-expected-count pieces with all single
    characters protected. Promoted from rows-only in round 6: lattice EM
    stays non-SQL, but the import-time pure-Python twin re-fit pins the
    expected inventory as literals (``_unigram_vocab_oracle``), so the
    driver gate now hash-verifies distributed == independent replay.
    Hand-checked Viterbi lattices and the cross-partitioning determinism
    property remain in tests/test_unigram_lm.py. Returns the learned
    (piece, logprob) inventory."""
    from ..functions.unigram_lm import train_unigram_vocab

    d = load_table(spark, sf_dir, "documents")
    vocab = train_unigram_vocab(
        d, vocab_size=120, em_iters=1, max_piece_len=6
    )
    return spark.createDataFrame(
        [(p, round(lp, 6)) for p, lp in vocab], "piece string, logprob double"
    )




def _unigram_fertility_oracle() -> str | None:
    """DuckDB twin for ``doc_unigram_fertility`` — generated at import
    (the ``_pca_project_oracle`` promotion pattern, VERDICT r5 #5).

    The trained vocabulary at a given corpus is fully deterministic
    (per-word integer-quantized expected counts, shared EM schedule), so
    it is re-fit here WITHOUT Spark via
    ``train_unigram_vocab_from_freqs`` — the same E-step kernel and
    train loop the engine runs, over pyarrow-read texts — and pinned
    into the SQL as a piece → logprob MAP literal. Viterbi segmentation
    then becomes a recursive-CTE dynamic program over every distinct
    word: the DP state carries the last KMAX ``best``/``n_pieces``
    values as lists, each step arg-maxes the ≤KMAX candidate splits via
    lexicographic struct sort on (score DESC, k DESC) — exactly the
    engine's strict-improvement / longest-piece tie rule (smaller split
    point s ⇔ larger piece length k). Scores are chains of float64
    additions over pinned repr()-round-tripped literals, so both
    engines follow identical argmax paths bit-for-bit. Unseen single
    chars take the pinned penalty floor; unseen multi-char pieces score
    −∞ (never win). KMAX is the longest trained piece — candidates
    above it are vocabulary misses by construction on both sides."""
    from ..functions.unigram_lm import _UNSEEN_PENALTY

    vocab = _unigram_twin_fit()
    if not vocab:
        return None
    kmax = max(len(p) for p, _ in vocab)
    pen = min(lp for _, lp in vocab) - _UNSEEN_PENALTY
    pieces = ", ".join("'" + p.replace("'", "''") + "'" for p, _ in vocab)
    probs = ", ".join(
        ("CAST(" + repr(lp) + " AS DOUBLE)") if i == 0 else repr(lp)
        for i, (_, lp) in enumerate(vocab)
    )
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
    return f"""
    WITH RECURSIVE vocab AS (
        SELECT map([{pieces}], [{probs}]) AS m,
               CAST({pen!r} AS DOUBLE) AS pen
    ), doc_words AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '{pat}')) AS w
        FROM documents
    ), words AS (
        SELECT DISTINCT w, length(w) AS l FROM doc_words
    ), dp AS (
        SELECT w, l, 0 AS e, [CAST(0.0 AS DOUBLE)] AS tb,
               [CAST(0 AS BIGINT)] AS tn, m, pen
        FROM words, vocab
        UNION ALL
        SELECT w, l, e + 1,
               (tb || [win.score])[greatest(1, len(tb) - {kmax - 2}):],
               (tn || [win.np])[greatest(1, len(tn) - {kmax - 2}):],
               m, pen
        FROM (
            SELECT w, l, e, tb, tn, m, pen,
                   list_reverse_sort(list_transform(
                       generate_series(1, least({kmax}, e + 1)), k ->
                       struct_pack(
                           score := tb[len(tb) - k + 1] + coalesce(
                               (m[w[e - k + 2 : e + 1]])[1],
                               CASE WHEN k = 1 THEN pen
                                    ELSE CAST('-infinity' AS DOUBLE) END),
                           k := k,
                           np := tn[len(tn) - k + 1] + 1)))[1] AS win
            FROM dp WHERE e < l
        )
    ), seg AS (
        SELECT w, tn[len(tn)] AS np FROM dp WHERE e = l
    ), per_doc AS (
        SELECT dw.doc_id, CAST(sum(s.np) AS INT) AS n_pieces,
               CAST(count(*) AS INT) AS n_words
        FROM doc_words dw JOIN seg s USING (w) GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_pieces, 0) AS n_pieces,
           coalesce(p.n_words, 0) AS n_words,
           CASE WHEN coalesce(p.n_words, 0) > 0
                THEN round(CAST(p.n_pieces AS DOUBLE) / p.n_words, 6)
           END AS fertility
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """


@register_query("doc_unigram_fertility", oracle=_unigram_fertility_oracle)
def doc_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenization fertility (functions/unigram_lm.
    unigram_token_stats): train on the corpus, Viterbi-segment every
    document in one memoized Arrow stage, report pieces-per-word — the
    quality readout that decides a tokenizer ships. Promoted from
    rows-only to oracle-backed (VERDICT r5 #5): the vocabulary is
    re-fit at import by the pure-Python twin trainer (bit-identical by
    shared-kernel construction, see ``train_unigram_vocab_from_freqs``)
    and pinned as literals; DuckDB replays Viterbi itself as a
    recursive-CTE DP (``_unigram_fertility_oracle``). The reassembly
    invariant (pieces concat back to the words) and fertility bounds
    remain unit-pinned in tests/test_unigram_lm.py."""
    from ..functions.unigram_lm import (
        train_unigram_vocab,
        unigram_token_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    vocab = train_unigram_vocab(
        d, vocab_size=120, em_iters=1, max_piece_len=6
    )
    return (
        unigram_token_stats(d, vocab)
        .select(
            "doc_id",
            "n_pieces",
            "n_words",
            F.round("fertility", 6).alias("fertility"),
        )
        .orderBy("doc_id")
    )


@register_query(
    "token_stats_docs",
    oracle="""
    SELECT doc_id,
           length(text) AS char_count,
           CAST(len(list_filter(string_split_regex(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '), x -> x <> '')) AS INT) AS ws_token_count,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS INT) AS bpe_token_count
    FROM documents ORDER BY doc_id
    """,
)
def token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex)."""
    from ..operators.text import token_stats

    d = load_table(spark, sf_dir, "documents")
    return token_stats(d).select(
        "doc_id", "char_count", "ws_token_count", "bpe_token_count"
    ).orderBy("doc_id")


@register_query(
    "language_id_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS t
      FROM documents
    ), hits AS (
      SELECT doc_id,
        CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','zu'], x))) AS BIGINT) AS h_de,
        CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','that','for','it'], x))) AS BIGINT) AS h_en,
        CAST(len(list_filter(t, x -> list_contains(['el','la','los','las','es','un','una','para','con','que'], x))) AS BIGINT) AS h_es,
        CAST(len(list_filter(t, x -> list_contains(['le','la','les','et','est','un','une','pour','dans','que'], x))) AS BIGINT) AS h_fr
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM hits ORDER BY doc_id
    """,
)
def language_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID; tie-break = language-code sort order, encoded
    identically in the oracle's CASE ladder."""
    from ..operators.text import language_id

    d = load_table(spark, sf_dir, "documents")
    return language_id(d).select("doc_id", "pred_lang").orderBy("doc_id")


@register_query(
    "quality_scores_docs",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS toks,
             length(text) AS n_chars,
             length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS punct
      FROM documents
    )
    SELECT doc_id,
      round(least(1.0, n_chars / 200.0), 6) AS len_score,
      round(CASE WHEN n_chars > 0 THEN 1.0 - punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END, 6) AS punct_score,
      round(CASE WHEN len(toks) > 0 THEN least(1.0,
            (CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','for','it'], x))) AS DOUBLE) / len(toks)) / 0.10)
            ELSE 0.0 END, 6) AS stop_score,
      round(CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END, 6) AS rep_score
    FROM t ORDER BY doc_id
    """,
)
def quality_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality heuristic components."""
    from ..operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    return quality_score(d).select(
        "doc_id", "len_score", "punct_score", "stop_score", "rep_score"
    ).orderBy("doc_id")


@register_query(
    "ann_cosine_topk",
    oracle="""
    SELECT q.vec_id AS query_id, c.vec_id, rnk FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS rnk
      FROM embeddings c, embeddings q WHERE q.vec_id < 5
    ) s JOIN embeddings q ON q.vec_id = s.qid JOIN embeddings c ON c.vec_id = s.cid
    WHERE rnk <= 10 ORDER BY query_id, rnk
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (the exact ANN
    baseline; the LSH variant is the rows-only ``lsh_ann_topk``). Returns
    integer ranks only — cosine stays internal so float formatting can't
    perturb the hash; tiebreak on vec_id pins the SET."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        brute_force_topk(emb, q, k=10)
        .select("query_id", "vec_id", F.col("rank").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


@register_query(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           count(*) AS n,
           round(avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))), 4) AS avg_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregation: per-label L2-norm average."""
    from ..functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", l2_norm("embedding").alias("norm"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("norm"), 4).alias("avg_norm"))
        .orderBy("label")
    )


@register_query(
    "embedding_random_projection",
    oracle="""
    SELECT vec_id, j,
           round(list_sum(list_transform(embedding::DOUBLE[], (x, i) ->
                 x * CASE WHEN substring(md5('rp:' || CAST(j AS VARCHAR)
                                        || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)
                          BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END))
                 * (1.0 / sqrt(8)), 6) AS proj
    FROM embeddings
    CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g
    WHERE vec_id < 40
    ORDER BY vec_id, j
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection
    (functions/vectors.random_projection): 64-dim embeddings down to 8
    deterministic Rademacher components — the shrink-then-verify front
    end for LSH banding / k-means / SemDeDup at scale. Entirely narrow
    JVM expressions (the ±1 matrix rides as array literals; no
    broadcast, no shuffle, no Python); the oracle rebuilds the
    identical matrix from md5 nibbles cell by cell. Exploded to
    (vec_id, j, proj) so the driver hash-checks every component; the
    vec_id cap keeps the gate row count civil without changing the
    operator's plan shape."""
    from ..functions.vectors import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_projection(
        "embedding", in_dims=64, out_dims=8, seed_tag="rp"
    )
    return (
        emb.filter(F.col("vec_id") < 40)
        .select("vec_id", F.posexplode(proj).alias("j", "proj"))
        .select("vec_id", F.col("j").cast("long").alias("j"),
                F.round("proj", 6).alias("proj"))
        .orderBy("vec_id", "j")
    )


# --- rows-only entries (non-SQL-expressible; driver records weaker check) --

@register_query("minhash_near_dup")
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs at est-Jaccard ≥ 0.5."""
    from ..operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, threshold=0.5).orderBy("id_a", "id_b")


@register_query(
    "minhash_near_dup_portable",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' ')))
               END AS shingles
        FROM toks
    ), mh AS (
        SELECT doc_id, r.i AS i,
               min(CAST(concat('0x', substring(md5(u.sh || ':' || CAST(r.i AS VARCHAR)), 1, 8)) AS BIGINT)) AS h
        FROM sh, LATERAL unnest(shingles) AS u(sh)
        CROSS JOIN (SELECT unnest(range(0, 16)) AS i) r
        GROUP BY doc_id, r.i
    ), sigs AS (
        SELECT doc_id, list(h ORDER BY i) AS sig FROM mh GROUP BY doc_id
    ), bandx AS (
        SELECT doc_id, b.b AS band,
               array_to_string(sig[CAST(b.b*4+1 AS INT):CAST(b.b*4+4 AS INT)], ':') AS bucket
        FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ), cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM bandx x JOIN bandx y
          ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(len(list_filter(
               list_transform(generate_series(1, 16),
                   i -> CASE WHEN sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)] THEN 1 ELSE 0 END),
               v -> v = 1)) / 16.0, 6) AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.id_a
    JOIN sigs sb ON sb.doc_id = c.id_b
    WHERE len(list_filter(
               list_transform(generate_series(1, 16),
                   i -> CASE WHEN sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)] THEN 1 ELSE 0 END),
               v -> v = 1)) / 16.0 >= 0.5
    ORDER BY id_a, id_b
    """,
)
def minhash_near_dup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME MinHash-LSH pipeline as minhash_near_dup but with the
    engine-portable md5 hash family and exact-slice band keys
    (hash_fn='md5'), so the ENTIRE near-dup path — shingling, seeded
    min-hashing, banding, candidate generation, signature-agreement
    verification — is hash-verified against a DuckDB replay. This is
    the oracle twin the xxhash64 production path (kept for speed, same
    code shape) cannot have; 16 perms × 4 bands keeps the SQL replay
    tractable while exercising every moving part."""
    from ..operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, num_perm=16, bands=4, threshold=0.5,
        max_bucket=10**9, hash_fn="md5",
    ).orderBy("id_a", "id_b")


@register_query(
    "dedup_lsh_recall_eval",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' ')))
               END AS shingles
        FROM toks
    ), jidx AS MATERIALIZED (
        -- inverted-index form of the exact all-pairs jaccard (r9): the
        -- O(n^2) list_intersect cross join dominated this oracle's
        -- DuckDB time; shingle lists are distinct by construction, so
        -- |A U B| = nA + nB - c and the equi-join on the gram computes
        -- identical pairs and values (zero-intersection pairs score 0
        -- on both forms and fail the threshold either way)
        SELECT doc_id, len(shingles) AS n, unnest(shingles) AS g FROM sh
    ), exact AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*)::DOUBLE
                   / (min(a.n) + min(b.n) - count(*)) AS j
            FROM jidx a JOIN jidx b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) WHERE j >= 0.5
    ), mh AS (
        SELECT doc_id, r.i AS i,
               min(CAST(concat('0x', substring(md5(u.sh || ':' || CAST(r.i AS VARCHAR)), 1, 8)) AS BIGINT)) AS h
        FROM sh, LATERAL unnest(shingles) AS u(sh)
        CROSS JOIN (SELECT unnest(range(0, 16)) AS i) r
        GROUP BY doc_id, r.i
    ), sigs AS (
        SELECT doc_id, list(h ORDER BY i) AS sig FROM mh GROUP BY doc_id
    ), bandx AS (
        SELECT doc_id, b.b AS band,
               array_to_string(sig[CAST(b.b*4+1 AS INT):CAST(b.b*4+4 AS INT)], ':') AS bucket
        FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    ), lsh AS (
        SELECT id_a, id_b FROM (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM bandx x JOIN bandx y
              ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        ) c
        WHERE (SELECT len(list_filter(
                   list_transform(generate_series(1, 16),
                       i -> CASE WHEN sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)] THEN 1 ELSE 0 END),
                   v -> v = 1)) / 16.0
               FROM sigs sa, sigs sb
               WHERE sa.doc_id = c.id_a AND sb.doc_id = c.id_b) >= 0.5
    ), counts AS (
        SELECT (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM lsh) AS n_lsh,
               (SELECT count(*) FROM exact JOIN lsh USING (id_a, id_b))
                   AS n_common
    )
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_lsh AS BIGINT) AS n_lsh,
           CAST(n_common AS BIGINT) AS n_common,
           CASE WHEN n_exact > 0
                THEN CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE)
           END AS recall,
           CASE WHEN n_lsh > 0
                THEN CAST(n_common AS DOUBLE) / CAST(n_lsh AS DOUBLE)
           END AS precision
    FROM counts
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical recall/precision of the MinHash-LSH near-dup path
    against the EXACT prefix-filter Jaccard join on the same corpus,
    same θ, same shingle granularity — the measure-don't-guess readout
    for the probabilistic/exact trade (banding drops true pairs whose
    signatures straddle bands; the estimator passes some sub-θ pairs).
    Composes two independently hash-verified kernels
    (operators/dedup.jaccard_threshold_join + minhash_lsh_pairs
    portable) and reduces to ONE row of counts + two IEEE divisions of
    exact integers — bit-equal across engines. At 100 TB this runs on a
    SAMPLE (both kernels are bounded, but the exact join's verify cost
    only pays off corpus-wide when you actually ship it); the eval's
    job is to pick bands/perms before committing the full run."""
    from ..operators.dedup import jaccard_threshold_join, minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    exact = jaccard_threshold_join(d, threshold=0.5, k=3).select(
        "id_a", "id_b"
    )
    lsh = minhash_lsh_pairs(
        d, num_perm=16, bands=4, threshold=0.5,
        max_bucket=10**9, hash_fn="md5",
    ).select("id_a", "id_b")
    # one pass per kernel (r8): the previous three-scalar combine
    # (count(exact) × count(lsh) × count(exact⋈lsh)) consumed each
    # pair pipeline TWICE — Spark has no subtree sharing, so the whole
    # prefix-filter join and the banding pipeline executed once for
    # their own count and again inside the common join (guide §1.2).
    # A full-outer join on the pair key + one aggregate reads each
    # exactly once; both kernels emit unique (id_a, id_b) rows, so the
    # counts are identical.
    row = (
        exact.select("id_a", "id_b", F.lit(1).alias("__e"))
        .join(
            lsh.select("id_a", "id_b", F.lit(1).alias("__l")),
            ["id_a", "id_b"],
            "full",
        )
        .agg(
            F.count("__e").alias("n_exact"),
            F.count("__l").alias("n_lsh"),
            F.count(
                F.when(F.col("__e").isNotNull() & F.col("__l").isNotNull(), 1)
            ).alias("n_common"),
        )
    )
    return row.select(
        "n_exact",
        "n_lsh",
        "n_common",
        F.when(
            F.col("n_exact") > 0,
            F.col("n_common").cast("double")
            / F.col("n_exact").cast("double"),
        ).alias("recall"),
        F.when(
            F.col("n_lsh") > 0,
            F.col("n_common").cast("double") / F.col("n_lsh").cast("double"),
        ).alias("precision"),
    )


@register_query("simhash_near_dup")
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3."""
    from ..operators.dedup import simhash_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=3).orderBy("id_a", "id_b")


@register_query(
    "simhash_near_dup_portable",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '')) AS t
        FROM documents
    ), votes AS (
        SELECT doc_id, r.b AS b,
               sum(2 * ((CAST(concat('0x', substring(md5(u.tok), CAST((r.b - r.b % 4) / 4 AS INT) + 1, 1)) AS INT)
                         >> CAST(r.b % 4 AS INT)) & 1) - 1) AS v
        FROM toks, LATERAL unnest(t) AS u(tok)
        CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
        GROUP BY doc_id, r.b
    ), sigs AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 AND b < 32  THEN 1::BIGINT << CAST(b AS INT)        ELSE 0 END) AS BIGINT) AS lo,
               CAST(sum(CASE WHEN v > 0 AND b >= 32 THEN 1::BIGINT << CAST(b - 32 AS INT)   ELSE 0 END) AS BIGINT) AS hi
        FROM votes GROUP BY doc_id
    ), chunked AS (
        SELECT doc_id, lo, hi, c.c AS chunk,
               CASE c.c WHEN 0 THEN lo & 65535
                        WHEN 1 THEN (lo >> 16) & 65535
                        WHEN 2 THEN hi & 65535
                        ELSE (hi >> 16) & 65535 END AS val
        FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS c) c
    ), sized AS (
        SELECT chunk, val FROM chunked
        GROUP BY chunk, val HAVING count(*) <= 1000
    ), cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM (SELECT c.* FROM chunked c JOIN sized USING (chunk, val)) x
        JOIN (SELECT c.* FROM chunked c JOIN sized USING (chunk, val)) y
          ON x.chunk = y.chunk AND x.val = y.val AND x.doc_id < y.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(sa.lo, sb.lo)) + bit_count(xor(sa.hi, sb.hi)) AS INT) AS hamming
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.id_a
    JOIN sigs sb ON sb.doc_id = c.id_b
    WHERE bit_count(xor(sa.lo, sb.lo)) + bit_count(xor(sa.hi, sb.hi)) <= 3
    ORDER BY id_a, id_b
    """,
)
def simhash_near_dup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME SimHash pipeline as simhash_near_dup but on the
    md5-derived two-int-packed signature (operators/dedup.
    simhash_pairs_portable), so distinct-token voting, sign bits,
    4-chunk pigeonhole banding, the degenerate-bucket cap, candidate
    generation, and Hamming verification are ALL hash-verified against
    a DuckDB replay — completing the near-dup family's oracle story
    next to minhash_near_dup_portable. The xxhash64 packed-long path
    stays the production default. Unlike the portable minhash gate,
    the oracle DOES model the max_bucket=1000 cap (a plain HAVING), so
    the production guard stays on."""
    from ..operators.dedup import simhash_pairs_portable

    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs_portable(
        d, max_hamming=3, max_bucket=1000
    ).orderBy("id_a", "id_b")


@register_query("near_dedup_docs")
def near_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dedup pipeline: LSH candidates → Jaccard verify ≥ 0.8 →
    connected components → keep min id. Returns surviving doc ids."""
    from ..operators.dedup import (
        dedup_keep_min,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(d, threshold=0.5)
    verified = ngram_jaccard_pairs(d, threshold=0.8, candidates=cand)
    return dedup_keep_min(d, verified).select("doc_id").orderBy("doc_id")


@register_query("lsh_ann_topk")
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate LSH top-k (the 100 TB ANN path; approximate by design)."""
    from ..operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        lsh_topk(emb, q, k=10, n_planes=8)
        .select("query_id", "vec_id", F.col("rank").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


# ===========================================================================
# round-1 widening: temporal joins, rollup, exact near-dup oracles
# ===========================================================================

@register_query(
    "purchase_attribution_asof",
    oracle="""
    WITH v AS (
        SELECT user_id, ts, max(event_id) AS event_id
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ), p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_us,
           v.event_id AS last_view_id
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY purchase_id
    """,
)
def purchase_attribution_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward attribution): each purchase picks up the
    latest 'view' event by the same user at or before it. Physically a
    union + one windowed carry-forward pass — one shuffle on the key, no
    join explosion (operators.joins.asof_join; SURVEY §2 'joins the
    reference lacks'). Ties on ts resolve to max event_id on both sides;
    purchases with no prior view keep NULL (left-outer)."""
    from ..operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["event_id"],
        prefix="view_",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        # ts may arrive as TIMESTAMP or TIMESTAMP_NTZ depending on the
        # parquet writer's isAdjustedToUTC flag; unix_micros only accepts
        # the former. Session tz is pinned UTC, so the cast is exact.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_us"),
        F.col("view_event_id").alias("last_view_id"),
    ).orderBy("purchase_id")


@register_query(
    "events_rollup",
    oracle="""
    WITH e AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events
    )
    SELECT event_type, day, count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_value
    FROM e GROUP BY ROLLUP(event_type, day)
    ORDER BY event_type NULLS FIRST, day NULLS FIRST
    """,
)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (event_type → day → grand total) — the cube/
    grouping-sets family the reference lacks. Decimal-exact sums so the
    hash matches DuckDB regardless of float add order."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    return (
        e.rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("total_value"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(), F.col("day").asc_nulls_first()
        )
    )


@register_query(
    "ngram_jaccard_docs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' '))) END AS sh
        FROM toks
    )
    , jidx AS MATERIALIZED (
        -- inverted-index form (r9): see the dedup_lsh_recall_eval note
        SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(count(*)::DOUBLE
                     / (min(a.n) + min(b.n) - count(*)), 6) AS jaccard
        FROM jidx a JOIN jidx b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) WHERE jaccard >= 0.5
    ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.5 (all-pairs form — the
    verification kernel of the near-dedup pipeline, oracle-checked
    exactly; at 100 TB the same kernel runs only on LSH candidates)."""
    from ..operators.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.5).orderBy("id_a", "id_b")


@register_query(
    "embedding_near_dup",
    oracle="""
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.e, b.e)
                     / (sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
    ) WHERE cosine >= 0.4
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs at test
    scale; ``n_planes>0`` switches to hyperplane-LSH bucketing at 100 TB —
    that path is exercised by lsh_ann_topk)."""
    from ..operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4).orderBy("id_a", "id_b")


@register_query("media_features_docs")
def media_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end on the REAL stdlib PNG codec
    (rows-only: mapInPandas decode is not SQL-expressible): documents
    .text bytes → deterministic 24×16 RGB pixels → ``png_encode`` →
    ``png_codec.feature_fn`` decode + mean-pool to a 16-dim visual
    signature, all inside one Arrow stage — the image mirror of the WAV
    path in media_audio_features. Metadata struct stays JVM-side."""
    from ..operators.multimodal import attach_media_metadata, decode_features
    from ..operators.png_codec import feature_fn, png_encode

    png_features = feature_fn(16)
    w_px, h_px = 24, 16

    def text_as_image(payload: bytes) -> list[float]:
        # deterministic synth: text bytes tile the RGB pixel buffer
        need = w_px * h_px * 3
        reps = need // max(1, len(payload)) + 1
        pixels = (payload * reps)[:need] if payload else bytes(need)
        return png_features(png_encode(pixels, w_px, h_px, 3))

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    with_meta = attach_media_metadata(d, mime="text/plain")
    feats = decode_features(with_meta, dim=16, decode_fn=text_as_image)
    return (
        with_meta.select("media_id", F.col("meta.n_bytes").alias("n_bytes"),
                         F.col("meta.sha256").alias("sha256"))
        .join(feats, "media_id")
        .select(
            "media_id",
            "n_bytes",
            "sha256",
            F.size("features").alias("feat_dim"),
            F.round(F.aggregate("features", F.lit(0.0),
                                lambda a, x: a + x.cast("double")), 4
                    ).alias("feat_sum"),
        )
        .orderBy("media_id")
    )


@register_query("media_audio_features")
def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio plumbing on the REAL stdlib WAV codec (rows-only: the codec
    runs in mapInPandas): documents.text bytes → 8-bit PCM samples →
    ``wav_encode`` → header parse + decode → loudness-envelope features,
    all inside one Arrow stage. Exercises actual RIFF bytes end to end —
    the audio mirror of the PNG path in media_resize."""
    from ..operators.multimodal import decode_features
    from ..operators.wav_codec import feature_fn, wav_encode, wav_info

    wav_features = feature_fn(8)

    def text_as_audio(payload: bytes) -> list[float]:
        # deterministic synth: text bytes ARE the 8-bit PCM samples
        samples = [(b - 128) / 128.0 for b in payload]
        wav = wav_encode(samples, 8000, 1, 8)
        _, _, _, n_frames, dur_ms = wav_info(wav)
        assert n_frames == len(samples)
        return [float(dur_ms)] + wav_features(wav)

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = decode_features(d, dim=9, decode_fn=text_as_audio)
    return feats.select(
        "media_id",
        F.element_at("features", 1).cast("long").alias("duration_ms"),
        (F.size("features") - 1).alias("feat_dim"),
        F.round(
            F.aggregate(
                F.slice("features", 2, 8),
                F.lit(0.0),
                lambda a, x: a + x.cast("double"),
            ),
            4,
        ).alias("loudness_sum"),
    ).orderBy("media_id")


@register_query("ivf_ann_topk")
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid-probing ANN (rows-only: KMeans fit is iterative, not
    SQL-expressible). Same query set as lsh_ann_topk for comparability."""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        ivf_topk(emb, q, k=10, n_centroids=16, nprobe=4)
        .select("query_id", "vec_id", F.col("rank").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


_IVF_INDEX_CACHE: dict = {}


@register_query("ivf_index_search")
def ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF index (operators/similarity.build_ivf_index /
    ivf_search): the inverted file lives on disk as cell-PARTITIONED
    parquet, and each search pushes its probed cells as a STATIC
    partition filter — the scan reads only nprobe/n_centroids of the
    corpus, enforced by pruning (plan-tested). The index is built ONCE
    per (session, corpus) and reused — a persisted index exists to be
    searched many times, so repeat invocations (bench warm runs)
    measure the production search path, and the first run (bench cold)
    carries the build. Rows-only (KMeans fit is iterative); equality
    with the inline ivf_topk under identical params/seed is
    unit-pinned."""
    import tempfile

    from ..operators.similarity import build_ivf_index, ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = (spark.sparkContext.applicationId, sf_dir)
    path = _IVF_INDEX_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="ivf_gate_")
        build_ivf_index(emb, path, n_centroids=16)
        _IVF_INDEX_CACHE[key] = path
    return (
        ivf_search(spark, path, q, k=10, nprobe=4)
        .select("query_id", "vec_id", F.col("rank").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


@register_query(
    "events_user_reach",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (two-phase expand under the hood; the
    approx_count_distinct HLL swap-in is the 100 TB variant when exact
    distinct isn't required — not oracle-comparable across engines)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register_query(
    "langs_not_in_source",
    oracle="""
    SELECT lang FROM (
        SELECT DISTINCT lang FROM documents
        EXCEPT
        SELECT DISTINCT lang FROM documents WHERE source = 'src18'
    ) ORDER BY lang
    """,
)
def langs_not_in_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT DISTINCT — ``subtract``): corpus languages
    with no document from source src18."""
    d = load_table(spark, sf_dir, "documents")
    all_langs = d.select("lang").distinct()
    src_langs = d.filter(F.col("source") == "src18").select("lang").distinct()
    return all_langs.subtract(src_langs).orderBy("lang")


@register_query(
    "orders_above_cust_avg",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           round(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2) AS totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
        SELECT avg(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o.o_orderkey
    """,
)
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (orders 50%+ above their own
    customer's average), decorrelated the way an optimizer would: one
    window average over the customer key instead of a per-row subquery —
    single shuffle, no re-scan."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice").cast(_DEC).cast("double"), 2).alias(
                "totalprice"
            ),
        )
        .orderBy("o_orderkey")
    )


@register_query(
    "part_brand_pricing",
    oracle="""
    SELECT regexp_extract(p_brand, '#(\\d+)$', 1) AS brand_num,
           upper(p_type) AS ptype,
           count(*) AS n_parts,
           round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price,
           max(p_size) AS max_size
    FROM part
    WHERE p_size BETWEEN 5 AND 40 AND p_name LIKE '%re%'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def part_brand_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface sampler (regexp_extract / upper / LIKE /
    BETWEEN) over a filtered aggregate — everything stays in whole-stage
    codegen; filter + pruning reach the scan."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_size").between(5, 40) & F.col("p_name").like("%re%"))
        .groupBy(
            F.regexp_extract("p_brand", r"#(\d+)$", 1).alias("brand_num"),
            F.upper("p_type").alias("ptype"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum(F.col("p_retailprice").cast(_DEC)).cast("double"), 2
            ).alias("total_price"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("brand_num", "ptype")
    )


@register_query(
    "events_hourly_windows",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming tumbling-window operator (streaming/windows.py) run
    in batch mode — identical plan modulo the state store, so the oracle
    checks the window/agg semantics the stream uses."""
    from ..streaming.windows import windowed_event_counts

    e = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(e, window="1 hour", watermark="1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    ).orderBy("window_start", "event_type")


@register_query(
    "doc_char_entropy",
    oracle="""
    SELECT doc_id, round(entropy(c), 4) AS char_entropy
    FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (a cheap
    gibberish/compressibility signal for quality filtering). Two-level
    aggregation: (doc, char) counts partial-agg map-side, then the
    entropy formula -Σ p·log2 p per doc — no per-row Python anywhere."""
    d = load_table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("c")
    ).filter(F.col("c") != "")
    counts = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("doc_id")
    p = F.col("n") / F.sum("n").over(tot)
    ent = (
        counts.withColumn("term", -p * F.log2(p))
        .groupBy("doc_id")
        .agg(F.round(F.sum("term"), 4).alias("char_entropy"))
    )
    # empty documents have no char rows; the oracle scores them 0.0
    return (
        d.select("doc_id")
        .join(ent, "doc_id", "left")
        .select("doc_id", F.coalesce("char_entropy", F.lit(0.0)).alias("char_entropy"))
        .orderBy("doc_id")
    )


@register_query(
    "events_props_extract",
    oracle="""
    WITH x AS (
        SELECT event_type,
               CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                        '^-?[0-9]+$')
                    THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               END AS k_val
        FROM events
    )
    SELECT event_type,
           count(k_val) AS n_k,
           CAST(sum(k_val) AS BIGINT) AS sum_k
    FROM x GROUP BY event_type ORDER BY event_type
    """,
)
def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar-function surface (get_json_object) on the engine's core
    data type: extract $.k from the props document per row. Only integral
    scalars count (regex-guarded try_cast — strict cast would throw under
    ANSI mode, and DuckDB TRY_CAST rounds '7.5' to 8 while Spark nulls it,
    so both engines gate on '^-?[0-9]+$' first). Exact integer sums,
    CAST to BIGINT in the oracle because DuckDB sum() yields HUGEINT."""
    e = load_table(spark, sf_dir, "events")
    raw = F.get_json_object("props", "$.k")
    k = F.when(raw.rlike(r"^-?[0-9]+$"), raw.try_cast("long"))
    return (
        e.select("event_type", k.alias("k_val"))
        .groupBy("event_type")
        .agg(
            F.count("k_val").alias("n_k"),
            F.sum("k_val").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@register_query(
    "lineitem_price_quantiles",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_extendedprice,
               cume_dist() OVER (PARTITION BY l_returnflag
                                 ORDER BY l_extendedprice) AS cd
        FROM lineitem
    )
    SELECT l_returnflag,
           round(min(l_extendedprice) FILTER (cd >= 0.5), 2) AS p50,
           round(min(l_extendedprice) FILTER (cd >= 0.9), 2) AS p90,
           round(min(l_extendedprice) FILTER (cd >= 0.99), 2) AS p99
    FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def lineitem_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-statistics family: discrete quantiles per group, defined
    rank-wise (min value whose cume_dist ≥ p) so the result is an actual
    data value — interpolated percentile_cont is float-boundary-fragile
    across engines. One window sort per group; the 100 TB variant swaps
    in approx_percentile (t-digest sketch, no full sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    c = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.cume_dist().over(w).alias("cd"),
    )
    q = lambda p: F.round(  # noqa: E731
        F.min(F.when(F.col("cd") >= p, F.col("l_extendedprice"))), 2
    )
    return (
        c.groupBy("l_returnflag")
        .agg(q(0.5).alias("p50"), q(0.9).alias("p90"), q(0.99).alias("p99"))
        .orderBy("l_returnflag")
    )


@register_query("media_frame_sample")
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip sampling plumbing (operators/multimodal.frame_sample) on the
    REAL stdlib WAV codec: text bytes → 8-bit PCM ``wav_encode`` →
    ``wav_codec.clip_fn`` extracts 4 evenly-spaced 64-frame clips, each a
    standalone valid WAV, exploded one row per clip. The projection
    verifies JVM-side that every clip starts with a genuine RIFF header.
    Rows-only (binary payloads aren't SQL-comparable)."""
    from ..operators.multimodal import frame_sample
    from ..operators.wav_codec import clip_fn, wav_encode

    clips = clip_fn(clip_frames=64)

    def text_wav_clips(payload: bytes, n: int) -> list[bytes]:
        samples = [(b - 128) / 128.0 for b in payload]
        return clips(wav_encode(samples, 8000, 1, 8), n)

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    frames = frame_sample(d, n_frames=4, extract_fn=text_wav_clips)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame").alias("frame_len"),
        F.sha2("frame", 256).alias("frame_sha"),
        (F.hex(F.substring("frame", 1, 4)) == "52494646").alias("is_riff"),
    ).orderBy("media_id", "frame_idx")


@register_query(
    "langs_in_both_sources",
    oracle="""
    SELECT lang FROM (
        SELECT DISTINCT lang FROM documents WHERE source = 'src1'
        INTERSECT
        SELECT DISTINCT lang FROM documents WHERE source = 'src3'
    ) ORDER BY lang
    """,
)
def langs_in_both_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (INTERSECT DISTINCT): languages with documents
    from both src1 and src3."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("source") == "src1").select("lang").distinct()
    b = d.filter(F.col("source") == "src3").select("lang").distinct()
    return a.intersect(b).orderBy("lang")


@register_query(
    "events_daily_pivot",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): daily counts with one column per event type.
    The explicit value list keeps the plan a single-pass conditional
    aggregation — an unbounded pivot would need a distinct-values job
    first (never do that blind at 100 TB)."""
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
        .orderBy("day")
    )
    return out


@register_query(
    "infer_roundtrip_parse",
    oracle="""
    SELECT count(*) FILTER (json_valid(props) AND ltrim(props) LIKE '{%') AS n_parsed,
           count(*) AS n_total
    FROM events
    """,
)
def infer_roundtrip_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-trip contract, distributed (SURVEY §5b): the inferred
    schema must re-parse every valid object record losslessly-as-strings.
    Infer over props (O5), finalize, apply with from_json, count
    successes — equal to the count of valid object rows.

    Parse failures are detected via a corrupt-record column: PERMISSIVE
    from_json returns a non-null all-null struct for malformed input, so
    ``count(rec)`` alone would count garbage as parsed."""
    from pyspark.sql.types import StringType, StructField, StructType

    from ..operators.infer import infer_schema_df
    from ..plans.lattice import finalize_type

    events = load_table(spark, sf_dir, "events")
    schema = finalize_type(infer_schema_df(events, "props"))
    assert isinstance(schema, StructType)
    parse_schema = StructType(
        list(schema.fields) + [StructField("_cr", StringType())]
    )
    rec = F.from_json("props", parse_schema, {"columnNameOfCorruptRecord": "_cr"})
    ok = rec.isNotNull() & rec.getField("_cr").isNull()
    return events.agg(
        F.sum(ok.cast("long")).alias("n_parsed"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register_query(
    "doc_hashed_tf_vectors",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), b AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substring(md5(u.tok), 1, 8)) AS BIGINT) % 32 AS INT) AS bkt
        FROM toks, LATERAL unnest(t) AS u(tok)
    ), cnt AS (
        SELECT doc_id, bkt, CAST(count(*) AS DOUBLE) AS c
        FROM b GROUP BY doc_id, bkt
    ), packed AS (
        SELECT doc_id,
               list(bkt ORDER BY bkt) AS ks,
               list(c ORDER BY bkt) AS cs
        FROM cnt GROUP BY doc_id
    ), vec AS (
        SELECT d.doc_id,
               list_transform(generate_series(0, 31),
                   i -> coalesce(cs[list_position(ks, CAST(i AS INT))], 0.0)) AS v
        FROM documents d LEFT JOIN packed USING (doc_id)
    ), unit AS (
        SELECT doc_id,
               CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) > 0
                    THEN list_transform(v,
                         x -> round(x / sqrt(list_sum(list_transform(v, y -> y * y))), 6))
                    ELSE v END AS tf_vec
        FROM vec
    )
    SELECT doc_id, CAST(g.i - 1 AS INT) AS dim_idx, tf_vec[CAST(g.i AS INT)] AS weight
    FROM unit CROSS JOIN LATERAL unnest(generate_series(1, 32)) AS g(i)
    ORDER BY doc_id, dim_idx
    """,
)
def doc_hashed_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed TF vectors (operators/text.hashed_tf_vectors):
    the hashing-trick text featurization — md5(token) mod 32 buckets,
    L2-normalized counts — a model-free embedding that feeds ANN /
    k-means / SemDeDup directly and needs no vocabulary table. The md5
    bucketing (not engine-native hash) makes every coordinate
    DuckDB-replayable; empty docs keep the zero vector. Shuffle carries
    (id, bucket, count) triples only. The gate emits the posexploded
    (doc_id, dim_idx, weight) view so every hashed value is a scalar
    DOUBLE (array-typed outputs are outside the pinned driver-hash-safe
    type set); the array form is what the operator returns."""
    from ..operators.text import hashed_tf_vectors

    d = load_table(spark, sf_dir, "documents")
    return (
        hashed_tf_vectors(d, dim=32)
        .select("doc_id", F.posexplode("tf_vec").alias("dim_idx", "weight"))
        .orderBy("doc_id", "dim_idx")
    )


@register_query(
    "tfidf_top_terms_docs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(
            string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
            x -> x <> '')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY 1
    ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ln(n.n_docs / dfreq.df_t) AS tfidf_raw
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, round(tfidf_raw, 6) AS tfidf, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY tfidf_raw DESC, term ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
)
def tfidf_top_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF
    (operators/text.tfidf_top_terms — vocabulary-sized corpus state,
    broadcast idf join, window top-k)."""
    from ..operators.text import tfidf_top_terms

    d = load_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(d, k=3)
    return out.withColumn("rnk", F.col("rnk").cast("long")).orderBy("doc_id", "rnk")


@register_query("events_sketch_stats")
def events_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates (rows-only: HLL++ and t-digest estimates
    are engine-specific): distinct users via approx_count_distinct and
    value quantiles via approx_percentile, per event type — the
    no-full-sort / bounded-memory path the exact queries
    (events_user_reach, lineitem_price_quantiles) trade against at
    100 TB. Accuracy bounds are unit-tested against the exact answers."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.round(
                F.expr("approx_percentile(value, 0.5, 1000)"), 2
            ).alias("approx_p50"),
            F.round(
                F.expr("approx_percentile(value, 0.99, 1000)"), 2
            ).alias("approx_p99"),
        )
        .orderBy("event_type")
    )


@register_query(
    "events_sketch_bounds",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           TRUE AS acd_in_bounds,
           TRUE AS p50_in_bounds
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed promotion of the sketch category (VERDICT r7 #6):
    approx_count_distinct / approx_percentile estimates are
    implementation-defined (HLL++ register layout, GK compaction), so
    `events_sketch_stats` can only be rows-only — but their ERROR
    BOUNDS are checkable in SQL. The engine computes both the sketch
    and the exact answer, projects the exact count plus two booleans —
    |HLL − exact| ≤ 5·rsd·exact (rsd 0.02 → a 5-standard-error band)
    and approx_p50 within the exact [p49, p51] value range (accuracy
    1000 ⇒ rank error ≤ 0.001, 10× slack) — and the DuckDB twin
    asserts the exact counts and literal TRUE for both bounds. HLL++
    with fixed rsd on fixed input is deterministic within Spark, so
    this is a stable hash, and a sketch regression (wrong merge, wrong
    register width) flips a boolean and fails the gate. Scale shape:
    one groupBy — the exact countDistinct is the expensive partner
    here and exists only to certify the sketch; production readouts
    use the sketch alone."""
    e = load_table(spark, sf_dir, "events")
    rsd = 0.02
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=rsd).alias("__acd"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("__ap50"),
        F.expr("percentile(value, 0.49)").alias("__lo"),
        F.expr("percentile(value, 0.51)").alias("__hi"),
    )
    return agg.select(
        "event_type",
        "n_users",
        (
            F.abs(F.col("__acd") - F.col("n_users"))
            <= F.lit(5 * rsd) * F.col("n_users")
        ).alias("acd_in_bounds"),
        (
            (F.col("__ap50") >= F.col("__lo"))
            & (F.col("__ap50") <= F.col("__hi"))
        ).alias("p50_in_bounds"),
    ).orderBy("event_type")


@register_query(
    "q4_priority_late_ship",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join with a
    non-equi date condition (shipped >60 days after order). The semi join
    hashes on the order key; the date predicate rides as a join residual,
    and each order counts once no matter how many late lines it has."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# ===========================================================================
# Relational widening, batch 2: more TPC-H shapes, CUBE, generators
# ===========================================================================

@register_query(
    "q10_returned_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           round(CAST(sum(CAST(l.l_extendedprice AS {_DEC}) * (1 - CAST(l.l_discount AS {_DEC}))) AS DOUBLE), 2) AS revenue,
           n.n_name AS nation
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, per customer. customer
    and nation broadcast; the only shuffle is lineitem⋈orders on the
    order key plus the final group-by customer. The returnflag and date
    filters are pushed into both parquet scans before the join."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
                .cast("double"),
                2,
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "nation")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register_query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer, including
    zero-order customers (LEFT join with the filter in the join condition,
    not WHERE — a classic outer-join correctness trap). Two aggregations:
    the first shuffles on custkey, the second on the (tiny) count domain."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register_query(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT round(CAST(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS {_DEC}) * (1 - CAST(l.l_discount AS {_DEC}))
                 ELSE 0 END)
             / sum(CAST(l.l_extendedprice AS {_DEC}) * (1 - CAST(l.l_discount AS {_DEC})))
           AS DOUBLE), 4) AS promo_share_pct,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a fact⋈dim join —
    what share of one month's revenue came from promo parts. part is
    broadcast, so the month of lineitem never shuffles; both decimal sums
    happen in one partial-agg pass and the ratio is computed once on the
    single result row."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                (
                    F.lit(100.0)
                    * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(_DEC)))
                    / F.sum(rev)
                ).cast("double"),
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register_query(
    "q18_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice, 2) AS totalprice,
           round(t.sum_qty, 2) AS sum_qty
    FROM (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    ) t
    JOIN orders o ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate joined back to its
    parents. The quantity rollup shuffles lineitem on orderkey once; the
    surviving key set is tiny, so both subsequent joins broadcast it —
    orders and customer are never shuffled. l_quantity is integral in
    this dataset, so sum+round is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register_query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS {_DEC}) * (1 - CAST(l.l_discount AS {_DEC}))) AS DOUBLE), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 25 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges across the join. Catalyst extracts the common l_partkey equi
    condition for the (broadcast) hash join and leaves the OR as a
    residual; the p_size/p_brand halves of each disjunct are pushed to
    the part scan as an OR filter."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#25") & F.col("p_size").between(10, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(25, 50) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
                .cast("double"),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register_query(
    "q22_idle_rich_customers",
    oracle="""
    SELECT c.c_nationkey, count(*) AS numcust,
           round(CAST(sum(CAST(c.c_acctbal AS decimal(18,2))) AS DOUBLE), 2) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (global average) +
    NOT EXISTS anti join (above-average-balance customers who never placed
    an urgent order). The average collapses to one row and is broadcast
    as a literal-like cross join; the anti join against orders pushes the
    priority filter into the scan and only ships the o_custkey
    projection."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@register_query(
    "events_type_day_cube",
    oracle="""
    SELECT coalesce(event_type, '<all>') AS event_type,
           coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), '<all>') AS day,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS decimal(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY CUBE (event_type, date_trunc('day', ts))
    ORDER BY event_type, day
    """,
)
def events_type_day_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping sets in one pass.
    Spark expands the cube during partial aggregation (each input row
    feeds 4 groups map-side), so there is still exactly one shuffle; the
    '<all>' coalesce disambiguates rollup NULLs from data NULLs."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("day", F.lit("<all>")).alias("day"),
            "n_events",
            "total_value",
        )
        .orderBy("event_type", "day")
    )


@register_query(
    "doc_word_counts",
    oracle="""
    SELECT word, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    ORDER BY n_occurrences DESC, word
    LIMIT 30
    """,
)
def doc_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/LATERAL-VIEW shape: explode each document into words and
    count global + per-document frequencies. explode runs inside
    whole-stage codegen (no Python); the distinct-count and the plain
    count share one shuffle on the word key. At 100 TB the explode
    multiplies rows ~100×, which is why the projection is cut to
    (doc_id, word) before exploding."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("word"))
        .limit(30)
    )


# ===========================================================================
# Relational widening, batch 3: window frames, ntile, arrays, edit distance
# ===========================================================================

@register_query(
    "daily_revenue_moving_avg",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
               round(CAST(sum(CAST(o_totalprice AS decimal(18,2))) AS DOUBLE), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT day, revenue,
           round(avg(revenue) OVER (ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
    FROM daily ORDER BY day
    """,
)
def daily_revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window frame (7-row trailing moving average) over daily
    order revenue. The pre-aggregation shuffles once on day; the window
    then runs over a single global ordering — fine here because the day
    domain is tiny (years × 365), NOT a pattern to use over raw rows at
    100 TB (an unpartitioned window serializes onto one task). The avg
    runs over already-rounded daily revenue so both engines see identical
    inputs."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue")
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return (
        daily.withColumn("ma7", F.round(F.avg("revenue").over(w), 2))
        .orderBy("day")
    )


@register_query(
    "customer_spend_deciles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               round(CAST(sum(CAST(o_totalprice AS decimal(18,2))) AS DOUBLE), 2) AS total_spend
        FROM orders GROUP BY o_custkey
    ),
    tiled AS (
        SELECT total_spend,
               ntile(10) OVER (ORDER BY total_spend DESC, o_custkey) AS decile
        FROM spend
    )
    SELECT decile, count(*) AS n_customers,
           round(min(total_spend), 2) AS min_spend,
           round(max(total_spend), 2) AS max_spend
    FROM tiled GROUP BY decile ORDER BY decile
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(10) decile assignment over per-customer spend. The custkey
    tiebreak makes tile boundaries deterministic under equal spend. Same
    global-window caveat as the moving average: acceptable because the
    windowed relation is already one row per customer aggregate; at true
    scale the decile cut-points would come from approx_percentile
    instead (see lineitem_price_quantiles for the sketch variant)."""
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_spend")
        )
    )
    w = Window.orderBy(F.col("total_spend").desc(), F.col("o_custkey"))
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("total_spend"), 2).alias("min_spend"),
            F.round(F.max("total_spend"), 2).alias("max_spend"),
        )
        .orderBy("decile")
    )


@register_query(
    "user_event_type_sets",
    oracle="""
    SELECT user_id,
           array_to_string(array_agg(DISTINCT event_type ORDER BY event_type), ',') AS event_types,
           count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    ORDER BY n_types DESC, user_id
    LIMIT 50
    """,
)
def user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-aggregation surface: per-user sorted distinct event-type
    set (collect_set + sort_array, all JVM-side). collect_set's state
    is bounded by the tiny event-type domain, so partial aggregation
    stays map-side cheap even when one user has millions of events.

    The sorted set is projected through ``array_join`` to a scalar
    because the driver gate's canonicalizer hashes a pandas sort and
    cannot factorize list cells (VERDICT r7 #1 — this was the only
    array-typed output column in the registry and it crashed the r7
    gate); ``tests/test_roster_consistency.py`` now forbids Array/Map
    output columns on every oracle-backed entry so this can't regress."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("event_type")), ","
            ).alias("event_types"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy(F.col("n_types").desc(), F.col("user_id"))
        .limit(50)
    )


@register_query(
    "part_name_edit_pairs",
    oracle="""
    SELECT noun, count(*) AS n_close_pairs
    FROM (
        SELECT string_split(p1.p_name, ' ')[2] AS noun
        FROM part p1
        JOIN part p2
          ON string_split(p1.p_name, ' ')[2] = string_split(p2.p_name, ' ')[2]
         AND p1.p_partkey < p2.p_partkey
        WHERE levenshtein(p1.p_name, p2.p_name) BETWEEN 1 AND 2
    )
    GROUP BY noun
    ORDER BY noun
    """,
)
def part_name_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match self-join, blocked on the name's noun
    token so the quadratic comparison only runs within blocks (the same
    blocking idea the MinHash/SimHash dedup operators use at document
    scale). levenshtein is a JVM builtin — no Python in the pair loop;
    distance 0 (identical names) is excluded, that's exact dedup's job."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    p1 = p.withColumn("noun", F.split("p_name", " ").getItem(1))
    p2 = p1.select(
        F.col("p_partkey").alias("partkey2"),
        F.col("p_name").alias("name2"),
        F.col("noun").alias("noun2"),
    )
    return (
        p1.join(p2, (p1.noun == p2.noun2) & (p1.p_partkey < F.col("partkey2")))
        .filter(F.levenshtein("p_name", "name2").between(1, 2))
        .groupBy("noun")
        .agg(F.count(F.lit(1)).alias("n_close_pairs"))
        .orderBy("noun")
    )


@register_query(
    "q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           round(CAST(sum(CAST(l.l_extendedprice AS {_DEC}) * (1 - CAST(l.l_discount AS {_DEC}))) AS DOUBLE), 2) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional two-nation trade volume by ship year.
    The disjunctive nation-pair predicate cannot be pushed into either
    dimension alone, so both nation joins broadcast and the pair filter
    runs post-join — still only one shuffle (lineitem⋈orders)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
                .cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register_query(
    "q8_market_share",
    oracle=f"""
    WITH vol AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(l.l_extendedprice AS {_DEC}) * (1 - CAST(l.l_discount AS {_DEC})) AS volume,
               ns.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        JOIN region r ON nc.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share within a region/product
    segment — conditional aggregation over an 8-table join. Every
    dimension broadcasts; numerator and denominator come out of ONE
    aggregation pass (sum of CASE), not two scans. Division happens
    after exact decimal sums, so the float rounds identically."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nc = n.select(
        F.col("n_nationkey").alias("nck"), F.col("n_regionkey").alias("nc_rk")
    )
    ns = n.select(
        F.col("n_nationkey").alias("nsk"), F.col("n_name").alias("supp_nation")
    )
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nck"))
        .join(F.broadcast(r), F.col("nc_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("nsk"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "volume"
            ),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_3", F.col("volume")
                    ).otherwise(F.lit(0).cast("decimal(18,2)"))
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register_query(
    "q9_profit_by_nation_year",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS INT) AS l_year,
           round(CAST(sum(CAST(l.l_extendedprice AS {_DEC}) * (1 - CAST(l.l_discount AS {_DEC}))) AS DOUBLE), 2) AS amount
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, l_year
    ORDER BY nation, l_year DESC
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (sans partsupp, absent from the test schema):
    product-line amount by supplier nation and ship year. The part filter
    is a non-anchored LIKE — not pushable to parquet as a range, but the
    broadcast-join against the filtered part dim prunes lineitem rows
    before the aggregation shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
                .cast("double"),
                2,
            ).alias("amount")
        )
        .orderBy(F.col("nation"), F.col("l_year").desc())
    )


@register_query(
    "q11_top_value_parts",
    oracle=f"""
    WITH pv AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS {_DEC}) * (1 - CAST(l_discount AS {_DEC}))) AS val
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT count(*) AS n_parts, sum(val) AS total FROM pv)
    SELECT l_partkey, round(CAST(val AS DOUBLE), 2) AS part_value
    FROM pv
    WHERE val * (SELECT n_parts FROM tot) * 4 > 5 * (SELECT total FROM tot)
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_top_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose value exceeds a fraction of the
    global total (HAVING against a scalar subquery). The per-part
    aggregate is computed ONCE and reused for both the total and the
    filter; the 1-row total broadcasts into the comparison. The
    threshold test runs in exact decimal (val·n_parts·4 > 5·total,
    i.e. 1.25× the mean part value), never through floats, so the
    boundary part set is engine-independent. TPC-H scales Q11's
    fraction by 1/SF; a fixed multiplier therefore yields an EMPTY
    boundary set at small SF — the r7 gate hashed 0 == 0 rows
    (VERDICT r7 #2) — so the threshold is tied to the part count,
    selecting ~12% of parts at every SF (nonempty is asserted by the
    local oracle replay's zero-row audit)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    pv = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "val"
            )
        )
        .cache()
    )
    total = pv.agg(
        F.count(F.lit(1)).alias("n_parts"), F.sum("val").alias("total")
    )
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("val") * F.col("n_parts") * 4 > F.col("total") * 5)
        .select(
            "l_partkey",
            F.round(F.col("val").cast("double"), 2).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register_query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice AS {_DEC}) * (1 - CAST(l_discount AS {_DEC}))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           round(CAST(r.total_rev AS DOUBLE), 2) AS total_revenue
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue — an aggregate reused against its own max (the reference
    VIEW formulation). Equality on exact decimals keeps ties honest;
    all suppliers at the max are returned, as in the spec."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "total_rev"
            )
        )
        .cache()
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register_query(
    "q16_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part segment with a
    NOT IN exclusion list. The exclusion is a broadcast anti-join (the
    bad-supplier list is tiny); (partkey,suppkey) pairs are deduped
    BEFORE the part join so the expensive distinct-count aggregation
    sees the minimal row set."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .dropDuplicates(["l_partkey", "l_suppkey"])
    )
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@register_query(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS {_DEC})) AS DOUBLE) / 7.0, 2) AS avg_yearly,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average quantity threshold,
    decorrelated into one grouped aggregate joined back on partkey.
    Quantities are integral doubles, so the per-part sum (hence avg) is
    exact and the strict `<` boundary matches any engine. The per-part
    avg is computed only for the filtered brand's parts — the broadcast
    part dim prunes before the aggregation."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_avg = branded.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    return (
        branded.join(F.broadcast(part_avg), branded.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(F.sum(dec("l_extendedprice")).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register_query(
    "q20_heavy_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'red%'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING sum(l.l_quantity) > 100
    )
    ORDER BY s.s_suppkey
    """,
)
def q20_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi-join against an aggregated-with-HAVING
    subquery (suppliers who moved >100 units of some red part). The
    aggregate runs on the part-pruned fact, then collapses to a distinct
    supplier list that semi-joins the supplier dim. Quantity sums are
    exact (integral doubles), so HAVING's boundary is engine-stable."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register_query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name AS supp_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY supp_name
    ORDER BY numwait DESC, supp_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier orders (EXISTS + NOT EXISTS self-correlations).
    Decorrelated into one per-order aggregate — n_suppliers and
    n_late_suppliers — joined back to the late items on orderkey; both
    sides of that join are hash-partitioned on the same key, so the
    correlated pair costs one shuffle, not two correlated scans.
    "Late" = shipped >60 days after the order date (the schema has no
    commit/receipt dates)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier")
    flagged = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_order = flagged.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    return (
        flagged.filter(F.col("is_late"))
        .join(per_order, F.col("l_orderkey") == F.col("ok"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("supp_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "supp_name")
        .limit(20)
    )


@register_query(
    "daily_revenue_lag_delta",
    oracle=f"""
    WITH daily AS (
        SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
               sum(CAST(o_totalprice AS {_DEC})) AS rev
        FROM orders GROUP BY day
    )
    SELECT day,
           round(CAST(rev AS DOUBLE), 2) AS revenue,
           round(CAST(lag(rev) OVER (ORDER BY day) AS DOUBLE), 2) AS prev_revenue,
           round(CAST(rev - lag(rev) OVER (ORDER BY day) AS DOUBLE), 2) AS delta
    FROM daily
    ORDER BY day
    """,
)
def daily_revenue_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() day-over-day revenue delta — the offset-window-function
    surface (vs. the frame-based moving average already covered). The
    window runs on the per-day AGGREGATE (a few thousand rows), not the
    fact table, so the unpartitioned global ordering is a non-issue at
    any scale; the delta subtraction happens in exact decimal before
    the final rounding."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev"))
    w = Window.orderBy("day")
    return (
        daily.select(
            "day",
            F.round(F.col("rev").cast("double"), 2).alias("revenue"),
            F.round(F.lag("rev").over(w).cast("double"), 2).alias(
                "prev_revenue"
            ),
            F.round(
                (F.col("rev") - F.lag("rev").over(w)).cast("double"), 2
            ).alias("delta"),
        )
        .orderBy("day")
    )


@register_query(
    "doc_holdout_split",
    oracle="""
    WITH tagged AS (
        SELECT lang,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
                    THEN 'holdout' ELSE 'train' END AS split
        FROM documents
    )
    SELECT lang, split, count(*) AS n_docs
    FROM tagged GROUP BY lang, split ORDER BY lang, split
    """,
)
def doc_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 train/holdout split (functions/sampling.py) —
    the reproducible-split primitive a training pipeline needs: the
    assignment is a pure narrow projection (no shuffle, no stored
    assignment table, no partition-layout dependence), so it holds
    bit-identically on any cluster size — and in DuckDB, which is the
    oracle's proof. 2/16 nibble buckets = 12.5% expected holdout."""
    from ..functions.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", holdout_sixteenths=2)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


@register_query(
    "lineitem_price_stats",
    oracle=f"""
    WITH m AS (
        SELECT count(*) AS n,
               sum(CAST(l_extendedprice AS {_DEC})) AS sx,
               sum(CAST(l_quantity AS {_DEC})) AS sy,
               sum(CAST(l_extendedprice AS {_DEC}) * CAST(l_extendedprice AS {_DEC})) AS sxx,
               sum(CAST(l_quantity AS {_DEC}) * CAST(l_quantity AS {_DEC})) AS syy,
               sum(CAST(l_extendedprice AS {_DEC}) * CAST(l_quantity AS {_DEC})) AS sxy
        FROM lineitem
    )
    SELECT n AS n_items,
           round(CAST(sx AS DOUBLE) / n, 6) AS price_mean,
           round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 6) AS price_stddev,
           round(CAST(sy AS DOUBLE) / n, 6) AS qty_mean,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_price_qty
    FROM m
    """,
)
def lineitem_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (mean/stddev/correlation) via exact decimal
    moment sums. Spark's builtin stddev/corr stream doubles, so their
    low bits depend on partition order — fine for analytics, fatal for a
    cross-engine hash gate. Summing the five moments in DECIMAL is
    order-independent and exact; the float formulas then run on
    identical one-row scalars in both engines, giving bit-equal results.
    Same single-pass, map-side-combinable shape as the builtins."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast(_DEC)
    y = F.col("l_quantity").cast(_DEC)
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        n.alias("n_items"),
        F.round(sx / n, 6).alias("price_mean"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("price_stddev"),
        F.round(sy / n, 6).alias("qty_mean"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_price_qty"),
    )


@register_query(
    "redact_numbers_events",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_numbers,
           CAST(sum(length(regexp_replace(props, '[0-9]+', '<NUMBER>', 'g'))) AS BIGINT) AS redacted_chars
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def redact_numbers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-scrub audit (functions/textfns.redact): normalize numeric
    literals to a placeholder and report match counts per event type —
    the shape of a PII/number-normalization pass over a 100 TB corpus:
    one narrow JVM-regex projection, aggregation only on the tiny audit
    columns. Email/URL patterns share the same code path (unit-tested on
    planted text; this corpus contains none)."""
    from ..functions.textfns import pattern_count, redact

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            pattern_count("props", "number").alias("n_numbers"),
            F.length(redact("props", ["number"])).alias("red_len"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("n_numbers").alias("n_numbers"),
            F.sum("red_len").alias("redacted_chars"),
        )
        .orderBy("event_type")
    )


@register_query(
    "doc_epoch_upsample",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang,
               CASE lang WHEN 'de' THEN 2.5 WHEN 'en' THEN 1.0
                         WHEN 'fr' THEN 0.4 WHEN 'zh' THEN 3.0
                         ELSE 0.0 END AS fac,
               CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':epoch'), 1, 8)) AS BIGINT)
                 / 4294967296.0 AS u
        FROM documents
    )
    SELECT doc_id, lang, CAST(g.c AS INT) AS copy_no
    FROM f CROSS JOIN LATERAL unnest(range(
        CAST(floor(fac) AS BIGINT)
        + CASE WHEN u < fac - floor(fac) THEN 1 ELSE 0 END)) AS g(c)
    ORDER BY doc_id, copy_no
    """,
)
def doc_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional epoch upsampling (functions/sampling.epoch_upsample):
    per-language repeat factors — 2.5 epochs of de, 3 of zh, 1 of en,
    0.4 of fr, es dropped — emitted as repeated rows with a copy index,
    the standard quality-source repeat knob in pretraining mixes. The
    extra-copy coin is the md5 fraction over doc_id+salt, so DuckDB
    replays every copy exactly; row growth is the requested output
    volume, nothing shuffles."""
    from ..functions.sampling import epoch_upsample

    d = load_table(spark, sf_dir, "documents")
    out = epoch_upsample(
        d.select("doc_id", "lang"),
        "lang",
        {"de": 2.5, "en": 1.0, "fr": 0.4, "zh": 3.0},
        key="doc_id",
    )
    return out.orderBy("doc_id", "copy_no")


@register_query(
    "customers_pii_scrub",
    oracle="""
    WITH blob AS (
        SELECT c_mktsegment,
               c_name || ' call ' ||
               CAST(c_custkey % 90 + 10 AS VARCHAR) || '-' ||
               lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
               lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0') || '-' ||
               lpad(CAST(c_custkey * 13 % 10000 AS VARCHAR), 4, '0') || ' from ' ||
               CAST(c_custkey % 224 + 10 AS VARCHAR) || '.' ||
               CAST(c_custkey % 256 AS VARCHAR) || '.1.' ||
               CAST(c_custkey % 100 AS VARCHAR) || ' mail user' ||
               CAST(c_custkey AS VARCHAR) || '@example.com balance ' ||
               CAST(c_acctbal AS VARCHAR) AS contact
        FROM customer
    ), red AS (
        SELECT c_mktsegment,
               len(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
               len(regexp_extract_all(contact, '\\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\\b')) AS n_phone,
               regexp_replace(
                 regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS s1
        FROM blob
    ), red2 AS (
        SELECT c_mktsegment, n_email, n_phone,
               len(regexp_extract_all(s1, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS n_ip,
               regexp_replace(
                 regexp_replace(s1, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
                 '[0-9]+', '<NUMBER>', 'g') AS scrubbed
        FROM red
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(n_email) AS BIGINT) AS n_emails,
           CAST(sum(n_phone) AS BIGINT) AS n_phones,
           CAST(sum(n_ip) AS BIGINT) AS n_ips,
           CAST(sum(length(scrubbed)) AS BIGINT) AS scrubbed_chars
    FROM red2
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def customers_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit (functions/textfns.redact, email/phone/ipv4
    patterns): scrub a per-customer contact blob and report match counts
    per market segment — the standard pre-training privacy pass. Same
    100 TB shape as redact_numbers_events: one narrow JVM-regex
    projection per pattern (most-specific-first so phone/ip digit groups
    aren't eaten by the number fallback), aggregation only on tiny audit
    columns; bodies never shuffle. The blob is synthesized from customer
    columns because the corpus ships no real PII — the phone uses the
    TPC-H NN-NNN-NNN-NNNN shape. Counts ride the ORIGINAL text; ip
    counting runs post email/phone scrub exactly as the redact() chain
    applies patterns, and the oracle replays that order."""
    from ..functions.textfns import REDACT_PATTERNS, pattern_count, redact

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    phone = F.concat(
        (k % 90 + 10).cast("string"), F.lit("-"),
        F.lpad((k % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((k * 7 % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((k * 13 % 10000).cast("string"), 4, "0"),
    )
    contact = F.concat(
        F.col("c_name"), F.lit(" call "), phone, F.lit(" from "),
        (k % 224 + 10).cast("string"), F.lit("."),
        (k % 256).cast("string"), F.lit(".1."),
        (k % 100).cast("string"), F.lit(" mail user"),
        k.cast("string"), F.lit("@example.com balance "),
        F.col("c_acctbal").cast("string"),
    )
    blob = cust.select("c_mktsegment", contact.alias("contact"))
    s1 = redact(F.col("contact"), ["email", "phone"])
    audited = blob.select(
        "c_mktsegment",
        pattern_count("contact", "email").alias("n_email"),
        pattern_count("contact", "phone").alias("n_phone"),
        F.regexp_count(s1, F.lit(REDACT_PATTERNS["ip"])).alias("n_ip"),
        F.length(redact(F.col("contact"), ["email", "phone", "ip", "number"]))
        .alias("scrubbed_len"),
    )
    return (
        audited.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("n_email").alias("n_emails"),
            F.sum("n_phone").alias("n_phones"),
            F.sum("n_ip").alias("n_ips"),
            F.sum("scrubbed_len").alias("scrubbed_chars"),
        )
        .orderBy("c_mktsegment")
    )


@register_query(
    "events_variant_extract",
    oracle="""
    WITH p AS (
        SELECT event_type,
               CASE event_type
                 WHEN 'purchase' THEN concat('{"amt": {"v": ', CAST(event_id % 97 AS VARCHAR), '}, "tags": ["hot", "new"]}')
                 WHEN 'click'    THEN concat('{"amt": ', CAST(event_id % 97 AS VARCHAR), ', "tags": []}')
                 WHEN 'signup'   THEN '{"amt": null}'
                 ELSE concat('{"amt": "s', CAST(event_id % 97 AS VARCHAR), '"}')
               END AS payload
        FROM events
    ), x AS (
        SELECT event_type,
               TRY_CAST(json_extract_string(payload, '$.amt') AS BIGINT) AS amt_num,
               TRY_CAST(json_extract_string(payload, '$.amt.v') AS BIGINT) AS amt_nested,
               json_extract_string(payload, '$.tags[0]') AS first_tag
        FROM p
    )
    SELECT event_type,
           count(amt_num) AS n_plain,
           CAST(coalesce(sum(amt_num), 0) AS BIGINT) AS sum_plain,
           count(amt_nested) AS n_nested,
           CAST(coalesce(sum(amt_nested), 0) AS BIGINT) AS sum_nested,
           count(first_tag) AS n_tagged
    FROM x GROUP BY event_type ORDER BY event_type
    """,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4 ``parse_json`` /
    ``try_variant_get``): one binary-encoded variant column serves
    shape-shifting payloads — plain number, nested object, JSON null,
    string — without a schema declaration, the modern engine answer to
    schema-on-read event props. ``try_variant_get`` with a target type
    nulls shape mismatches exactly like DuckDB's
    json_extract + TRY_CAST twins (strict ``variant_get`` would throw
    under ANSI, same trade as events_props_extract). The payloads are
    synthesized per event_type so every shape is exercised; parse cost
    is one narrow codegen'd projection, aggregation only on the tiny
    extracted columns."""
    e = load_table(spark, sf_dir, "events")
    amt = (F.col("event_id") % 97).cast("string")
    payload = (
        F.when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit('{"amt": {"v": '), amt, F.lit('}, "tags": ["hot", "new"]}')
            ),
        )
        .when(
            F.col("event_type") == "click",
            F.concat(F.lit('{"amt": '), amt, F.lit(', "tags": []}')),
        )
        .when(F.col("event_type") == "signup", F.lit('{"amt": null}'))
        .otherwise(F.concat(F.lit('{"amt": "s'), amt, F.lit('"}')))
    )
    v = F.parse_json(payload)
    x = e.select(
        "event_type",
        F.try_variant_get(v, "$.amt", "long").alias("amt_num"),
        F.try_variant_get(v, "$.amt.v", "long").alias("amt_nested"),
        F.try_variant_get(v, "$.tags[0]", "string").alias("first_tag"),
    )
    return (
        x.groupBy("event_type")
        .agg(
            F.count("amt_num").alias("n_plain"),
            F.coalesce(F.sum("amt_num"), F.lit(0)).alias("sum_plain"),
            F.count("amt_nested").alias("n_nested"),
            F.coalesce(F.sum("amt_nested"), F.lit(0)).alias("sum_nested"),
            F.count("first_tag").alias("n_tagged"),
        )
        .orderBy("event_type")
    )


@register_query(
    "props_map_stats",
    oracle="""
    WITH kv AS (SELECT unnest(json_keys(props)) AS k, props FROM events),
    typed AS (
        SELECT k,
               CASE WHEN regexp_matches(json_extract_string(props, '$.' || k),
                                        '^-?[0-9]+$')
                    THEN TRY_CAST(json_extract_string(props, '$.' || k) AS BIGINT)
               END AS v
        FROM kv
    )
    SELECT k AS key, count(*) AS n,
           min(v) AS vmin,
           max(v) AS vmax,
           CAST(sum(v) AS BIGINT) AS vsum
    FROM typed GROUP BY key ORDER BY key
    """,
)
def props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON props column into
    map<string,string>, explode to (key, value) pairs, aggregate per
    key — the generic "semi-structured column → per-key stats" pass.
    from_json + explode stay whole-stage-codegen JVM ops; only the
    per-key aggregation shuffles, on a key domain that is tiny by
    construction (distinct JSON keys, not rows)."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    # regex-guarded try_cast: strict cast("bigint") throws on non-integral
    # values under ANSI mode, and must agree with the oracle's TRY_CAST
    # (which would round '7.5' instead of nulling it)
    v = F.when(F.col("val").rlike(r"^-?[0-9]+$"), F.col("val").try_cast("bigint"))
    return (
        ev.select(F.explode(m).alias("key", "val"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
            F.sum(v).alias("vsum"),
        )
        .orderBy("key")
    )


@register_query(
    "events_value_bands",
    oracle="""
    SELECT b.band, count(*) AS n_events,
           round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 75.0), ('mid', 75.0, 150.0),
                 ('high', 150.0, 300.0), ('top', 300.0, 500.0))
         AS b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band ORDER BY b.band
    """,
)
def events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join as a gate query (operators/joins.range_join): map value
    points into unequal-width bands via the bucketed-equi-join rewrite —
    intervals explode to the fixed-width buckets they overlap, points
    hash to one bucket, and the would-be cartesian range predicate
    becomes a shuffle-free-broadcastable equi join plus a residual
    filter. The unit suite proves parity with the naive cross join; this
    entry proves it against SQL range-join semantics."""
    from ..operators.joins import range_join

    ev = load_table(spark, sf_dir, "events")
    bands = ev.sparkSession.createDataFrame(
        [("low", 0.0, 75.0), ("mid", 75.0, 150.0),
         ("high", 150.0, 300.0), ("top", 300.0, 500.0)],
        "band string, lo double, hi double",
    )
    joined = range_join(
        ev,
        F.broadcast(bands),
        left_time="value",
        right_start="lo",
        right_end="hi",
        bucket=F.lit(25.0),
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("band")
    )


@register_query(
    "events_campaign_overlap",
    oracle="""
    WITH iv AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               min(ts) AS s, max(ts) AS e
        FROM events GROUP BY user_id, day
    )
    SELECT c.campaign, count(*) AS n_intervals,
           count(DISTINCT iv.user_id) AS n_users
    FROM iv JOIN (VALUES
            ('launch',  TIMESTAMP '2024-01-02 00:00:00', TIMESTAMP '2024-01-05 00:00:00'),
            ('midweek', TIMESTAMP '2024-01-10 06:00:00', TIMESTAMP '2024-01-12 18:00:00'),
            ('weekend', TIMESTAMP '2024-01-20 00:00:00', TIMESTAMP '2024-01-21 23:59:59'),
            ('closer',  TIMESTAMP '2024-01-28 12:00:00', TIMESTAMP '2024-01-31 00:00:00'))
         AS c(campaign, cs, ce)
      ON iv.s <= c.ce AND c.cs <= iv.e
    GROUP BY c.campaign ORDER BY c.campaign
    """,
)
def events_campaign_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join surface (operators/joins.interval_join —
    interval × interval, vs range_join's point × interval): per-user
    DAILY ACTIVITY INTERVALS [first event, last event] overlap-joined to
    campaign time windows, the "which sessions saw the promo" shape.
    Closed-interval semantics so a single-event day (s == e) still
    counts. Tiled at 6 h: a user-day interval covers ≤ 5 tiles, the
    pair is claimed by its first shared tile (no distinct pass), and
    the 4-row campaign side broadcasts. Timestamps compare as
    microsecond-epoch LONGS engine-side (unix_micros, the NTZ-safe
    recipe every temporal entry here uses) — an exact, monotonic image
    of the oracle's native timestamp comparison."""
    from ..operators.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min(us).alias("s"), F.max(us).alias("e")
    )
    camp = spark.createDataFrame(
        [
            ("launch", "2024-01-02 00:00:00", "2024-01-05 00:00:00"),
            ("midweek", "2024-01-10 06:00:00", "2024-01-12 18:00:00"),
            ("weekend", "2024-01-20 00:00:00", "2024-01-21 23:59:59"),
            ("closer", "2024-01-28 12:00:00", "2024-01-31 00:00:00"),
        ],
        "campaign string, cs string, ce string",
    ).select(
        "campaign",
        F.unix_micros(F.col("cs").cast("timestamp")).alias("cs"),
        F.unix_micros(F.col("ce").cast("timestamp")).alias("ce"),
    )
    joined = interval_join(
        iv,
        F.broadcast(camp),
        left_start="s",
        left_end="e",
        right_start="cs",
        right_end="ce",
        bucket=F.lit(21_600_000_000),
        closed=True,
    )
    return (
        joined.groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("campaign")
    )


@register_query(
    "customer_balance_percentiles",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS bal_pct_rank,
           round(cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS bal_cume_dist
    FROM customer
    ORDER BY c_custkey
    """,
)
def customer_balance_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window surface (percent_rank / cume_dist) — rank
    positions are integer-derived, so unlike value interpolation they
    are engine-exact even on float order keys; ties share a rank by
    definition. Partitioned by segment: parallel across the cluster,
    no global sort."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    ).orderBy("c_custkey")


@register_query(
    "doc_balanced_sample",
    oracle="""
    SELECT lang, count(*) AS n_docs
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
          < CASE lang WHEN 'en' THEN '4' ELSE 'g' END
    GROUP BY lang ORDER BY lang
    """,
)
def doc_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic downsampling
    (functions/sampling.stratified_hash_sample): rebalance an
    English-heavy corpus by keeping 4/16 of 'en' and all other
    languages, in ONE narrow scan (the per-stratum threshold is a CASE
    expression, not per-stratum jobs). The oracle replays the same md5
    nibble comparison — 'g' sorts after every hex digit, so non-en
    strata keep everything."""
    from ..functions.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_hash_sample(docs, "doc_id", "lang", {"en": 4})
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


@register_query(
    "events_grouping_sets",
    oracle="""
    SELECT coalesce(event_type, '<all>') AS event_type,
           coalesce(CAST(year(ts) AS VARCHAR), '<all>') AS yr,
           count(*) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type), (year(ts)), ())
    ORDER BY event_type, yr
    """,
)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form; rollup and cube are the
    pre-baked specializations covered by their own entries): per-type,
    per-year, and grand totals in one pass — Spark expands to a single
    Expand + aggregate, one shuffle for all three groupings."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_gs")
    return ev.sparkSession.sql(
        """
        SELECT coalesce(event_type, '<all>') AS event_type,
               coalesce(CAST(year(ts) AS STRING), '<all>') AS yr,
               count(*) AS n
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (year(ts)), ())
        ORDER BY event_type, yr
        """
    )


@register_query(
    "user_first_last_events",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER w AS last_type,
           first_value(event_id)   OVER w AS first_event_id
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY user_id
    """,
)
def user_first_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over an unbounded frame — the
    entry/exit-event shape (what did each user do first and last).
    event_id tiebreaks equal timestamps so both engines agree on the
    boundary rows; the frame must be explicitly unbounded-following or
    last_value degenerates to the current row."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.select(
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w).alias("last_type"),
            F.first("event_id").over(w).alias("first_event_id"),
        )
        .distinct()
        .orderBy("user_id")
    )


@register_query(
    "lineitem_measures_unpivot",
    oracle=f"""
    WITH agg AS (
        SELECT l_returnflag,
               round(CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE), 2) AS extendedprice,
               round(CAST(sum(CAST(l_discount AS {_DEC})) AS DOUBLE), 2) AS discount,
               round(CAST(sum(CAST(l_tax AS {_DEC})) AS DOUBLE), 2) AS tax
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, measure, total FROM agg
    UNPIVOT (total FOR measure IN (extendedprice, discount, tax))
    ORDER BY l_returnflag, measure
    """,
)
def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): per-returnflag measure sums melted to
    (flag, measure, total) rows via the native unpivot operator (an
    Expand node — no join, no Python). The melt runs on the tiny
    aggregate, never on the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias(
            "extendedprice"
        ),
        F.round(F.sum(dec("l_discount")).cast("double"), 2).alias("discount"),
        F.round(F.sum(dec("l_tax")).cast("double"), 2).alias("tax"),
    )
    return agg.unpivot(
        ["l_returnflag"],
        ["extendedprice", "discount", "tax"],
        "measure",
        "total",
    ).orderBy("l_returnflag", "measure")


@register_query(
    "embedding_quantize_roundtrip",
    oracle="""
    WITH base AS (
        SELECT label, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                   AS amax
        FROM embeddings
    ), q AS (
        SELECT label, amax AS scale,
               list_max(list_transform(generate_series(1, len(v)),
                   i -> abs(v[i]
                            - CAST(round(v[i] / amax * 127.0, 0) AS BIGINT)
                              * amax / 127.0))) AS max_err
        FROM base
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           round(max(max_err), 6) AS worst_err,
           CAST(sum(CAST(floor(scale * 1000000000) AS BIGINT)) AS BIGINT)
             // count(*) AS avg_scale_q
    FROM q GROUP BY label ORDER BY label
    """,
)
def embedding_quantize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (functions/vectors.quantize_int8):
    4× storage/scan cut for ANN candidate generation. Reports per-label
    reconstruction error stats; the unit suite pins the hard bound
    (per-element error ≤ scale/254). Promoted from rows-only in round 6:
    per-element quantize/dequantize/|err| chains are identical double
    expressions in both engines and max is order-independent, so
    worst_err hash-matches after round(·,6); the one order-DEPENDENT
    reduction — the float scale mean — is replaced by an exact integer
    mean (floor(scale·1e9) summed, one integer division), closing the
    float-printer concern the old rows-only note described."""
    from ..functions.vectors import dequantize_int8, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.withColumn("qz", quantize_int8("embedding"))
    err = F.array_max(
        F.zip_with(
            F.transform("embedding", lambda x: x.cast("double")),
            dequantize_int8("qz"),
            lambda a, b: F.abs(a - b),
        )
    )
    return (
        q.select("label", err.alias("max_err"), F.col("qz.scale").alias("scale"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.max("max_err"), 6).alias("worst_err"),
            F.expr(
                "sum(cast(floor(scale * 1000000000) as bigint)) div count(1)"
            ).alias("avg_scale_q"),
        )
        .orderBy("label")
    )


@register_query("events_frequent_users")
def events_frequent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter sketch: DataFrame.freqItems (Karp-Papadimitriou-
    Shenker single-pass frequent-candidates) over user_id — the
    constant-memory alternative to an exact groupBy-count when the key
    domain is huge and only outliers matter. Rows-only by nature
    (result is a superset of true heavy hitters; the unit test plants
    one and asserts it surfaces)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.freqItems(["user_id"], support=0.05)


@register_query(
    "quantized_ann_topk",
    oracle="""
    WITH c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                   AS amax,
               sqrt(list_sum(list_transform(embedding::DOUBLE[],
                   x -> x * x))) AS nrm
        FROM embeddings
    ), cq AS (
        SELECT cid, v, amax / nrm AS scale,
               list_transform(v,
                   x -> CAST(round(x * 127.0 / amax, 0) AS BIGINT)) AS q8
        FROM c
    ), qr AS (
        SELECT cid AS qid, v AS qv, scale AS qscale, q8 AS qq
        FROM cq WHERE qid < 8
    ), scored AS (
        SELECT q.qid, c.cid,
               CAST(list_sum(list_transform(
                   generate_series(1, len(c.q8)),
                   i -> c.q8[i] * q.qq[i])) AS DOUBLE)
                 * c.scale * q.qscale AS approx
        FROM cq c, qr q
    ), cand AS (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY approx DESC, cid ASC) AS crank
        FROM scored
    ), rescored AS (
        SELECT t.qid AS query_id, t.cid AS vec_id,
               row_number() OVER (PARTITION BY t.qid
                   ORDER BY round(list_sum(list_transform(
                       generate_series(1, len(c.v)),
                       i -> c.v[i] * q.qv[i])) / (c.nrm * q2.nrm), 6) DESC,
                   t.cid ASC) AS rank
        FROM cand t
        JOIN c ON c.cid = t.cid
        JOIN c q2 ON q2.cid = t.qid
        JOIN qr q ON q.qid = t.qid
        WHERE t.crank <= 40
    )
    SELECT query_id, vec_id, rank FROM rescored
    WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def quantized_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN (operators/similarity.quantized_rerank_topk): int8
    candidate scan (1 byte/dim bandwidth, integer dot products) →
    exact-cosine re-rank of 4k candidates per query. Promoted from
    rows-only to oracle-backed in round 6: every stage is deterministic
    — codes are ``round(x·127/max|x|)`` (identical double expressions in
    both engines), the approx score is an EXACT integer dot widened once
    and scaled by the same two float factors in the same order, and both
    rank windows carry id tiebreaks — so DuckDB replays candidate
    generation AND the re-rank. Ranks-only output (the
    ``ann_cosine_topk`` convention: float scores stay internal so
    formatting can't perturb the hash). Queries are the deterministic
    ``vec_id < 8`` slice (was ``limit(8)``, which is order-dependent and
    blocked the promotion)."""
    from ..operators.similarity import quantized_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        quantized_rerank_topk(emb, queries, k=10)
        .select("query_id", "vec_id", "rank")
        .orderBy("query_id", "rank")
    )


@register_query(
    "q2_best_price_supplier",
    oracle=f"""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / count(*) AS avg_price
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p.p_partkey, p.p_name, s.s_name AS supp_name,
           round(ps.avg_price, 2) AS best_price
    FROM ps
    JOIN part p ON ps.l_partkey = p.p_partkey
    JOIN supplier s ON ps.l_suppkey = s.s_suppkey
    WHERE p.p_size = 10
      AND ps.avg_price = (SELECT min(p2.avg_price) FROM ps p2
                          WHERE p2.l_partkey = ps.l_partkey)
    ORDER BY p.p_partkey, supp_name
    """,
)
def q2_best_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the argmin-per-group retrieve-attributes pattern
    (cheapest supplier per part), decorrelated to a min-over-window on
    the (part,supplier) aggregate — one shuffle for the aggregate, the
    window reuses its partitioning, dims broadcast. Averages are exact
    decimal sums divided once in double, so the correlated-min equality
    behaves identically in both engines; ties keep every best supplier,
    as the spec requires."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    s = load_table(spark, sf_dir, "supplier")
    dec = lambda c_: F.col(c_).cast(_DEC)  # noqa: E731
    # the window min is per-partkey, so only size-10 parts' lineitems can
    # contribute to the output: push the part filter BELOW the aggregate
    # as a broadcast semi-join, cutting the aggregate's shuffle input to
    # the selected parts' rows (~1/50 of lineitem at TPC-H selectivity)
    # instead of aggregating all of lineitem and discarding 98% after
    li = li.join(
        F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"))),
        "l_partkey",
        "semi",
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))
        ).alias("avg_price")
    )
    w = Window.partitionBy("l_partkey")
    best = ps.withColumn("min_price", F.min("avg_price").over(w)).filter(
        F.col("avg_price") == F.col("min_price")
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            F.col("s_name").alias("supp_name"),
            F.round("avg_price", 2).alias("best_price"),
        )
        .orderBy("p_partkey", "supp_name")
    )


@register_query(
    "returnflag_quantity_median",
    oracle="""
    SELECT l_returnflag,
           round(median(l_quantity), 2) AS median_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def returnflag_quantity_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped median (the interpolating aggregate, vs. the
    rank-defined discrete quantiles and the approx_percentile sketch
    already covered). Quantities are integral, so the even-count
    midpoint interpolation lands on .0/.5 exactly in any engine. Exact
    median needs a per-group sort — the costly-by-design variant; the
    sketch entry is the 100 TB default."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), 2).alias("median_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


@register_query(
    "region_nation_matrix",
    oracle="""
    SELECT r.r_name, count(*) AS n_pairs,
           CAST(sum(CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END) AS BIGINT) AS n_home
    FROM region r CROSS JOIN nation n
    GROUP BY r.r_name ORDER BY r.r_name
    """,
)
def region_nation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (the one join type the blocked/bucketed
    operators exist to avoid): every (region, nation) pair with a
    home-region indicator. Fine precisely because both sides are tiny
    dims — Spark plans a broadcast nested loop; the point of the entry
    is that the engine exposes the cartesian primitive for when the
    caller has bounded it."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        r.crossJoin(F.broadcast(n))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("n_regionkey") == F.col("r_regionkey"), 1).otherwise(0)
            ).alias("n_home"),
        )
        .orderBy("r_name")
    )


@register_query(
    "doc_langs_except_all",
    oracle="""
    SELECT lang FROM (
        SELECT lang FROM documents WHERE source = 'src0'
        EXCEPT ALL
        SELECT lang FROM documents WHERE source = 'src1'
    ) ORDER BY lang
    """,
)
def doc_langs_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — the multiplicity-preserving set difference (the
    distinct variant is covered by `langs_not_in_source`). Bag
    semantics subtract per-row counts, which Spark implements as a
    single aggregate on counts rather than a join per occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("source") == "src0").select("lang")
    b = docs.filter(F.col("source") == "src1").select("lang")
    return a.exceptAll(b).orderBy("lang")


@register_query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus ORDER BY l.l_linestatus
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode → linestatus, commit/receipt dates →
    ship-lag, per the test schema): high/low-priority line counts among
    very late shipments, both counts from one CASE aggregation pass.
    The date range prunes the lineitem scan; the non-equi lateness
    predicate rides the equi join as a residual — completing the 22/22
    TPC-H pattern coverage."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register_query("media_resize")
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (operators/multimodal.resize_media) on the REAL
    stdlib PNG codec: text bytes → 24×16 RGB ``png_encode`` →
    ``png_codec.resize`` (nearest-neighbor decode/re-encode) to 16×8,
    inside the Arrow hook. The output projection verifies JVM-side that
    each resized payload is a genuine PNG (8-byte signature check on the
    binary column). Rows-only (binary payloads aren't SQL-comparable)."""
    from ..operators.multimodal import resize_media
    from ..operators.png_codec import png_encode
    from ..operators.png_codec import resize as png_resize

    w_px, h_px = 24, 16

    def text_png_resize(payload: bytes, w: int, h: int) -> bytes:
        need = w_px * h_px * 3
        reps = need // max(1, len(payload)) + 1
        pixels = (payload * reps)[:need] if payload else bytes(need)
        return png_resize(png_encode(pixels, w_px, h_px, 3), w, h)

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = resize_media(d, width=16, height=8, resize_fn=text_png_resize)
    return out.select(
        "media_id",
        F.length("payload").alias("n_bytes"),
        "width",
        "height",
        (
            F.hex(F.substring("payload", 1, 8)) == "89504E470D0A1A0A"
        ).alias("is_png"),
    ).orderBy("media_id")


@register_query(
    "training_prep_pipeline",
    oracle="""
    WITH kept AS (
        SELECT *, row_number() OVER (
                   PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                   ORDER BY doc_id) AS rn
        FROM documents WHERE length(text) >= 100
    ),
    tagged AS (
        SELECT lang,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
                    THEN 'holdout' ELSE 'train' END AS split,
               len(list_filter(string_split_regex(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
                               x -> x <> '')) AS n_tokens
        FROM kept WHERE rn = 1
    )
    SELECT lang, split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM tagged GROUP BY lang, split ORDER BY lang, split
    """,
)
def training_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition: a complete training-data prep pass
    built ONLY from the engine's own operators — length filter → exact
    dedup (keep min doc_id per normalized text) → deterministic md5
    train/holdout split → whitespace token counts → per-(lang, split)
    corpus stats. Every stage is the same code the standalone gate
    entries test; the oracle replays the whole pipeline in SQL. Plan
    shape: one narrow scan feeds the dedup shuffle (16-byte
    fingerprint keys), the semi-join back is on doc_id, the split is a
    projection — three shuffles end to end at any scale."""
    from ..functions.sampling import hash_split
    from ..operators.dedup import exact_dedup
    from ..operators.text import token_stats

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 100
    )
    keep_ids = exact_dedup(docs).select("doc_id")
    kept = docs.join(keep_ids, "doc_id", "left_semi")
    tagged = hash_split(kept, "doc_id", holdout_sixteenths=2)
    with_tokens = token_stats(tagged)
    return (
        with_tokens.groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("ws_token_count").cast("bigint")).alias("total_tokens"),
        )
        .orderBy("lang", "split")
    )


@register_query(
    "doc_langs_intersect_all",
    oracle="""
    SELECT lang FROM (
        SELECT lang FROM documents WHERE source = 'src0'
        INTERSECT ALL
        SELECT lang FROM documents WHERE source = 'src1'
    ) ORDER BY lang
    """,
)
def doc_langs_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag intersection keeping min(count_a, count_b)
    copies, completing the set-op family (UNION / EXCEPT / INTERSECT in
    both distinct and ALL forms)."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("source") == "src0").select("lang")
    b = docs.filter(F.col("source") == "src1").select("lang")
    return a.intersectAll(b).orderBy("lang")


@register_query(
    "doc_token_positions",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
                           x -> x <> '') AS toks
        FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, pos, tok FROM (
        SELECT doc_id, CAST(0 AS INT) AS pos, toks[1] AS tok FROM t WHERE len(toks) >= 1
        UNION ALL SELECT doc_id, 1, toks[2] FROM t WHERE len(toks) >= 2
        UNION ALL SELECT doc_id, 2, toks[3] FROM t WHERE len(toks) >= 3
    ) ORDER BY doc_id, pos
    """,
)
def doc_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — the position-aware generator (vs. plain explode in
    `doc_word_counts`): leading tokens with their offsets, the shape of
    prefix/suffix feature extraction. The position comes from the
    generator itself, not a window, so no sort or shuffle is needed."""
    from ..functions.textfns import whitespace_tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        docs.select(
            "doc_id",
            F.posexplode(whitespace_tokens("text")).alias("pos", "tok"),
        )
        .filter(F.col("pos") < 3)
        .orderBy("doc_id", "pos")
    )


@register_query(
    "doc_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 300
    ),
    new AS (
        SELECT doc_id,
               CASE WHEN doc_id < 150 THEN upper(text) ELSE text END AS text
        FROM documents WHERE doc_id >= 100 AND doc_id < 400
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.text <> n.text THEN 'changed' END AS change
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.text <> n.text
    ORDER BY doc_id
    """,
)
def doc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff (operators/cdc.snapshot_diff): classify keys as
    added/removed/changed between two corpus snapshots via a full-outer
    join on 16-byte content hashes — wide compare columns collapse to
    md5 BEFORE the join materializes, so the shuffle carries keys and
    hashes, never documents. The synthetic second snapshot shifts the
    id window and rewrites a slice, giving all three change classes."""
    from ..operators.cdc import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") < 300)
    new = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 400)).select(
        "doc_id",
        F.when(F.col("doc_id") < 150, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new, ["doc_id"]).orderBy("doc_id")


@register_query(
    "documents_profile",
    oracle="""
    SELECT 'doc_id' AS "column", count(*) AS n,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           count(DISTINCT doc_id) AS n_distinct,
           min(CAST(doc_id AS VARCHAR)) AS min_s, max(CAST(doc_id AS VARCHAR)) AS max_s
    FROM documents
    UNION ALL
    SELECT 'lang', count(*),
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT lang), min(lang), max(lang)
    FROM documents
    UNION ALL
    SELECT 'source', count(*),
           CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT source), min(source), max(source)
    FROM documents
    ORDER BY "column"
    """,
)
def documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality report (operators/profile.profile):
    count / nulls / distincts / min / max for every column out of ONE
    aggregation pass, unpivoted to long format. Exact distincts here
    (oracle-checkable); ``approx=True`` swaps the HLL sketch at scale
    without changing the report shape."""
    from ..operators.profile import profile

    docs = load_table(spark, sf_dir, "documents")
    return profile(docs, ["doc_id", "lang", "source"]).orderBy("column")


@register_query(
    "doc_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS hx,
             CAST(len(list_filter(string_split_regex(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), off AS (
      SELECT doc_id, hx % 16 AS bucket, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY hx % 16 ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_offset
      FROM toks
    )
    SELECT doc_id,
           CAST(bucket AS INT) AS bucket,
           CAST(n_tokens AS INT) AS n_tokens,
           cum_offset // 256 AS seq_no,
           cum_offset % 256 AS seq_offset,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE (cum_offset + n_tokens - 1) // 256 - cum_offset // 256 + 1
           END AS BIGINT) AS n_seqs
    FROM off ORDER BY doc_id
    """,
)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.pack_sequences): where each
    document lands in the bucketed concat-and-chunk token stream an LLM
    training run consumes — start sequence, offset, sequences spanned.
    Bucketed md5 streams keep the window parallel (no single global
    sort); all arithmetic is exact integer DIV, replayed by the oracle
    with // on BIGINT."""
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, token_budget=256, n_buckets=16).orderBy("doc_id")


@register_query(
    "doc_decontamination",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 7),
                        i -> array_to_string(t[i:i+7], ' '))) END AS sh
        FROM toks
    ), ev AS (
        SELECT DISTINCT unnest(sh) AS gram FROM sh WHERE doc_id % 41 = 0
    ), ex AS (
        SELECT doc_id, unnest(sh) AS gram FROM sh
    )
    SELECT DISTINCT doc_id FROM ex JOIN ev USING (gram) ORDER BY doc_id
    """,
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.contaminated_ids):
    flag every corpus doc sharing a word 8-gram with the eval set (here:
    every 41st doc stands in for a benchmark, so the eval docs flag
    themselves and any true 8-gram collisions). Grams hashed to int64 on
    both sides, AQE picks broadcast from the eval side's runtime size,
    corpus side one narrow explode + LEFT SEMI — the corpus never
    shuffles document bodies."""
    from ..operators.dedup import contaminated_ids

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 41 == 0)
    return contaminated_ids(docs, ev, k=8).orderBy("doc_id")


@register_query(
    "doc_ngram_repetition",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), g2 AS (
        SELECT doc_id, unnest(CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                 ELSE list_transform(generate_series(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+1], ' ')) END) AS gram
        FROM toks
    ), a2 AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_2grams,
               CAST(max(cnt) AS BIGINT) AS top_2gram_n
        FROM (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY doc_id, gram)
        GROUP BY doc_id
    ), g3 AS (
        SELECT doc_id, unnest(CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                 ELSE list_transform(generate_series(1, len(t) - 2),
                                     i -> array_to_string(t[i:i+2], ' ')) END) AS gram
        FROM toks
    ), a3 AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_3grams,
               CAST(max(cnt) AS BIGINT) AS top_3gram_n
        FROM (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY doc_id, gram)
        GROUP BY doc_id
    )
    SELECT d.doc_id, n_2grams, top_2gram_n,
           round(top_2gram_n::DOUBLE / n_2grams, 6) AS top_2gram_frac,
           n_3grams, top_3gram_n,
           round(top_3gram_n::DOUBLE / n_3grams, 6) AS top_3gram_frac
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN a2 ON d.doc_id = a2.doc_id
    LEFT JOIN a3 ON d.doc_id = a3.doc_id
    ORDER BY d.doc_id
    """,
)
def doc_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (operators/text.
    ngram_repetition): most-frequent word 2-/3-gram occurrence count and
    the fraction of the doc's n-grams it accounts for — the boilerplate
    flag distinct-token ratios miss. Positional n-grams, narrow-key
    partial aggs; bodies never shuffle."""
    from ..operators.text import ngram_repetition

    docs = load_table(spark, sf_dir, "documents")
    return ngram_repetition(docs).orderBy("doc_id")


@register_query(
    "doc_chunks",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), nc AS (
        SELECT doc_id, t,
               CASE WHEN len(t) = 0 THEN 0
                    WHEN len(t) <= 64 THEN 1
                    ELSE (len(t) - 64 + 47) // 48 + 1 END AS n_chunks
        FROM toks
    )
    SELECT doc_id,
           CAST(unnest(generate_series(0, n_chunks - 1)) AS INT) AS chunk_idx,
           CAST(unnest(list_transform(generate_series(0, n_chunks - 1),
                i -> len(t[i*48+1 : i*48+64]))) AS INT) AS n_chunk_tokens,
           unnest(list_transform(generate_series(0, n_chunks - 1),
                i -> array_to_string(t[i*48+1 : i*48+64], ' '))) AS chunk_text
    FROM nc ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/packing.
    chunk_documents): the RAG/embedding prep split — 64-token chunks,
    16-token overlap, one row per chunk. Pure narrow array arithmetic
    in codegen; the only row growth is the required output itself."""
    from ..operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16).orderBy(
        "doc_id", "chunk_idx"
    )


# ===========================================================================
# round-3 widening: mixture reweighting, token-budget selection, k-means,
# per-group schema drift
# ===========================================================================

@register_query(
    "doc_mixture_sample",
    oracle="""
    WITH t(lang, w) AS (VALUES
        ('en', 0.5), ('de', 0.125), ('es', 0.125), ('fr', 0.125), ('zh', 0.125)),
    c AS (
        SELECT d.lang, count(*) AS n
        FROM documents d JOIN t USING (lang) GROUP BY d.lang
    ),
    cap AS (SELECT floor(min(n / w)) AS cap FROM c JOIN t USING (lang)),
    r AS (
        SELECT lang, least(1.0, cap * w / n) AS rate
        FROM c JOIN t USING (lang) CROSS JOIN cap
    )
    SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
    WHERE CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < rate
    ORDER BY d.doc_id
    """,
)
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mixture reweighting (functions/sampling.
    mixture_sample): downsample so kept rows follow target proportions
    (50% en, 12.5% each of de/es/fr/zh), maximizing the feasible total.
    Deterministic md5-fraction keep decisions — stable across runs,
    partitionings, and engines (the oracle replays them bit-for-bit).
    Two column-pruned scans, a |strata|-row rate table AQE broadcasts,
    no shuffle of document bodies."""
    from ..functions.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    targets = {"en": 0.5, "de": 0.125, "es": 0.125, "fr": 0.125, "zh": 0.125}
    return (
        mixture_sample(docs, "lang", targets, key="doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register_query(
    "doc_token_budget_select",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS toks,
             length(text) AS n_chars,
             length(regexp_replace(text, '[\w\s]', '', 'g')) AS punct
      FROM documents
    ), s AS (
      SELECT doc_id, len(toks) AS n_tokens,
        round((
          least(1.0, n_chars / 200.0)
          + CASE WHEN n_chars > 0 THEN 1.0 - punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END
          + CASE WHEN len(toks) > 0 THEN least(1.0,
              (CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','for','it'], x))) AS DOUBLE) / len(toks)) / 0.10)
            ELSE 0.0 END
          + CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END
        ) / 4.0, 6) AS quality
      FROM t
    ), b AS (
      SELECT doc_id, n_tokens, quality,
             CAST(floor(quality * 1000) AS BIGINT) AS bucket FROM s
    ), pb AS (
      SELECT bucket, sum(n_tokens) AS bt FROM b GROUP BY bucket
    ), cum AS (
      SELECT bucket, sum(bt) OVER (
        ORDER BY bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM pb
    ), thr AS (SELECT min(bucket) AS thr FROM cum WHERE cum <= 15000)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality, bucket
    FROM b CROSS JOIN thr WHERE bucket >= thr ORDER BY doc_id
    """,
)
def doc_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked selection under a 15k-token budget (operators/
    selection.token_budget_select): keep the best score-buckets whose
    cumulative whitespace-token count fits the budget. No global sort —
    the cumulative window runs over a ≤1001-row bucket aggregate, the
    data path is two narrow scans (SCALE.md: the 100 TB-safe version of
    'give me the best N tokens')."""
    from ..operators.selection import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    return (
        token_budget_select(docs, 15_000)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality",
            "bucket",
        )
        .orderBy("doc_id")
    )


@register_query(
    "kmeans_assign_embeddings",
    oracle="""
    WITH c AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8
    ), d AS (
        SELECT e.vec_id, c.cid,
               list_sum(list_transform(generate_series(1, len(e.embedding)),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)))) AS dist
        FROM embeddings e CROSS JOIN c
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id
    FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d
    ) WHERE rn = 1 ORDER BY vec_id
    """,
)
def kmeans_assign_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (operators/clustering.assign_clusters)
    with deterministic centroids (the first 8 embeddings by vec_id —
    bounded control-path collect). The distance argmin is one narrow
    codegen projection with the k×d centroid literal riding the plan; no
    shuffle, no UDF. The oracle replays the same index-ordered IEEE
    distance fold via a cross join + row_number."""
    from ..operators.clustering import assign_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    centroids = [[float(x) for x in r["embedding"]] for r in first]
    return (
        assign_clusters(emb, centroids, keep_cols=["vec_id"])
        .orderBy("vec_id")
    )


@register_query(
    "doc_semantic_dedup",
    oracle="""
    WITH c AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings WHERE vec_id < 8
    ), n AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), d AS (
        SELECT n.vec_id, c.cid,
               list_sum(list_transform(generate_series(1, len(n.e)),
                 i -> (n.e[i] - c.ce[i]) * (n.e[i] - c.ce[i]))) AS dist
        FROM n CROSS JOIN c
    ), asg AS (
        SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id
        FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d
        ) WHERE rn = 1
    ), nv AS (
        SELECT vec_id,
               list_transform(e, x -> x / sqrt(list_sum(
                   list_transform(e, y -> y * y)))) AS e
        FROM n
    ), j AS (
        SELECT asg.vec_id, asg.cluster_id, nv.e FROM asg JOIN nv USING (vec_id)
    ), dups AS (
        SELECT DISTINCT b.vec_id
        FROM j a JOIN j b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.e, b.e), 6) >= 0.4
    )
    SELECT vec_id, cluster_id FROM asg
    WHERE vec_id NOT IN (SELECT vec_id FROM dups)
    ORDER BY vec_id
    """,
)
def doc_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/clustering.semantic_dedup): centroid cells as
    dedup blocks, within-cell cosine ≥ 0.4 drops all but the lowest id.
    Deterministic centroids = the first 8 embeddings by vec_id (same
    bounded control-path collect as kmeans_assign_embeddings). The
    oracle replays assign + normalize-then-dot within-cell EXISTS with
    the identical index-ordered IEEE folds and 6-decimal rounding."""
    from ..operators.clustering import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    centroids = [[float(x) for x in r["embedding"]] for r in first]
    return (
        semantic_dedup(emb, centroids, threshold=0.4)
        .select("vec_id", "cluster_id")
        .orderBy("vec_id")
    )


@register_query(
    "props_schema_drift",
    oracle="""
    WITH p AS (
        SELECT event_type,
               CASE event_type
                 WHEN 'purchase' THEN concat('{"amount": {"v": ', CAST(event_id AS VARCHAR), '}, "eid": ', CAST(event_id AS VARCHAR), '}')
                 WHEN 'click'    THEN concat('{"amount": [', CAST(event_id AS VARCHAR), '], "eid": ', CAST(event_id AS VARCHAR), '}')
                 WHEN 'signup'   THEN concat('{"eid": ', CAST(event_id AS VARCHAR), '}')
                 ELSE concat('{"amount": ', CAST(event_id AS VARCHAR), ', "eid": ', CAST(event_id AS VARCHAR), '}')
               END AS payload
        FROM events
    ), cls AS (
        SELECT p.event_type, f.field,
               json_type(p.payload, concat('$.', f.field)) AS jt
        FROM p CROSS JOIN (SELECT unnest(['amount', 'eid']) AS field) f
    ), mapped AS (
        SELECT event_type, field,
               CASE jt WHEN 'OBJECT' THEN 'STRUCT' WHEN 'ARRAY' THEN 'ARRAY'
                       WHEN 'NULL' THEN NULL
                       ELSE CASE WHEN jt IS NULL THEN NULL ELSE 'STRING' END END AS c,
               (jt IS NOT NULL) AS present
        FROM cls
    ), grp AS (
        SELECT event_type, field, bool_or(present) AS has_key,
               CASE WHEN count(DISTINCT c) > 1 THEN 'STRING'
                    ELSE coalesce(max(c), 'STRING') END AS gc
        FROM mapped GROUP BY event_type, field
    ), gl AS (
        SELECT field,
               CASE WHEN count(DISTINCT c) > 1 THEN 'STRING'
                    ELSE coalesce(max(c), 'STRING') END AS glc
        FROM mapped GROUP BY field
    )
    SELECT g.event_type AS group_key, g.field,
           CASE WHEN NOT g.has_key THEN 'ABSENT' ELSE g.gc END AS group_class,
           gl.glc AS global_class,
           CASE WHEN NOT g.has_key THEN 'absent'
                WHEN g.gc <> gl.glc THEN 'retyped'
                ELSE 'same' END AS drift
    FROM grp g JOIN gl USING (field)
    ORDER BY group_key, field
    """,
)
def props_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group schema drift over a JSON column (operators/drift.
    schema_drift_report, built on the keyed reference-lattice inference
    of operators/infer.infer_schema_by_key — one scan, one aggregate).
    The payload derives deterministically from events so every drift
    class appears: purchase nests `amount` (STRUCT), click wraps it in
    an array (ARRAY), signup omits it (absent), error/view keep it
    scalar (STRING); the corpus-wide merge demotes the conflict to
    STRING per CreateHQL.scala:63-64."""
    from ..operators.drift import schema_drift_report

    e = load_table(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    payload = (
        F.when(
            F.col("event_type") == "purchase",
            F.concat(F.lit('{"amount": {"v": '), eid, F.lit('}, "eid": '), eid, F.lit("}")),
        )
        .when(
            F.col("event_type") == "click",
            F.concat(F.lit('{"amount": ['), eid, F.lit('], "eid": '), eid, F.lit("}")),
        )
        .when(
            F.col("event_type") == "signup",
            F.concat(F.lit('{"eid": '), eid, F.lit("}")),
        )
        .otherwise(
            F.concat(F.lit('{"amount": '), eid, F.lit(', "eid": '), eid, F.lit("}")),
        )
    )
    tagged = e.select(F.col("event_type"), payload.alias("payload"))
    return schema_drift_report(spark, tagged, "payload", "event_type").orderBy(
        "group_key", "field"
    )


@register_query(
    "doc_unigram_logprob",
    oracle=r"""
    WITH tk AS (
        SELECT doc_id,
               unnest(list_filter(
                   string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   x -> x <> '')) AS tok
        FROM documents
    ), f AS (
        SELECT tok, count(*) AS c FROM tk GROUP BY tok
    ), tot AS (SELECT CAST(sum(c) AS DOUBLE) AS s FROM f)
    SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(CAST(f.c AS DOUBLE) / tot.s)), 6) AS lm_score
    FROM tk JOIN f USING (tok) CROSS JOIN tot
    GROUP BY tk.doc_id ORDER BY tk.doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM scoring (operators/text.unigram_logprob_score):
    mean ln p(token) under the corpus' own unigram distribution — the
    distributional quality filter (rare-token junk scores low). Token
    frequency table via map-side-combined count, NO broadcast hint on
    the vocabulary join (AQE decides; TF-IDF lesson), 1-row total as a
    broadcast scalar."""
    from ..operators.text import unigram_logprob_score

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob_score(docs).orderBy("doc_id")


@register_query(
    "doc_duplicate_clusters",
    oracle=r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' '))) END AS sh
        FROM toks
    ), jidx AS MATERIALIZED (
        -- inverted-index form (r9): see the dedup_lsh_recall_eval note
        SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh
    ), pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*)::DOUBLE
                   / (min(a.n) + min(b.n) - count(*)) AS jaccard
            FROM jidx a JOIN jidx b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) WHERE jaccard >= 0.5
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(n, m) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
    )
    SELECT n AS doc_id, CAST(least(n, min(m)) AS BIGINT) AS component
    FROM reach GROUP BY n ORDER BY doc_id
    """,
)
def doc_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster labeling: exact 3-gram Jaccard pairs (>= 0.5)
    fed into iterative min-label connected components (operators/dedup.
    connected_components — per-round equi-joins, AQE re-plans as the
    frontier shrinks, convergence flag rides the update pass). The
    oracle replays the same edge set and labels components with a
    recursive transitive closure — upgrading CC from unit-only to
    value-hash-checked."""
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    return (
        connected_components(pairs)
        .select(F.col("id").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


@register_query(
    "brand_revenue_salted",
    oracle="""
    SELECT p.p_brand,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
               AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand ORDER BY p.p_brand
    """,
)
def brand_revenue_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (functions/partitioning.salted_join):
    identical SEMANTICS to the plain equi-join — which is exactly what
    the oracle checks — but the fact side carries a random salt and the
    dimension side explodes across all salt values, so one hot part key
    spreads over n_salts reducers. The aggregate is salt-invariant.
    Use case: AQE skew-split can't help (e.g. when a downstream
    co-partitioning pins the exchange)."""
    from ..functions.partitioning import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(li, part, "l_partkey", n_salts=8)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast(_DEC)
                    * (F.lit(1) - F.col("l_discount").cast(_DEC))
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


@register_query("semantic_cluster_sizes")
def semantic_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd k-means fit over the embeddings table (k=8, 10 rounds,
    deterministic first-k init) then cluster-size histogram — the
    iterative-algorithm gate entry (rows-only: float partial-sum order
    makes centroid trajectories engine-specific, so there is no SQL
    twin; the assignment kernel itself is oracle-checked by
    kmeans_assign_embeddings)."""
    from ..operators.clustering import assign_clusters, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(emb, 8, max_iter=10)
    return (
        assign_clusters(emb, centroids, keep_cols=["vec_id"])
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cluster_id")
    )


@register_query(
    "doc_exact_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ) WHERE rn <= 30 ORDER BY doc_id
    """,
)
def doc_exact_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-30-per-language sample (functions/sampling.
    exact_stratified_sample): deterministic md5-order rank within each
    stratum — the exact-count eval-set curation primitive. One
    stratum-partitioned shuffle (documented skew bound); the oracle
    replays the identical md5 ordering."""
    from ..functions.sampling import exact_stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        exact_stratified_sample(docs, "lang", 30, key="doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register_query(
    "doc_near_dedup_exact",
    oracle=r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' '))) END AS sh
        FROM toks
    ), jidx AS MATERIALIZED (
        -- inverted-index form (r9): see the dedup_lsh_recall_eval note
        SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh
    ), pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*)::DOUBLE
                   / (min(a.n) + min(b.n) - count(*)) AS jaccard
            FROM jidx a JOIN jidx b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) WHERE jaccard >= 0.5
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(n, m) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
    ), losers AS (
        SELECT n FROM reach GROUP BY n HAVING least(n, min(m)) < n
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id NOT IN (SELECT n FROM losers)
    ORDER BY d.doc_id
    """,
)
def doc_near_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL near-dedup pipeline on deterministic edges: exact
    3-gram Jaccard pairs (>= 0.5) → connected components → keep the
    min-id representative per cluster (operators/dedup.dedup_keep_min).
    With exact pairs instead of LSH candidates the whole pipeline is
    SQL-replayable, so the end-to-end kept-set is value-hash-checked —
    the LSH-candidate variant (near_dedup_docs) keeps its rows-only
    check and at 100 TB supplies the candidates to this same kernel."""
    from ..operators.dedup import dedup_keep_min, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    return (
        dedup_keep_min(docs, pairs, "doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register_query(
    "doc_bm25_scores",
    oracle=r"""
    WITH tk AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   x -> x <> '') AS toks
        FROM documents
    ), lens AS (
        SELECT doc_id, len(toks) AS dl FROM tk
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM lens
    ), hits AS (
        SELECT doc_id,
               unnest(list_filter(toks,
                   t -> list_contains(['data', 'model', 'learning'], t))) AS term
        FROM tk
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM hits GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term
    )
    SELECT tf.doc_id,
           round(sum(
               ln(1.0 + (stats.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / stats.avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN dfreq USING (term)
    JOIN lens ON tf.doc_id = lens.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id ORDER BY tf.doc_id
    """,
)
def doc_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval scoring (operators/text.bm25_scores)
    for the query bag {data, model, learning} — the exact-scoring
    counterpart to the ANN vector-search family. The token explode is
    pre-filtered to the query terms so only hits shuffle; N/avgdl and
    the |q|-row df table broadcast; the oracle replays the identical
    k1=1.2, b=0.75 formula."""
    from ..operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["data", "model", "learning"]).orderBy("doc_id")


@register_query(
    "doc_cdc_chunks",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), nz AS (
        SELECT * FROM toks WHERE len(t) > 0
    ), bounds AS (
        SELECT doc_id, t,
               CASE WHEN len(t) <= 4 THEN []::BIGINT[]
                    ELSE list_filter(generate_series(4, len(t)),
                        i -> i < len(t)
                             AND (CAST(concat('0x', substring(md5(array_to_string(t[i-3:i], ' ')), 1, 8)) AS BIGINT) % 16) = 0)
               END AS bs
        FROM nz
    ), spans AS (
        SELECT doc_id, t,
               list_prepend(CAST(1 AS BIGINT), list_transform(bs, b -> b + 1)) AS ss,
               list_append(bs, CAST(len(t) AS BIGINT)) AS es
        FROM bounds
    )
    SELECT doc_id,
           CAST(unnest(generate_series(1, len(ss))) - 1 AS INT) AS chunk_idx,
           CAST(unnest(list_transform(generate_series(1, len(ss)), j -> es[j] - ss[j] + 1)) AS INT) AS n_chunk_tokens,
           unnest(list_transform(generate_series(1, len(ss)), j -> array_to_string(t[ss[j]:es[j]], ' '))) AS chunk_text,
           unnest(list_transform(generate_series(1, len(ss)), j -> md5(array_to_string(t[ss[j]:es[j]], ' ')))) AS chunk_md5
    FROM spans ORDER BY doc_id, chunk_idx
    """,
)
def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators/packing.cdc_chunk_documents):
    rolling md5-window boundaries (window=4, modulus=16) make chunk
    spans follow content, so an edit near a document's head leaves
    downstream chunk hashes intact — the shift-resistant dedup unit.
    Pure narrow array transforms + the output explode; the oracle
    replays the identical boundary arithmetic."""
    from ..operators.packing import cdc_chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunk_documents(docs).orderBy("doc_id", "chunk_idx")


def _pagerank_oracle_sql(
    iters: int = 5, damping: float = 0.85, edges_sql: str | None = None
) -> str:
    """Unrolled power-iteration oracle (recursive CTEs with aggregation
    on the recursive term are non-standard, so each round is its own
    CTE — same math as operators/graph.pagerank). ``edges_sql`` is the
    distinct (src, dst) edge CTE body; default = the part↔supplier
    bipartite graph."""
    edges_sql = edges_sql or """
        SELECT DISTINCT concat('p', CAST(l_partkey AS VARCHAR)) AS src,
                        concat('s', CAST(l_suppkey AS VARCHAR)) AS dst
        FROM lineitem
        UNION
        SELECT DISTINCT concat('s', CAST(l_suppkey AS VARCHAR)),
                        concat('p', CAST(l_partkey AS VARCHAR))
        FROM lineitem
    """
    head = f"""
    WITH e AS ({edges_sql}), nodes AS (
        SELECT src AS node FROM e UNION SELECT dst FROM e
    ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
    pr0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)"""
    step = """,
    pr{k} AS (
        SELECT nodes.node,
               (1.0 - {damping}) / nn.n + {damping} * (
                   coalesce(c.s, 0.0)
                   + (SELECT coalesce(sum(p.rank), 0.0) FROM pr{j} p
                      LEFT JOIN deg ON p.node = deg.src
                      WHERE deg.src IS NULL) / nn.n
               ) AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
            SELECT e.dst, sum(p.rank / deg.d) AS s
            FROM pr{j} p JOIN e ON p.node = e.src JOIN deg ON e.src = deg.src
            GROUP BY e.dst
        ) c ON nodes.node = c.dst
    )"""
    parts = [head]
    for k in range(1, iters + 1):
        parts.append(step.format(k=k, j=k - 1, damping=damping))
    parts.append(
        f"\n    SELECT node, round(rank, 6) AS rank FROM pr{iters} ORDER BY node"
    )
    return "".join(parts)


@register_query("part_supplier_pagerank", oracle=_pagerank_oracle_sql())
def part_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part↔supplier bipartite graph from lineitem
    (operators/graph.pagerank, 5 power iterations, damping 0.85) — the
    weighted-propagation sibling of connected components: per round one
    (dst, double)-keyed shuffle with map-side combine, dangling mass as
    a 1-row broadcast, rank vectors never collected. The oracle unrolls
    the identical iteration in SQL."""
    from ..operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    bwd = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    return (
        pagerank(fwd.union(bwd), iters=5, damping=0.85)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy("node")
    )


@register_query(
    "events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id AS u, min(epoch_us(ts)) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.u
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.u
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        GROUP BY e.user_id
    ), steps(step, step_name) AS (
        VALUES (1, 'view'), (2, 'click'), (3, 'purchase')
    ), reached AS (
        SELECT s1.u,
               1 + CASE WHEN s2.u IS NULL THEN 0 ELSE 1 END
                 + CASE WHEN s3.u IS NULL THEN 0 ELSE 1 END AS step_reached
        FROM s1 LEFT JOIN s2 ON s1.u = s2.u LEFT JOIN s3 ON s1.u = s3.u
    )
    SELECT steps.step, steps.step_name, CAST(count(*) AS BIGINT) AS n_users
    FROM steps JOIN reached ON reached.step_reached >= steps.step
    GROUP BY steps.step, steps.step_name ORDER BY steps.step
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel (operators/funnel):
    MATCH_RECOGNIZE-shaped ordered-sequence counting as chained min()
    aggregations per user — no per-user event arrays, so a whale user
    costs the same as any other (SCALE.md). Greedy earliest-prefix
    matching; strict timestamp order between steps."""
    from ..operators.funnel import funnel_counts

    e = load_table(spark, sf_dir, "events")
    return funnel_counts(e, ["view", "click", "purchase"])


@register_query(
    "events_touch_attribution",
    oracle="""
    WITH ev AS (
        SELECT user_id AS u, epoch_us(ts) AS t, event_type AS c,
               CAST(value AS DOUBLE) AS v,
               event_type = 'purchase' AS p
        FROM events
        WHERE event_type IN ('view', 'click', 'signup', 'purchase')
    ), j AS (
        SELECT *, min(CASE WHEN p THEN t END) OVER
            (PARTITION BY u ORDER BY t
             RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS jk
        FROM ev
    ), touches AS (
        SELECT u, c, jk,
               row_number() OVER (PARTITION BY u, jk ORDER BY t, c) AS pos,
               count(*) OVER (PARTITION BY u, jk) AS k
        FROM j WHERE NOT p AND jk IS NOT NULL
    ), purchases AS (
        SELECT u, t AS jk, v FROM j WHERE p
    ), credited AS (
        SELECT tc.c AS channel,
               CASE WHEN tc.k = 1 THEN 1.0
                    WHEN tc.k = 2 THEN 0.5
                    WHEN tc.pos = 1 THEN 0.4
                    WHEN tc.pos = tc.k THEN 0.4
                    ELSE 0.2 / (tc.k - 2) END * pu.v AS cv
        FROM touches tc JOIN purchases pu ON tc.u = pu.u AND tc.jk = pu.jk
    )
    SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
           round(sum(cv), 4) AS credited_value
    FROM credited GROUP BY channel ORDER BY channel
    """,
)
def events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution
    (operators/funnel.position_attribution): view/click/signup touches
    split each purchase's value 40/20/40 across the journey ending at
    the user's next purchase. The journey key is a FORWARD conditional
    RANGE window — each touch maps to exactly one purchase inside the
    same per-user sort the sessionizer uses, so there is no touch ×
    purchase pair join anywhere; purchase values come back via a plain
    equi-join on (user, purchase_ts) and the rollup is a
    |channels|-row aggregate. The oracle replays the identical window
    chain."""
    from ..operators.funnel import position_attribution

    e = load_table(spark, sf_dir, "events")
    return position_attribution(
        e, touch_types=["view", "click", "signup"]
    ).orderBy("channel")


@register_query(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS BIGINT) AS week_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-event week, one
    row per (cohort, week-offset) with the distinct users still active —
    the classic product-analytics triangle, as two partial-agg passes
    plus one user-keyed join (first-touch table ⋈ events; AQE sizes the
    join). All-integer output, engine-exact."""
    e = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    firsts = (
        e.select("user_id", F.date_trunc("week", ts).alias("w"))
        .groupBy("user_id")
        .agg(F.min("w").alias("cohort_week"))
    )
    activity = (
        e.select("user_id", F.date_trunc("week", ts).alias("w"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.col("w"), F.col("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
        .orderBy("cohort_week", "week_offset")
    )


@register_query(
    "user_decayed_value",
    oracle="""
    WITH ref AS (SELECT max(CAST(ts AS DATE)) AS r FROM events),
    w AS (
        SELECT e.user_id,
               CAST(e.value AS DECIMAL(18,6)) AS v,
               CAST(power(0.5, least(CAST(date_diff('day', CAST(e.ts AS DATE), ref.r) // 7 AS BIGINT), 12)) AS DECIMAL(16,12)) AS wt
        FROM events e CROSS JOIN ref
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor(sum(v * wt) * 10000) AS BIGINT) / 10000.0 AS decayed_value
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def user_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted per-user engagement (functions/timeseries.
    time_decay_sum, half-life 7 days): one narrow weight projection + a
    partial-aggregated sum — the freshness-aware ranking signal with
    the exact cost profile of a plain groupBy-sum. Whole-period decay
    keeps weights exact powers of two, so both engines compute
    identical per-row weights."""
    from ..functions.timeseries import time_decay_sum

    e = load_table(spark, sf_dir, "events")
    return time_decay_sum(e, ["user_id"], half_life_days=7).orderBy("user_id")


# ===========================================================================
# Round 4 additions: span-level dedup, weighted sampling, triangles,
# bigram LM
# ===========================================================================

@register_query(
    "doc_duplicate_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), lens AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
    ), grams AS (
        SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
               array_to_string(t[CAST(g.i AS INT)+1:CAST(g.i AS INT)+5], ' ') AS gram
        FROM toks CROSS JOIN LATERAL unnest(range(0, len(t) - 4)) AS g(i)
        WHERE len(t) >= 5
    ), dup AS (
        SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
    ), hits AS (
        SELECT doc_id, pos,
               least(5, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 5)) AS cov
        FROM grams WHERE gram IN (SELECT gram FROM dup)
    ), agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams,
               CAST(sum(cov) AS BIGINT) AS dup_tokens
        FROM hits GROUP BY doc_id
    )
    SELECT l.doc_id, l.n_tokens,
           coalesce(a.n_dup_grams, 0) AS n_dup_grams,
           coalesce(a.dup_tokens, 0) AS dup_tokens,
           round(coalesce(a.dup_tokens, 0) / greatest(l.n_tokens, 1), 6) AS dup_fraction
    FROM lens l LEFT JOIN agg a USING (doc_id) ORDER BY l.doc_id
    """,
)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup statistics (operators/dedup.
    duplicate_span_stats): per-doc fraction of tokens inside a token
    5-gram repeated ≥2 times corpus-wide — the Lee-et-al span
    granularity between paragraph dedup and MinHash near-dup. Spark
    folds each gram to an 8-byte xxhash64 BEFORE the count shuffle and
    closes coverage with one per-doc window; the oracle groups the gram
    STRINGS (DuckDB has no xxhash64) — identical answers barring a
    64-bit collision, which at 2³² grams is birthday-bound negligible."""
    from ..operators.dedup import duplicate_span_stats

    d = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(d, k=5, min_count=2).orderBy("doc_id")


@register_query(
    "doc_cross_doc_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), lens AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
    ), grams AS (
        SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
               array_to_string(t[CAST(g.i AS INT)+1:CAST(g.i AS INT)+5], ' ') AS gram
        FROM toks CROSS JOIN LATERAL unnest(range(0, len(t) - 4)) AS g(i)
        WHERE len(t) >= 5
    ), dup AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
        SELECT doc_id, pos,
               least(5, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 5)) AS cov
        FROM grams WHERE gram IN (SELECT gram FROM dup)
    ), agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams,
               CAST(sum(cov) AS BIGINT) AS dup_tokens
        FROM hits GROUP BY doc_id
    )
    SELECT l.doc_id, l.n_tokens,
           coalesce(a.n_dup_grams, 0) AS n_dup_grams,
           coalesce(a.dup_tokens, 0) AS dup_tokens,
           round(coalesce(a.dup_tokens, 0) / greatest(l.n_tokens, 1), 6) AS dup_fraction
    FROM lens l LEFT JOIN agg a USING (doc_id) ORDER BY l.doc_id
    """,
)
def doc_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DOCUMENT duplicated-span coverage (operators/dedup.
    cross_doc_span_stats): per-doc fraction of tokens inside a 5-gram
    appearing in ≥2 DISTINCT documents — the boilerplate/quotation
    detector. Differs from doc_duplicate_spans exactly where it
    matters: a document repeating ITSELF trips the corpus-wide count
    but not this one; syndicated passages and templated banners trip
    both. Same hash-first shuffle discipline (count(DISTINCT doc) over
    8-byte keys, two-level partial agg); the oracle replays on gram
    strings with the same HAVING predicate."""
    from ..operators.dedup import cross_doc_span_stats

    d = load_table(spark, sf_dir, "documents")
    return cross_doc_span_stats(d, k=5, min_docs=2).orderBy("doc_id")


@register_query(
    "doc_incremental_span_stats",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), lens AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
    ), grams AS (
        SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
               array_to_string(t[CAST(g.i AS INT)+1:CAST(g.i AS INT)+5], ' ') AS gram
        FROM toks CROSS JOIN LATERAL unnest(range(0, len(t) - 4)) AS g(i)
        WHERE len(t) >= 5
    ), dup AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
        SELECT doc_id, pos,
               least(5, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 5)) AS cov
        FROM grams WHERE gram IN (SELECT gram FROM dup)
    ), agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams,
               CAST(sum(cov) AS BIGINT) AS dup_tokens
        FROM hits GROUP BY doc_id
    )
    SELECT l.doc_id, l.n_tokens,
           coalesce(a.n_dup_grams, 0) AS n_dup_grams,
           coalesce(a.dup_tokens, 0) AS dup_tokens,
           round(coalesce(a.dup_tokens, 0) / greatest(l.n_tokens, 1), 6) AS dup_fraction
    FROM lens l LEFT JOIN agg a USING (doc_id) ORDER BY l.doc_id
    """,
)
def doc_incremental_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-run duplicated-span statistics (NEW round 7,
    streaming/span_stream): the corpus arrives as 3 batches (doc_id %
    3), each contributing one (gram-hash, count, distinct-docs) partial
    partition to a persistent store; after ingest the store is
    COMPACTED (per-gram sums through the crash-safe durable_fold
    commit-marker protocol) and the whole corpus's cross-doc coverage
    is read back against the folded store. The oracle is the single-run
    `doc_cross_doc_spans` SQL verbatim — hash-green means the
    accumulate → fold → readout chain is exactly additive (per-batch
    count(DISTINCT doc) sums to the corpus count because each doc's
    grams live in exactly one batch), the merge==direct equality
    pattern of the sketch stores applied to the Lee et al. 2022 span
    statistic."""
    import tempfile

    from ..streaming.span_stream import (
        compact_span_store,
        span_gram_batch_update,
        span_store_coverage,
    )

    d = load_table(spark, sf_dir, "documents")
    store = tempfile.mkdtemp(prefix="spanstore_gate_")
    for b in range(3):
        span_gram_batch_update(
            d.filter(F.col("doc_id") % 3 == b), b, store_dir=store, k=5
        )
    compact_span_store(spark, store)
    return span_store_coverage(
        spark, store, d, k=5, min_docs=2
    ).orderBy("doc_id")


@register_query(
    "corpus_boilerplate_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id,
               array_to_string(t[CAST(g.i AS INT)+1:CAST(g.i AS INT)+5], ' ') AS gram
        FROM toks CROSS JOIN LATERAL unnest(range(0, len(t) - 4)) AS g(i)
        WHERE len(t) >= 5
    )
    SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM grams GROUP BY gram
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, gram ASC LIMIT 20
    """,
)
def corpus_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate REPORT (operators/dedup.top_shared_spans): the
    20 token 5-grams shared by the most documents, with their TEXT —
    what a curation run reads before writing blocklist rules. Two-phase
    exactness: hash-keyed candidate filter first (gram text never
    shuffles corpus-wide), then text re-derived by re-slicing only the
    surviving positions and re-aggregated BY TEXT with the same
    predicate — a 64-bit collision can add phase-2 work but never a
    wrong row, and the text tiebreak pins the top-20 set in any
    engine."""
    from ..operators.dedup import top_shared_spans

    d = load_table(spark, sf_dir, "documents")
    return top_shared_spans(d, k=5, min_docs=2, top_n=20)


@register_query(
    "doc_weighted_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, source, n_chars,
               pow(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0,
                   1.0 / CAST(n_chars AS DOUBLE)) AS es
        FROM documents WHERE n_chars > 0
    ), top AS (
        SELECT doc_id, lang, source, n_chars
        FROM keyed
        ORDER BY es DESC, md5(CAST(doc_id AS VARCHAR))
        LIMIT 50
    )
    SELECT * FROM top ORDER BY doc_id
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (functions/sampling.weighted_sample, Efraimidis–Spirakis keys over
    the md5 content hash): exactly 50 docs with inclusion probability
    ∝ n_chars — the quality-weighted selection step. Top-n plans as
    TakeOrderedAndProject (per-partition heap), not a global sort; the
    oracle replays the u = md5-fraction and u^(1/w) key bit-for-bit."""
    from ..functions.sampling import weighted_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return weighted_sample(
        d, 50, weight_col="n_chars", key="doc_id"
    ).orderBy("doc_id")


@register_query(
    "part_copurchase_triangles",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem WHERE l_quantity >= 40
    ), e AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM ps a JOIN ps b ON a.o = b.o AND a.p < b.p
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) GROUP BY node
    ), oriented AS (
        SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS a,
               CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS b
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), tri AS (
        SELECT w1.a AS x, w1.b AS y, w2.b AS z
        FROM oriented w1 JOIN oriented w2 ON w1.b = w2.a
        WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.a = w1.a AND o.b = w2.b)
    ), per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    )
    SELECT d.node, coalesce(p.n_triangles, 0) AS n_triangles
    FROM deg d LEFT JOIN per_node p USING (node) ORDER BY d.node
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts on the market-basket co-purchase graph
    (parts linked when the same order buys both at quantity ≥ 40;
    operators/graph.triangle_count) — local clustering, the third graph
    primitive next to pagerank and connected components. The quantity
    floor keeps per-order fan-out ~1, so the edge set (and the triangle
    count — measured exactly 10.0× at the 10× replica) grows linearly
    with data; the earlier co-SUPPLIER formulation degenerated to the
    complete graph K_|suppliers| (C(n,3) triangles by construction —
    cubic in scale factor, 1.66 B triangles at 10×·sf0.1) because every
    supplier pair shares some part. Degree-oriented compact-forward
    join keeps wedge fan-out O(√m) per node; the oracle replays the
    identical orientation and closure in SQL."""
    from ..operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.filter(F.col("l_quantity") >= 40)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = ps.select(F.col("o"), F.col("p").alias("p2"))
    edges = (
        ps.join(b, "o")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return triangle_count(edges).orderBy("node")


@register_query(
    "part_copurchase_kcore",
    oracle="""
    WITH ps AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem WHERE l_quantity >= 40
    ), e0 AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM ps a JOIN ps b ON a.o = b.o AND a.p < b.p
    ), k1 AS MATERIALIZED (
        SELECT node FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY node HAVING count(*) >= 2
    ), e1 AS MATERIALIZED (
        SELECT u, v FROM e0
        WHERE u IN (SELECT node FROM k1) AND v IN (SELECT node FROM k1)
    ), k2 AS MATERIALIZED (
        SELECT node FROM (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
        GROUP BY node HAVING count(*) >= 2
    ), e2 AS MATERIALIZED (
        SELECT u, v FROM e1
        WHERE u IN (SELECT node FROM k2) AND v IN (SELECT node FROM k2)
    ), k3 AS MATERIALIZED (
        SELECT node FROM (SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
        GROUP BY node HAVING count(*) >= 2
    ), e3 AS MATERIALIZED (
        SELECT u, v FROM e2
        WHERE u IN (SELECT node FROM k3) AND v IN (SELECT node FROM k3)
    ), k4 AS MATERIALIZED (
        SELECT node FROM (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
        GROUP BY node HAVING count(*) >= 2
    ), e4 AS MATERIALIZED (
        SELECT u, v FROM e3
        WHERE u IN (SELECT node FROM k4) AND v IN (SELECT node FROM k4)
    )
    SELECT node, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT u AS node FROM e4 UNION ALL SELECT v FROM e4)
    GROUP BY node ORDER BY node
    """,
)
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the market-basket co-purchase graph
    (operators/graph.k_core) — the density primitive: peeling away
    degree-1 periphery until a fixpoint leaves only parts embedded in
    cycles of shared orders, the link-farm / loyal-cohort detector
    degree alone can't express (a hub with k leaf neighbors survives a
    degree filter but not the core). Same edge construction as the
    triangle entry. The gate pins ``max_rounds=4`` and the oracle
    unrolls exactly 4 peel rounds — equality is structural: whichever
    round reaches the fixpoint first, the remaining unrolled rounds are
    no-ops on both engines, and a non-converged 4-round cut matches
    round-for-round."""
    from ..operators.graph import k_core

    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.filter(F.col("l_quantity") >= 40)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = ps.select(F.col("o"), F.col("p").alias("p2"))
    edges = (
        ps.join(b, "o")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return k_core(edges, k=2, max_rounds=4).orderBy("node")


@register_query(
    "part_hierarchy_flatten",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT p_partkey AS child, p_partkey // 4 AS parent
        FROM part WHERE p_partkey >= 4
    ), up AS (
        SELECT child AS node, parent AS anc, CAST(1 AS BIGINT) AS depth
        FROM e
        UNION ALL
        SELECT up.node, e.parent, up.depth + 1
        FROM up JOIN e ON up.anc = e.child
    )
    SELECT node, anc AS root, depth, TRUE AS settled
    FROM up WHERE anc NOT IN (SELECT child FROM e)
    ORDER BY node
    """,
)
def part_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive ancestry flattening (operators/graph.flatten_hierarchy)
    — the WITH RECURSIVE query Spark has no native operator for,
    exercised on a synthetic category forest over part (parent =
    partkey/4, so depth grows with log of the key space and the 10×
    replica adds exactly one level). POINTER JUMPING: the jump table
    composes with itself each round — ⌈log₂ depth⌉ self-joins instead
    of depth-many level walks — with the fixpoint probe riding the
    materializing count. The oracle walks the same forest with a true
    recursive CTE; at the fixpoint both describe each node's root and
    exact depth, so equality is semantic, not round-for-round."""
    from ..operators.graph import flatten_hierarchy

    p = load_table(spark, sf_dir, "part")
    edges = p.filter(F.col("p_partkey") >= 4).select(
        F.col("p_partkey").alias("child"),
        F.floor(F.col("p_partkey") / 4).cast("long").alias("parent"),
    )
    return flatten_hierarchy(edges).orderBy("node")


@register_query(
    "doc_bigram_logprob",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), pairs AS (
        SELECT doc_id, t[CAST(g.i AS INT)] AS prev, t[CAST(g.i AS INT)+1] AS cur
        FROM toks CROSS JOIN LATERAL unnest(range(1, len(t))) AS g(i)
        WHERE len(t) >= 2
    ), doc_pair AS (
        SELECT doc_id, prev, cur, count(*) AS k FROM pairs GROUP BY ALL
    ), big AS (
        SELECT prev, cur, sum(k) AS c2 FROM doc_pair GROUP BY ALL
    ), marg AS (
        SELECT prev, sum(c2) AS c1 FROM big GROUP BY prev
    ), unig AS (
        SELECT u.tok AS cur, count(*) AS cu FROM (
            SELECT unnest(t) AS tok FROM toks
        ) u GROUP BY u.tok
    ), tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS t FROM unig),
    scored AS (
        SELECT dp.doc_id, CAST(sum(dp.k) AS BIGINT) AS n_bigrams,
               round(sum(dp.k * ln(0.9 * CAST(b.c2 AS DOUBLE) / CAST(m.c1 AS DOUBLE)
                                   + 0.1 * CAST(u.cu AS DOUBLE) / tot.t)) / sum(dp.k), 6) AS lm2_score
        FROM doc_pair dp
        JOIN big b USING (prev, cur)
        JOIN marg m USING (prev)
        JOIN unig u ON u.cur = dp.cur
        CROSS JOIN tot
        GROUP BY dp.doc_id
    )
    SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.lm2_score
    FROM documents d LEFT JOIN scored s USING (doc_id) ORDER BY d.doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated corpus-bigram LM scoring (operators/text.
    bigram_logprob_score, λ=0.9): catches word-salad docs whose tokens
    are individually common but never co-occur — the co-occurrence
    quality filter unigram scoring is blind to. Deskewed (doc, prev,
    cur) partial counts feed every corpus table; AQE decides all
    vocabulary joins."""
    from ..operators.text import bigram_logprob_score

    d = load_table(spark, sf_dir, "documents")
    return bigram_logprob_score(d, lam=0.9).orderBy("doc_id")


@register_query(
    "embedding_hard_negatives",
    oracle="""
    SELECT anchor_id, vec_id, label, rnk FROM (
        SELECT a.vec_id AS anchor_id, c.vec_id, c.label,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], a.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rnk
        FROM embeddings c, embeddings a
        WHERE a.vec_id < 5 AND c.label <> a.label AND c.vec_id <> a.vec_id
    ) WHERE rnk <= 5 ORDER BY anchor_id, rnk
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negatives) for 5
    anchor vectors: the 5 most-cosine-similar corpus vectors with a
    DIFFERENT label — the contrastive-training pair miner. Broadcast
    anchor batch, corpus never shuffles, label filter runs before the
    top-k window. Integer ranks exposed; cosine stays internal."""
    from ..operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5)
    return (
        hard_negatives(emb, anchors, k=5)
        .select("anchor_id", "vec_id", "label", F.col("rank").alias("rnk"))
        .orderBy("anchor_id", "rnk")
    )


@register_query(
    "doc_hybrid_rrf",
    oracle=r"""
    WITH tk AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   x -> x <> '') AS toks
        FROM documents
    ), lens AS (
        SELECT doc_id, len(toks) AS dl FROM tk
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM lens
    ), hits AS (
        SELECT doc_id,
               unnest(list_filter(toks,
                   t -> list_contains(['data', 'model', 'learning'], t))) AS term
        FROM tk
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM hits GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term
    ), bm AS (
        SELECT tf.doc_id,
               round(sum(
                   ln(1.0 + (stats.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / stats.avgdl))
               ), 6) AS bm25
        FROM tf
        JOIN dfreq USING (term)
        JOIN lens ON tf.doc_id = lens.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ), r1 AS (
        SELECT CAST(0 AS BIGINT) AS query_id, doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM bm QUALIFY rank <= 20
    ), q AS (
        SELECT embedding FROM embeddings WHERE vec_id = 0
    ), r2 AS (
        SELECT CAST(0 AS BIGINT) AS query_id, c.vec_id AS doc_id,
               row_number() OVER (
                   ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rank
        FROM embeddings c CROSS JOIN q QUALIFY rank <= 20
    ), u AS (
        SELECT query_id, doc_id, 1.0 / (60 + rank) AS s FROM r1
        UNION ALL
        SELECT query_id, doc_id, 1.0 / (60 + rank) FROM r2
    ), f AS (
        SELECT query_id, doc_id, sum(s) AS sc FROM u GROUP BY ALL
    )
    SELECT query_id, doc_id, fused_rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sc DESC, doc_id) AS fused_rank
        FROM f
    ) WHERE fused_rank <= 10 ORDER BY query_id, fused_rank
    """,
)
def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (operators/similarity.
    reciprocal_rank_fusion): BM25 top-20 for {data, model, learning}
    fused with cosine top-20 against query vector 0 (doc_id ≡ vec_id in
    the synthetic corpus) — the calibration-free lexical ⊕ vector
    combiner. Fusion consumes integer ranks only, so the two scoring
    scales never meet; output is integer fused ranks."""
    from ..operators.similarity import brute_force_topk, reciprocal_rank_fusion
    from ..operators.text import bm25_scores
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_scores(docs, ["data", "model", "learning"])
    # TakeOrderedAndProject cuts to 20 rows BEFORE the unpartitioned
    # ranking window, so the single-partition sort only ever sees 20 rows
    w = W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    r1 = (
        bm.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
        .select(F.lit(0).cast("long").alias("query_id"), "doc_id", "rank")
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("query_id"), "embedding"
    )
    r2 = brute_force_topk(emb, q, k=20).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    return reciprocal_rank_fusion(
        [r1, r2], k=10, id_col="doc_id"
    ).orderBy("query_id", "fused_rank")


@register_query(
    "doc_remove_duplicate_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
               array_to_string(t[CAST(g.i AS INT)+1:CAST(g.i AS INT)+5], ' ') AS gram
        FROM toks CROSS JOIN LATERAL unnest(range(0, len(t) - 4)) AS g(i)
        WHERE len(t) >= 5
    ), flagged AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY gram) AS n,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        FROM grams
    ), removals AS (
        SELECT DISTINCT doc_id, pos + u.i AS tok_idx
        FROM flagged CROSS JOIN LATERAL unnest(range(0, 5)) AS u(i)
        WHERE n >= 2 AND rn > 1
    ), positions AS (
        SELECT doc_id, CAST(p.i AS BIGINT) AS tok_idx,
               t[CAST(p.i AS INT)+1] AS tok
        FROM toks CROSS JOIN LATERAL unnest(range(0, len(t))) AS p(i)
    ), kept AS (
        SELECT p.* FROM positions p
        ANTI JOIN removals r USING (doc_id, tok_idx)
    ), agg AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY tok_idx) AS text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.text, '') AS text,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           coalesce(a.n_kept, 0) AS n_kept
    FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id
    """,
)
def doc_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL (operators/dedup.
    remove_duplicate_spans): every token covered by a corpus-duplicated
    5-gram occurrence is excised except inside the gram's globally-first
    occurrence — the action step over `doc_duplicate_spans`' statistics.
    First-occurrence election shuffles (8-byte hash, id, pos) triples;
    the k-way removal explode fans out only duplicated non-first
    occurrences. Row counts are stable through the pass (fully-excised
    docs keep an empty-text row)."""
    from ..operators.dedup import remove_duplicate_spans

    d = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(d, k=5, min_count=2).orderBy("doc_id")


# ===========================================================================
# Round-4 additions: classifier scoring, novelty, domain caps, SCD2,
# keep-best near-dedup, rolling distinct users
# ===========================================================================

# Fixture model for the linear classifier gate entry: weights over the
# synthetic corpus vocabulary, quantized to quarter steps (exact in
# DECIMAL on both engines). A real pipeline loads these from an
# offline-trained fastText / logistic-regression model file.
_CLASSIFIER_WEIGHTS: dict[str, float] = {
    "spark": 1.5,
    "fast": 1.0,
    "model": 1.25,
    "learning": 1.0,
    "merge": 0.75,
    "data": 0.75,
    "window": 0.5,
    "hash": 0.25,
    "the": -0.25,
    "a": -0.5,
    "slow": -1.0,
    "error": -0.75,
    "row": -0.25,
}
_CLASSIFIER_BIAS = -0.5


def _classifier_weights_values_sql() -> str:
    rows = ", ".join(
        f"('{t}', CAST({w!r} AS DECIMAL(10,4)))"
        for t, w in sorted(_CLASSIFIER_WEIGHTS.items())
    )
    return f"(VALUES {rows}) AS w(token, wt)"


@register_query(
    "doc_quality_classifier",
    oracle=rf"""
    WITH tk AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   x -> x <> '') AS toks
        FROM documents
    ), hits AS (
        SELECT doc_id, unnest(toks) AS token FROM tk
    ), s AS (
        SELECT doc_id, sum(wt) AS ws
        FROM hits JOIN {_classifier_weights_values_sql()} USING (token)
        GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(len(tk.toks) AS INT) AS n_tokens,
           CAST(coalesce(s.ws, 0) * 10000 AS BIGINT) AS weight_sum_1e4,
           round(1.0 / (1.0 + exp(-({_CLASSIFIER_BIAS}
               + CASE WHEN len(tk.toks) > 0
                      THEN CAST(coalesce(s.ws, 0) AS DOUBLE) / len(tk.toks)
                      ELSE 0.0 END))), 6) AS quality_prob
    FROM tk LEFT JOIN s USING (doc_id) ORDER BY tk.doc_id
    """,
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText/CCNet-style model-based quality gate (operators/
    classify.linear_text_score): broadcast linear bag-of-words model,
    mean pooling, sigmoid. The gate entry runs the zero-shuffle map
    strategy (literal MAP fold, one codegen'd projection); the join
    strategy (broadcast weight table, real-vocabulary scale) is
    unit-tested equivalent. DECIMAL accumulation makes the score
    partitioning-independent; the oracle replays the identical model."""
    from ..operators.classify import linear_text_score

    docs = load_table(spark, sf_dir, "documents")
    return (
        linear_text_score(
            docs, _CLASSIFIER_WEIGHTS, bias=_CLASSIFIER_BIAS, how="map"
        )
        .select(
            "doc_id",
            "n_tokens",
            # DECIMAL outputs are driver-hash-unsafe (r1 HUGEINT class,
            # tests/test_oracle_types.py): emit the exact sum as an
            # integer at the weight quantum (1e-4)
            (F.col("weight_sum") * 10000).cast("long").alias("weight_sum_1e4"),
            "quality_prob",
        )
        .orderBy("doc_id")
    )


@register_query(
    "doc_ngram_novelty",
    oracle=r"""
    WITH tk AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(
                          generate_series(1, len(t) - 2),
                          i -> md5(array_to_string(t[i:i+2], ' ')))) END) AS gm
        FROM tk
    ), per AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id
    ), fo AS (
        SELECT gm, min(doc_id) AS fd FROM g GROUP BY gm
    ), nv AS (
        SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nn FROM fo GROUP BY fd
    )
    SELECT tk.doc_id,
           coalesce(per.n, 0) AS n_distinct_grams,
           coalesce(nv.nn, 0) AS n_novel_grams,
           CASE WHEN coalesce(per.n, 0) > 0
                THEN round(CAST(coalesce(nv.nn, 0) AS DOUBLE) / per.n, 6)
           END AS novelty
    FROM tk LEFT JOIN per USING (doc_id) LEFT JOIN nv USING (doc_id)
    ORDER BY tk.doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty vs lower-id corpus (operators/text.
    ngram_novelty): the incremental-information filter between exact
    dedup and span dedup. Grams hash to md5 before leaving the row;
    novelty counts come off the (gram → min id) table directly — no
    gram-keyed join; the oracle replays the identical gram hashing."""
    from ..operators.text import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=3).orderBy("doc_id")


@register_query(
    "doc_domain_cap",
    oracle="""
    SELECT doc_id, source, n_chars, group_rank FROM (
        SELECT doc_id, source, n_chars,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS INT) AS group_rank
        FROM documents
    ) WHERE group_rank <= 10 ORDER BY doc_id
    """,
)
def doc_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (operators/selection.per_group_cap):
    each source contributes at most its 10 best documents (longest
    first, id tiebreak) — Common-Crawl-style source balancing. One
    window shuffle on the domain key, filter applied during the sorted
    scan."""
    from ..operators.selection import per_group_cap

    docs = load_table(spark, sf_dir, "documents")
    return (
        per_group_cap(
            docs, "source", [F.col("n_chars").desc(), F.col("doc_id")], 10
        )
        .select("doc_id", "source", "n_chars", "group_rank")
        .orderBy("doc_id")
    )


@register_query(
    "user_scd2_history",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders
    ), ch AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
        FROM o WHERE prev IS NULL OR prev <> o_orderstatus
    )
    SELECT o_custkey, o_orderstatus,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS valid_to,
           lead(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
    FROM ch ORDER BY o_custkey, valid_from
    """,
)
def user_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history (operators/cdc.scd2_build) over the
    order-status change feed: one versioned row per (customer,
    status) run with half-open validity and an is_current flag — the
    warehouse "as-of T" primitive. Both windows share one Exchange+Sort
    on (custkey, orderdate, orderkey); the oracle replays the identical
    run-collapse and lead."""
    from ..operators.cdc import scd2_build

    orders = load_table(spark, sf_dir, "orders")
    return scd2_build(
        orders,
        "o_custkey",
        ["o_orderstatus"],
        "o_orderdate",
        tiebreak_col="o_orderkey",
    ).orderBy("o_custkey", "valid_from")


@register_query(
    "doc_near_dedup_best",
    oracle=r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' '))) END AS sh
        FROM toks
    ), jidx AS MATERIALIZED (
        -- inverted-index form (r9): see the dedup_lsh_recall_eval note
        SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh
    ), pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*)::DOUBLE
                   / (min(a.n) + min(b.n) - count(*)) AS jaccard
            FROM jidx a JOIN jidx b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) WHERE jaccard >= 0.5
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(n, m) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
    ), comp AS (
        SELECT n AS id, least(n, min(m)) AS component FROM reach GROUP BY n
    ), winners AS (
        SELECT id FROM (
            SELECT c.id,
                   row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY d.n_chars DESC, c.id) AS rn
            FROM comp c JOIN documents d ON d.doc_id = c.id
        ) WHERE rn = 1
    ), losers AS (
        SELECT id FROM comp WHERE id NOT IN (SELECT id FROM winners)
    )
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM losers)
    ORDER BY d.doc_id
    """,
)
def doc_near_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup keeping the BEST representative per cluster
    (operators/dedup.dedup_keep_best): exact 3-gram Jaccard pairs →
    connected components → keep the longest doc (n_chars desc, id
    tiebreak) — production pipelines keep the best copy of a duplicated
    page, not the minimum id. Winner election runs on the (id,
    component, quality) table, never bodies; the oracle replays the
    closure and the same argmax."""
    from ..operators.dedup import dedup_keep_best, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    return (
        dedup_keep_best(docs, pairs, "doc_id", quality_col="n_chars")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@register_query(
    "events_rolling_wau",
    oracle="""
    WITH de AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
        FROM events
    ), days AS (
        SELECT DISTINCT d FROM de
    )
    SELECT days.d AS day, CAST(count(DISTINCT de.user_id) AS BIGINT) AS wau_7d
    FROM days JOIN de ON de.d BETWEEN days.d - 6 AND days.d
    GROUP BY days.d ORDER BY day
    """,
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (functions/
    timeseries.rolling_distinct_count) — the WAU curve. COUNT(DISTINCT)
    can't ride a sliding frame, so the plan explodes each collapsed
    (day, user) fact onto the 7 report days it covers instead of the
    quadratic day-range self-join the oracle is allowed to use at
    sf0.01."""
    from ..functions.timeseries import rolling_distinct_count

    events = load_table(spark, sf_dir, "events")
    return (
        rolling_distinct_count(
            events, ts_col="ts", key_col="user_id", window_days=7,
            out_col="wau_7d",
        )
        .orderBy("day")
    )


@register_query(
    "embedding_outlier_scores",
    oracle=r"""
    WITH n AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
    ), dims AS (
        SELECT p.i,
               sum(CAST(CAST(embedding[p.i] AS DOUBLE) AS DECIMAL(20,12))) AS s
        FROM embeddings
        CROSS JOIN LATERAL unnest(generate_series(1, len(embedding))) AS p(i)
        GROUP BY p.i
    ), mu AS (
        SELECT list(CAST(s AS DOUBLE) / n.n ORDER BY i) AS ml FROM dims, n
    ), d AS (
        SELECT vec_id,
               round(sqrt(list_sum(list_transform(
                   generate_series(1, len(embedding)),
                   j -> (CAST(embedding[j] AS DOUBLE) - ml[j])
                        * (CAST(embedding[j] AS DOUBLE) - ml[j])))), 6) AS dd
        FROM embeddings, mu
    ), m AS (
        SELECT count(*) AS n2,
               sum(CAST(dd AS DECIMAL(18,6))) AS s,
               sum(CAST(dd AS DECIMAL(18,6)) * CAST(dd AS DECIMAL(18,6))) AS ss
        FROM d
    ), ms AS (
        SELECT CAST(s AS DOUBLE) / n2 AS mean,
               sqrt((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n2)
                    / (n2 - 1)) AS std
        FROM m
    ), z AS (
        SELECT vec_id, dd AS centroid_dist,
               CASE WHEN std > 0 THEN round((dd - mean) / std, 4) END AS z_score
        FROM d, ms
    )
    SELECT vec_id, centroid_dist, z_score,
           coalesce(abs(z_score) > 2.0, false) AS is_outlier
    FROM z ORDER BY vec_id
    """,
)
def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scoring (operators/clustering.
    centroid_outlier_scores): distance to the corpus centroid,
    z-scored — the off-manifold detector (corrupt inputs, encoder
    failures) that runs before clustering. Centroid and distance
    moments use DECIMAL-exact sums (the lineitem_price_stats recipe)
    so both engines derive identical scalars; vectors never shuffle."""
    from ..operators.clustering import centroid_outlier_scores

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_outlier_scores(emb).orderBy("vec_id")


@register_query(
    "events_daily_anomaly",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ), w AS (
        SELECT day, n_events,
               count(*) OVER win AS hn,
               sum(n_events) OVER win AS s,
               sum(n_events * n_events) OVER win AS ss
        FROM daily
        WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    ), ms AS (
        SELECT day, n_events, hn,
               CASE WHEN hn >= 2 THEN CAST(s AS DOUBLE) / hn END AS mean,
               CASE WHEN hn >= 2 THEN
                   sqrt((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / hn)
                        / (hn - 1)) END AS std
        FROM w
    ), z AS (
        SELECT day, n_events, CAST(hn AS INT) AS n_history,
               CASE WHEN hn >= 3 AND std > 0
                    THEN round((n_events - mean) / std, 6) END AS z_score
        FROM ms
    )
    SELECT day, n_events, n_history, z_score,
           coalesce(abs(z_score) > 2.0, false) AS is_anomaly
    FROM z ORDER BY day
    """,
)
def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count anomaly detection (functions/timeseries.
    trailing_zscore): each day z-scored against its trailing 7 days
    (exclusive). The analytic window runs over the one-row-per-day
    table, not raw events; explicit moment formulas keep the doubles
    engine-identical."""
    from ..functions.timeseries import trailing_zscore

    events = load_table(spark, sf_dir, "events")
    return trailing_zscore(events, lookback=7).orderBy("day")


@register_query(
    "events_dow_anomaly",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n_events
        FROM events GROUP BY 1
    ), d AS (
        SELECT *, CAST(((day - DATE '2024-01-07') % 7 + 7) % 7
                       AS INTEGER) AS dow
        FROM daily
    ), model AS (
        SELECT dow, count(*) AS n_d, sum(n_events) AS s_d,
               sum(n_events * n_events) AS ss_d
        FROM d GROUP BY dow
    ), loo AS (
        SELECT day, dow, n_events,
               CAST(n_d - 1 AS DOUBLE) AS n1,
               CAST(s_d AS DOUBLE) - n_events AS s1,
               CAST(ss_d AS DOUBLE) - 1.0 * n_events * n_events AS ss1
        FROM d JOIN model USING (dow)
    ), scored AS (
        SELECT day, dow, n_events, CAST(n1 AS INTEGER) AS n_peers,
               CASE WHEN n1 >= 3
                     AND (ss1 - s1 * s1 / n1) / (n1 - 1) > 0
                    THEN round((n_events - s1 / n1)
                         / sqrt((ss1 - s1 * s1 / n1) / (n1 - 1)), 6)
               END AS z_score
        FROM loo
    )
    SELECT day, dow, n_events, n_peers, z_score,
           coalesce(abs(z_score) > 2.0, FALSE) AS is_anomaly
    FROM scored ORDER BY day
    """,
)
def events_dow_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal anomaly detection
    (functions/timeseries.seasonal_zscore): each day z-scored against
    the OTHER days sharing its weekday via a leave-one-out baseline —
    the weekly-seasonality complement of the trailing-window detector,
    which flags every weekend on weekly-cyclic traffic. No window at
    all: daily rollup, a 7-row weekday model broadcast back, narrow
    LOO algebra; weekday index pinned to days-since-a-Sunday mod 7 so
    no engine's dayofweek() convention enters the comparison."""
    from ..functions.timeseries import seasonal_zscore

    events = load_table(spark, sf_dir, "events")
    return seasonal_zscore(events).orderBy("day")


@register_query("ann_recall_eval")
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of every approximate index — hyperplane LSH, IVF,
    int8-rerank — against the brute-force exact top-k
    (operators/similarity.ann_recall) for 5 probe queries, one row per
    (index, query): the index-quality monitor an ANN deployment runs
    as data drifts. Deterministic (seeded planes/quantizer) but the
    bucket arithmetic is not SQL-replayable: rows-only; the
    full-probe==brute-force and recall-bound properties are
    unit-tested."""
    from ..operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        quantized_rerank_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, q, k=10)
    indexes = {
        "lsh": lsh_topk(emb, q, k=10),
        "ivf": ivf_topk(emb, q, k=10),
        "int8_rerank": quantized_rerank_topk(emb, q, k=10),
    }
    out = None
    for name, approx in sorted(indexes.items()):
        r = ann_recall(exact, approx).select(
            F.lit(name).alias("index"), "query_id", "n_exact", "n_hit", "recall"
        )
        out = r if out is None else out.unionByName(r)
    return out.orderBy("index", "query_id")


@register_query(
    "events_value_histogram",
    oracle="""
    WITH r AS (
        SELECT min(CAST(value AS DOUBLE)) AS lo,
               max(CAST(value AS DOUBLE)) AS hi
        FROM events
    ), b AS (
        SELECT least(19, greatest(0,
                   CAST(floor((CAST(value AS DOUBLE) - r.lo)
                              / ((r.hi - r.lo) / 20)) AS INT))) AS bucket
        FROM events, r WHERE value IS NOT NULL
    )
    SELECT bucket,
           round(r.lo + bucket * ((r.hi - r.lo) / 20), 6) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM b, r GROUP BY bucket, r.lo, r.hi ORDER BY bucket
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of event values (operators/profile.
    value_histogram) — the exact-count profiling primitive behind
    drift dashboards: a 1-row min/max aggregate then one narrow bucket
    projection + count; no sort, no sampling. The oracle replays the
    identical double bucket arithmetic."""
    from ..operators.profile import value_histogram

    events = load_table(spark, sf_dir, "events")
    return value_histogram(events, "value", bins=20).orderBy("bucket")


@register_query("events_rolling_wau_sketch")
def events_rolling_wau_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate trailing-7-day WAU via mergeable HLL sketches
    (functions/timeseries.rolling_distinct_count_approx) — the 100 TB
    twin of the exact `events_rolling_wau`: raw events collapse to one
    ~4 KB sketch per day (map-side combinable), every report day is a
    union of ≤ 7 sketches, and a persisted sketch store answers any
    window without rescanning events. Sketch binaries are
    engine-specific → rows-only; the ≤5%-vs-exact accuracy bound is
    unit-tested."""
    from ..functions.timeseries import rolling_distinct_count_approx

    events = load_table(spark, sf_dir, "events")
    return (
        rolling_distinct_count_approx(
            events, ts_col="ts", key_col="user_id", window_days=7,
            out_col="wau_7d_approx",
        )
        .orderBy("day")
    )


@register_query(
    "doc_score_calibration",
    oracle=rf"""
    WITH tk AS (
        SELECT doc_id, lang,
               list_filter(
                   string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   x -> x <> '') AS toks
        FROM documents
    ), hits AS (
        SELECT doc_id, unnest(toks) AS token FROM tk
    ), s AS (
        SELECT doc_id, sum(wt) AS ws
        FROM hits JOIN {_classifier_weights_values_sql()} USING (token)
        GROUP BY doc_id
    ), scored AS (
        SELECT tk.doc_id, tk.lang,
               round(1.0 / (1.0 + exp(-({_CLASSIFIER_BIAS}
                   + CASE WHEN len(tk.toks) > 0
                          THEN CAST(coalesce(s.ws, 0) AS DOUBLE) / len(tk.toks)
                          ELSE 0.0 END))), 6) AS quality_prob
        FROM tk LEFT JOIN s USING (doc_id)
    )
    SELECT doc_id, lang, quality_prob,
           round(percent_rank() OVER (
               PARTITION BY lang ORDER BY quality_prob, doc_id), 6)
               AS calibrated
    FROM scored ORDER BY doc_id
    """,
)
def doc_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile calibration of the classifier score —
    raw linear-classifier probabilities are not comparable across
    languages (vocabulary coverage differs), so production thresholds
    are set on the WITHIN-LANGUAGE percentile, not the raw score
    (CCNet's per-language quality buckets). One window per language
    partition on top of the zero-shuffle scoring pass; doc_id tiebreak
    makes the rank total and the hash deterministic."""
    from ..operators.classify import linear_text_score

    docs = load_table(spark, sf_dir, "documents")
    scored = linear_text_score(
        docs, _CLASSIFIER_WEIGHTS, bias=_CLASSIFIER_BIAS, how="map"
    )
    w = Window.partitionBy("lang").orderBy("quality_prob", "doc_id")
    return (
        scored.select(
            "doc_id", "lang", "quality_prob",
            F.round(F.percent_rank().over(w), 6).alias("calibrated"),
        )
        .orderBy("doc_id")
    )


@register_query(
    "doc_shuffle_shards",
    oracle="""
    SELECT doc_id, shard, shard_pos FROM (
        SELECT doc_id,
               CAST(CAST(concat('0x', substring(md5(concat('ep0', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
               CAST(row_number() OVER (
                   PARTITION BY CAST(concat('0x', substring(md5(concat('ep0', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 8
                   ORDER BY md5(concat('ep0', CAST(doc_id AS VARCHAR))), doc_id
               ) AS INT) AS shard_pos
        FROM documents
    ) ORDER BY doc_id
    """,
)
def doc_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + sharding (functions/sampling.
    shuffle_shards): every doc gets a reproducible (shard, position)
    from md5(seed, id) — the dataloader handoff. One shard-keyed
    shuffle, per-shard sort, no global sort; the oracle replays the
    identical hash arithmetic."""
    from ..functions.sampling import shuffle_shards

    docs = load_table(spark, sf_dir, "documents")
    return (
        shuffle_shards(docs, "doc_id", n_shards=8, seed="ep0")
        .select("doc_id", "shard", "shard_pos")
        .orderBy("doc_id")
    )


@register_query(
    "curation_pipeline_v3",
    oracle=r"""
    WITH scrub AS (
        SELECT doc_id, lang,
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]+', '<NUMBER>', 'g') AS text
        FROM documents
    ), ref AS (
        SELECT DISTINCT md5(text) AS key FROM scrub WHERE doc_id % 5 = 0
    ), kept AS (
        SELECT b.doc_id, b.lang, b.text
        FROM (SELECT *, md5(text) AS key FROM scrub) b
        ANTI JOIN ref r ON b.key = r.key
    ), long_docs AS (
        SELECT doc_id, lang FROM kept
        WHERE len(list_filter(
                string_split_regex(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '),
                x -> x <> '')) >= 20
    ), up AS (
        SELECT doc_id, lang, CAST(g.c AS INT) AS copy_no
        FROM (
            SELECT doc_id, lang,
                   CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 2.0
                             WHEN 'fr' THEN 0.5 WHEN 'zh' THEN 1.5
                             ELSE 0.0 END AS fac,
                   CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':epoch'), 1, 8)) AS BIGINT)
                     / 4294967296.0 AS u
            FROM long_docs
        ) f CROSS JOIN LATERAL unnest(range(
            CAST(floor(fac) AS BIGINT)
            + CASE WHEN u < fac - floor(fac) THEN 1 ELSE 0 END)) AS g(c)
    ), keyed AS (
        SELECT doc_id, lang, copy_no,
               CAST(doc_id AS VARCHAR) || '#' || CAST(copy_no AS VARCHAR) AS ck
        FROM up
    )
    SELECT doc_id, lang, copy_no,
           CAST(CAST(concat('0x', substring(md5('ep1' || ck), 1, 8)) AS BIGINT) % 4 AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY CAST(concat('0x', substring(md5('ep1' || ck), 1, 8)) AS BIGINT) % 4
               ORDER BY md5('ep1' || ck), ck
           ) AS INT) AS shard_pos
    FROM keyed ORDER BY doc_id, copy_no
    """,
)
def curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation with the round-4c operator set — PII scrub
    (email + number presets) → Bloom-prefiltered incremental dedup
    against the already-ingested slice (doc_id % 5 = 0 plays the
    reference corpus; definitely-new rows bypass the anti-join) →
    min-length gate (≥ 20 ws tokens) → fractional epoch upsampling per
    language (en 1.0 / de 2.0 / fr 0.5 / zh 1.5, es dropped) →
    deterministic shuffle-sharding of the (doc, copy) stream for the
    dataloader. The whole chain is oracle-replayed exactly — including
    the bloom stage, whose OUTPUT is pure anti-join semantics however
    the filter routes rows. Sibling of `training_prep_pipeline` (v1,
    dedup-centric) and `curation_pipeline_v2` (classifier-centric)."""
    from ..functions.bloom import bloom_prefiltered_anti_join
    from ..functions.sampling import epoch_upsample, shuffle_shards
    from ..functions.textfns import redact, whitespace_tokens

    docs = load_table(spark, sf_dir, "documents")
    scrub = docs.select(
        "doc_id", "lang", redact(F.col("text"), ["email", "number"]).alias("text")
    )
    ref = scrub.filter(F.col("doc_id") % 5 == 0).select(
        F.md5("text").alias("key")
    )
    batch = scrub.withColumn("key", F.md5("text"))
    kept = bloom_prefiltered_anti_join(batch, ref, "key")
    long_docs = kept.filter(
        F.size(whitespace_tokens(F.col("text"))) >= 20
    ).select("doc_id", "lang")
    up = epoch_upsample(
        long_docs, "lang",
        {"en": 1.0, "de": 2.0, "fr": 0.5, "zh": 1.5},
        key="doc_id",
    )
    keyed = up.withColumn(
        "ck",
        F.concat(F.col("doc_id").cast("string"), F.lit("#"),
                 F.col("copy_no").cast("string")),
    )
    return (
        shuffle_shards(keyed, "ck", n_shards=4, seed="ep1")
        .select("doc_id", "lang", "copy_no", "shard", "shard_pos")
        .orderBy("doc_id", "copy_no")
    )


@register_query(
    "curation_pipeline_v2",
    oracle=rf"""
    WITH tk AS (
        SELECT doc_id, lang, source,
               list_filter(
                   string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   x -> x <> '') AS toks
        FROM documents
    ), hits AS (
        SELECT doc_id, unnest(toks) AS token FROM tk
    ), s AS (
        SELECT doc_id, sum(wt) AS ws
        FROM hits JOIN {_classifier_weights_values_sql()} USING (token)
        GROUP BY doc_id
    ), scored AS (
        SELECT tk.doc_id, tk.lang, tk.source,
               round(1.0 / (1.0 + exp(-({_CLASSIFIER_BIAS}
                   + CASE WHEN len(tk.toks) > 0
                          THEN CAST(coalesce(s.ws, 0) AS DOUBLE) / len(tk.toks)
                          ELSE 0.0 END))), 6) AS quality_prob
        FROM tk LEFT JOIN s USING (doc_id)
    ), calibrated AS (
        SELECT doc_id, lang, source,
               round(percent_rank() OVER (
                   PARTITION BY lang ORDER BY quality_prob, doc_id), 6)
                   AS calibrated
        FROM scored
    ), filtered AS (
        SELECT * FROM calibrated WHERE calibrated >= 0.2
    ), capped AS (
        SELECT doc_id, lang, source FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source
                ORDER BY calibrated DESC, doc_id) AS rnk
            FROM filtered
        ) WHERE rnk <= 15
    )
    SELECT doc_id, lang, source,
           CAST(CAST(concat('0x', substring(md5(concat('ep0', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 4 AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY CAST(concat('0x', substring(md5(concat('ep0', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 4
               ORDER BY md5(concat('ep0', CAST(doc_id AS VARCHAR))), doc_id
           ) AS INT) AS shard_pos
    FROM capped ORDER BY doc_id
    """,
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation with the round-4 operator set — classifier
    scoring → per-language calibration → drop the worst quintile per
    language → per-source cap (best 15 by calibrated score) →
    deterministic shuffle-sharding for the dataloader. The whole chain
    is oracle-replayed; every stage is the shuffle-lean operator it
    composes (zero-shuffle scoring, one window per calibration/cap,
    per-shard sort — no global sort anywhere). Sibling of
    `training_prep_pipeline` (the dedup-centric v1)."""
    from ..functions.sampling import shuffle_shards
    from ..operators.classify import linear_text_score
    from ..operators.selection import per_group_cap

    docs = load_table(spark, sf_dir, "documents")
    scored = linear_text_score(
        docs, _CLASSIFIER_WEIGHTS, bias=_CLASSIFIER_BIAS, how="map"
    )
    w = Window.partitionBy("lang").orderBy("quality_prob", "doc_id")
    calibrated = scored.select(
        "doc_id", "lang", "source",
        F.round(F.percent_rank().over(w), 6).alias("calibrated"),
    ).filter(F.col("calibrated") >= 0.2)
    capped = per_group_cap(
        calibrated, "source", [F.col("calibrated").desc(), F.col("doc_id")], 15
    ).select("doc_id", "lang", "source")
    return (
        shuffle_shards(capped, "doc_id", n_shards=4, seed="ep0")
        .select("doc_id", "lang", "source", "shard", "shard_pos")
        .orderBy("doc_id")
    )


@register_query(
    "orders_quality_report",
    oracle="""
    WITH base AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn,
               CAST(sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
                    - count(DISTINCT o_orderkey) AS BIGINT) AS uq,
               CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('O', 'F', 'P')
                             THEN 1 ELSE 0 END) AS BIGINT) AS av,
               CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0 OR o_totalprice > 1000000)
                             THEN 1 ELSE 0 END) AS BIGINT) AS rg
        FROM orders
    ), ri AS (
        SELECT CAST(count(*) AS BIGINT) AS bad FROM orders
        WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)
    )
    SELECT 'not_null' AS rule, 'o_custkey' AS "column",
           nn AS violations, n AS n_rows, nn = 0 AS passed FROM base
    UNION ALL
    SELECT 'unique', 'o_orderkey', uq, n, uq = 0 FROM base
    UNION ALL
    SELECT 'accepted_values', 'o_orderstatus', av, n, av = 0 FROM base
    UNION ALL
    SELECT 'range', 'o_totalprice', rg, n, rg = 0 FROM base
    UNION ALL
    SELECT 'ref_integrity', 'o_custkey', ri.bad, base.n, ri.bad = 0
    FROM ri, base
    ORDER BY rule, "column"
    """,
)
def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/quality_checks):
    not-null, uniqueness, accepted values, and range rules over orders
    in ONE aggregate pass, plus referential integrity to customer via
    a key-projected anti-join — the Deequ/dbt-tests layer a table
    promotion gates on. The oracle replays every violation count."""
    from ..operators.quality_checks import (
        quality_report,
        ref_integrity_violations,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rep = quality_report(
        orders,
        not_null=["o_custkey"],
        unique=["o_orderkey"],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
        ranges={"o_totalprice": (0, 1_000_000)},
    )
    ri = ref_integrity_violations(orders, "o_custkey", customer, "c_custkey")
    return rep.unionByName(ri).orderBy("rule", "column")


@register_query(
    "events_partition_completeness",
    oracle="""
    WITH de AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d FROM events
        WHERE CAST(date_trunc('day', ts) AS DATE) <>
              (SELECT CAST(min(date_trunc('day', ts)) AS DATE) + 7 FROM events)
    ), rng AS (
        SELECT min(d) AS lo, max(d) AS hi FROM de
    ), cal AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM rng
    ), miss AS (
        SELECT day FROM cal WHERE day NOT IN (SELECT d FROM de)
    ), prev AS (
        SELECT d AS day, lead(d) OVER (ORDER BY d) AS next_day FROM de
        QUALIFY next_day IS NOT NULL
    )
    SELECT m.day AS missing_day, p.day AS prev_present_day
    FROM miss m JOIN prev p ON m.day > p.day AND m.day < p.next_day
    ORDER BY missing_day
    """,
)
def events_partition_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-gap monitor (operators/quality_checks.
    partition_completeness): calendar days with no rows between the
    table's min and max day, each tagged with the last present day
    before the gap. The synthetic events table is gap-free — so the
    gate entry PLANTS a deterministic gap (drops the day at min+7) to
    make the hash comparison exercise the actual gap logic; the r1-r7
    hashes of the unplanted report compared empty sets and verified
    nothing (the q11 vacuous-pass class, VERDICT r7 #2). The 1-row
    gap-day frame broadcasts into the filter; everything downstream
    runs on day-count tables, never rows."""
    from ..operators.quality_checks import partition_completeness

    events = load_table(spark, sf_dir, "events")
    gap = events.agg(
        F.date_add(F.min(F.to_date("ts")), 7).alias("__gap_day")
    )
    planted = (
        events.join(F.broadcast(gap))
        .filter(F.to_date("ts") != F.col("__gap_day"))
        .drop("__gap_day")
    )
    return partition_completeness(planted)


@register_query(
    "part_communities",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem WHERE l_quantity >= 40
    ), e AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM ps a JOIN ps b ON a.o = b.o AND a.p < b.p
    ), und AS (
        SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e
    ), l0 AS (
        SELECT DISTINCT a AS id, a AS lab FROM und
    ), v1 AS (
        SELECT u.a AS id, l.lab, count(*) AS c
        FROM und u JOIN l0 l ON l.id = u.b GROUP BY u.a, l.lab
    ), l1 AS (
        SELECT id, lab FROM (
            SELECT id, lab, row_number() OVER (
                PARTITION BY id ORDER BY c DESC, lab) AS rn FROM v1
        ) WHERE rn = 1
    ), v2 AS (
        SELECT u.a AS id, l.lab, count(*) AS c
        FROM und u JOIN l1 l ON l.id = u.b GROUP BY u.a, l.lab
    ), l2 AS (
        SELECT id, lab FROM (
            SELECT id, lab, row_number() OVER (
                PARTITION BY id ORDER BY c DESC, lab) AS rn FROM v2
        ) WHERE rn = 1
    ), v3 AS (
        SELECT u.a AS id, l.lab, count(*) AS c
        FROM und u JOIN l2 l ON l.id = u.b GROUP BY u.a, l.lab
    ), l3 AS (
        SELECT id, lab FROM (
            SELECT id, lab, row_number() OVER (
                PARTITION BY id ORDER BY c DESC, lab) AS rn FROM v3
        ) WHERE rn = 1
    )
    SELECT id AS part, CAST(lab AS BIGINT) AS community
    FROM l3 ORDER BY part
    """,
)
def part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities on the part co-purchase graph
    (operators/graph.label_propagation, 3 synchronous rounds,
    min-label tiebreak — the deterministic LPA variant): market-basket
    segments, the community-structure complement to triangle counts on
    the same graph. The oracle unrolls the identical three rounds."""
    from ..operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.filter(F.col("l_quantity") >= 40)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        ps.alias("x")
        .join(ps.alias("y"), (F.col("x.o") == F.col("y.o")) & (F.col("x.p") < F.col("y.p")))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct()
    )
    return (
        label_propagation(edges, iterations=3)
        .select(F.col("id").alias("part"), F.col("label").cast("long").alias("community"))
        .orderBy("part")
    )


@register_query(
    "orders_incremental_rollup",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS total_cents
    FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def orders_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup refresh (operators/cdc.incremental_agg +
    merge_incremental_aggs): history (orders before 1997) and the
    delta (1997 onward) are aggregated INDEPENDENTLY and merged by
    key-wise summation — the oracle aggregates the full table
    directly, so the hash match proves refresh == recompute. DECIMAL
    partials make the merge exact and order-independent; the refresh
    shuffles rollup-sized tables only, never the base data."""
    from ..operators.cdc import incremental_agg, merge_incremental_aggs

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    base = incremental_agg(
        orders.filter(F.col("o_orderdate") < cutoff), ["o_custkey"], ["o_totalprice"]
    )
    delta = incremental_agg(
        orders.filter(F.col("o_orderdate") >= cutoff), ["o_custkey"], ["o_totalprice"]
    )
    merged = merge_incremental_aggs([base, delta], ["o_custkey"])
    return merged.select(
        "o_custkey",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("sum_o_totalprice") * 100).cast("long").alias("total_cents"),
    ).orderBy("o_custkey")


@register_query(
    "doc_clean_text",
    oracle=r"""
    WITH dirty AS (
        SELECT doc_id,
               ' ' || chr(9) || text || chr(8203) || chr(7) || '  ' AS raw
        FROM documents
    ),
    cleaned AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(raw,
                       '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}\x{200B}-\x{200D}\x{2060}\x{FEFF}]',
                       '', 'g'),
                   '\s+', ' ', 'g')) AS clean
        FROM dirty
    )
    SELECT doc_id, length(clean) AS n_chars, md5(clean) AS content_md5
    FROM cleaned ORDER BY doc_id
    """,
)
def doc_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scraped-text cleanup (functions/textfns.clean_text): strip C0
    controls + DEL + zero-width characters, trim, collapse whitespace —
    the C4/CCNet normalization pass that precedes tokenization and
    fingerprinting. The gate injects deterministic junk (tab/ZWSP/BEL
    padding, replayed verbatim by the oracle via chr()) around the real
    corpus text so the cleanup provably fires on every row. One narrow
    codegen'd projection — two regexp passes, no shuffle, no UDF; at
    100 TB this is scan-bound, exactly like the quality-score pass."""
    from ..functions.textfns import clean_text

    d = load_table(spark, sf_dir, "documents")
    dirty = F.concat(F.lit(" \t"), F.col("text"), F.lit("\u200b\u0007  "))
    return d.select(
        "doc_id",
        F.length(clean_text(dirty)).alias("n_chars"),
        F.md5(clean_text(dirty)).alias("content_md5"),
    ).orderBy("doc_id")


@register_query(
    "events_daily_gap_fill",
    oracle="""
    WITH f AS (
        SELECT event_type, CAST(ts AS DATE) AS day, value
        FROM events WHERE value >= 200
    ),
    d AS (
        SELECT event_type, day, count(*) AS n, max(value) AS peak
        FROM f GROUP BY event_type, day
    ),
    s AS (
        SELECT event_type, min(day) AS d0, max(day) AS d1
        FROM d GROUP BY event_type
    ),
    spine AS (
        SELECT event_type,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM s
    ),
    j AS (
        SELECT sp.event_type, sp.day, coalesce(d.n, 0) AS n, d.peak
        FROM spine sp LEFT JOIN d USING (event_type, day)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
           round(LAST_VALUE(peak IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2
           ) AS last_peak
    FROM j ORDER BY event_type, day
    """,
)
def events_daily_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-spine regularization + forward fill
    (functions/timeseries.daily_spine_fill): rare high-value events are
    rolled up per (type, day), then every type gets one row per calendar
    day between its own first and last observation — missing days become
    an explicit count 0, and the daily peak value is carried forward
    (LOCF). The standard pre-step before window features / anomaly
    baselines, where "no row" must not silently mean "no day". Plan: one
    per-key min/max partial agg, sequence() explode sized exactly to the
    output, (key, day) left join, one per-key window — all shuffles on
    the series key, raw events scanned once."""
    from ..functions.timeseries import daily_spine_fill

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value") >= 200)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n"), F.max("value").alias("peak"))
    )
    filled = daily_spine_fill(
        daily,
        key_col="event_type",
        day_col="day",
        count_cols=["n"],
        ffill_cols=["peak"],
    )
    return filled.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.round("peak", 2).alias("last_peak"),
    ).orderBy("event_type", "day")


@register_query(
    "customer_balance_imputed",
    oracle="""
    WITH base AS (
        SELECT c_custkey, c_nationkey,
               CASE WHEN CAST(concat('0x', substring(
                        md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
                        / 4294967296.0 < 0.25
                    THEN NULL ELSE c_acctbal END AS bal
        FROM customer
    ),
    s AS (
        SELECT c_nationkey,
               sum(CAST(bal AS DECIMAL(30,6))) AS sm, count(bal) AS n
        FROM base GROUP BY c_nationkey
    ),
    g AS (
        SELECT sum(CAST(bal AS DECIMAL(30,6))) AS sm, count(bal) AS n
        FROM base
    )
    SELECT b.c_custkey,
           (b.bal IS NULL) AS was_null,
           round(coalesce(b.bal,
               CASE WHEN s.n > 0 THEN round(CAST(s.sm AS DOUBLE) / s.n, 6)
                    ELSE round(CAST(g.sm AS DOUBLE) / g.n, 6) END), 6
           ) AS bal_filled
    FROM base b LEFT JOIN s USING (c_nationkey) CROSS JOIN g
    ORDER BY b.c_custkey
    """,
)
def customer_balance_imputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean imputation (operators/impute.impute_mean): account
    balances are deterministically nulled for ~25% of customers (md5
    keep-fraction, replayed verbatim by the oracle) and refilled with
    their nation's mean balance — DECIMAL-exact accumulation, one float
    division + round at the end, so the fill is bit-for-bit
    cross-engine. The was_null flag preserves the missingness signal.
    Plan: one group-sized aggregate broadcast back onto the facts — the
    fact table never shuffles (the floor for any group-keyed fill)."""
    from ..functions.sampling import hash_fraction
    from ..operators.impute import impute_mean

    c = load_table(spark, sf_dir, "customer")
    holed = c.select(
        "c_custkey",
        "c_nationkey",
        F.when(hash_fraction("c_custkey") < 0.25, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    filled = impute_mean(holed, ["bal"], group_cols=["c_nationkey"])
    return filled.select(
        "c_custkey",
        F.col("bal_was_null").alias("was_null"),
        F.round("bal", 6).alias("bal_filled"),
    ).orderBy("c_custkey")


@register_query(
    "doc_sentences",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               replace(replace(text, 'batch', 'batch.'),
                       'window', 'window!') AS t
        FROM documents
    ),
    s AS (
        SELECT doc_id, regexp_extract_all(t, '[^.!?]+[.!?]*') AS parts FROM m
    ),
    e AS (
        SELECT doc_id, generate_subscripts(parts, 1) AS idx,
               unnest(parts) AS p
        FROM s
    ),
    f AS (
        SELECT doc_id, idx, trim(p) AS sentence
        FROM e WHERE trim(p) <> ''
    )
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1 AS sent_no,
           length(sentence) AS n_chars,
           md5(sentence) AS sent_md5
    FROM f ORDER BY doc_id, sent_no
    """,
)
def doc_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (operators/text.split_sentences): documents
    explode to (doc_id, sent_no, sentence) on a lookaround-free boundary
    regex Java and RE2 express identically, with dense 0-based numbering
    over non-empty trimmed segments — the granularity between
    doc_token_positions (tokens) and doc_paragraph_dedup (paragraphs),
    feeding sentence-level dedup and pair construction. The synthetic
    corpus has no terminators, so the gate plants them deterministically
    (plain replace(), replayed verbatim by the oracle). Plan: one regex
    pass with the match array materialized before the generator (the
    documented HOF-inlining trap), row growth = output size."""
    from ..operators.text import split_sentences

    d = load_table(spark, sf_dir, "documents")
    marked = d.select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit("batch"), F.lit("batch.")),
            F.lit("window"),
            F.lit("window!"),
        ).alias("text"),
    )
    return (
        split_sentences(marked)
        .select(
            "doc_id",
            "sent_no",
            F.length("sentence").alias("n_chars"),
            F.md5("sentence").alias("sent_md5"),
        )
        .orderBy("doc_id", "sent_no")
    )


@register_query(
    "doc_sentence_dedup",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               replace(replace(text, 'batch', 'batch.'),
                       'window', 'window!') AS t
        FROM documents
    ),
    s AS (
        SELECT doc_id, regexp_extract_all(t, '[^.!?]+[.!?]*') AS parts FROM m
    ),
    e AS (
        SELECT doc_id, generate_subscripts(parts, 1) AS idx,
               unnest(parts) AS p
        FROM s
    ),
    f AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1
                   AS sent_no,
               trim(p) AS sentence
        FROM e WHERE trim(p) <> ''
    ),
    k AS (
        SELECT doc_id, sent_no, sentence,
               row_number() OVER (PARTITION BY md5(lower(sentence))
                                  ORDER BY doc_id, sent_no) AS rk
        FROM f
    ),
    re AS (
        SELECT doc_id,
               string_agg(sentence, ' ' ORDER BY sent_no) AS text,
               count(*) AS n_kept
        FROM k WHERE rk = 1 GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_sents FROM f GROUP BY doc_id)
    SELECT t.doc_id, coalesce(r.text, '') AS text,
           t.n_sents, coalesce(r.n_kept, 0) AS n_kept
    FROM tot t LEFT JOIN re r USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def doc_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide SENTENCE-level exact dedup — split_sentences composed
    with the paragraph_dedup winner-election discipline at the finer
    granularity (C4 drops repeated sentences/lines, not just repeated
    paragraphs): a sentence is kept only at its smallest (doc_id,
    sent_no) occurrence corpus-wide (case-insensitive fingerprint),
    survivors reassemble in order, and every input document keeps its
    row (fully-duplicate documents come back with empty text), so
    corpus row counts are stable through the pass.

    Scale shape: the winner election shuffles (16-byte md5, doc_id,
    sent_no) ONLY — sentence bodies stay out of it and rejoin by
    (doc_id, sent_no) semi-join; reassembly is the same bounded
    per-document collect_list envelope as paragraph_dedup."""
    from ..operators.text import sentence_dedup

    d = load_table(spark, sf_dir, "documents")
    marked = d.select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit("batch"), F.lit("batch.")),
            F.lit("window"),
            F.lit("window!"),
        ).alias("text"),
    )
    return sentence_dedup(marked).orderBy("doc_id")


@register_query(
    "doc_temperature_sample",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    w AS (SELECT lang, n, sqrt(n) AS wt FROM c),
    tw AS (
        SELECT CAST(sum(CAST(wt AS DECIMAL(38,15))) AS DOUBLE) AS t FROM w
    ),
    p AS (SELECT lang, n, wt / (SELECT t FROM tw) AS p FROM w),
    cap AS (SELECT floor(min(n / p)) AS cap FROM p),
    r AS (
        SELECT lang, least(1.0, (SELECT cap FROM cap) * p / n) AS rate
        FROM p
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE CAST(concat('0x', substring(
              md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < r.rate
    ORDER BY d.doc_id
    """,
)
def doc_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing
    (functions/sampling.temperature_sample, alpha=0.5): target shares
    p_g ∝ sqrt(count_g) — the mC4/XLM-R alpha-sampling rule that boosts
    rare languages against the head — realized as the max-feasible
    deterministic md5-fraction keep. alpha=0.5 is the oracle-exact
    setting (sqrt is correctly-rounded IEEE in every engine; the weight
    total accumulates in DECIMAL so summation order can't perturb the
    shares). Plan: |strata|-row count/weight tables, two 1-row scalar
    broadcasts (weight total, feasibility cap), one narrow keep filter —
    bodies never shuffle, no driver collect."""
    from ..functions.sampling import temperature_sample

    d = load_table(spark, sf_dir, "documents")
    return (
        temperature_sample(
            d.select("doc_id", "lang"), "lang", alpha=0.5, key="doc_id"
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register_query(
    "doc_readability",
    oracle=r"""
    WITH m AS (
        SELECT doc_id,
               replace(replace(text, 'batch', 'batch.'),
                       'window', 'window!') AS t
        FROM documents
    ),
    s AS (
        SELECT doc_id, regexp_extract_all(t, '[^.!?]+[.!?]*') AS parts FROM m
    ),
    e AS (SELECT doc_id, unnest(parts) AS p FROM s),
    f AS (
        SELECT doc_id, trim(p) AS sentence FROM e WHERE trim(p) <> ''
    ),
    ps AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(sentence, '\s+'),
                               x -> x <> '')) AS tok
        FROM f
    ),
    ag AS (
        SELECT doc_id, count(*) AS n_sents, sum(tok) AS tot
        FROM ps GROUP BY doc_id
    ),
    tt AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(t), '\s+'),
                               x -> x <> '')) AS n,
               len(list_distinct(list_filter(
                   string_split_regex(lower(t), '\s+'), x -> x <> ''))) AS d
        FROM m
    )
    SELECT tt.doc_id,
           coalesce(ag.n_sents, 0) AS n_sents,
           CASE WHEN ag.n_sents > 0
                THEN round(CAST(ag.tot AS DOUBLE) / ag.n_sents, 6)
           END AS mean_sent_tokens,
           CASE WHEN tt.n > 0
                THEN round(CAST(tt.d AS DOUBLE) / tt.n, 6)
           END AS ttr
    FROM tt LEFT JOIN ag USING (doc_id)
    ORDER BY tt.doc_id
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability profile (operators/text.readability_stats): sentence
    count, mean sentence length in whitespace tokens, type-token ratio —
    the surface complexity signals complementing quality_score's
    boilerplate heuristics, over the same planted-terminator text as
    doc_sentences. Integer token counts sum exactly; mean and ratio are
    one float division + round each, so the oracle replays them
    bit-for-bit. Plan: sentence explode feeding one per-doc partial agg
    + a narrow TTR projection, joined on the id."""
    from ..operators.text import readability_stats

    d = load_table(spark, sf_dir, "documents")
    marked = d.select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit("batch"), F.lit("batch.")),
            F.lit("window"),
            F.lit("window!"),
        ).alias("text"),
    )
    return readability_stats(marked).orderBy("doc_id")


@register_query(
    "events_value_winsorized",
    oracle="""
    WITH nn AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value)
                   AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM nn
    ),
    b AS (
        SELECT event_type,
               min(CASE WHEN rk = greatest(1, ceil(0.05 * n))
                        THEN value END) AS lo,
               max(CASE WHEN rk = least(n, ceil(0.95 * n))
                        THEN value END) AS hi
        FROM r GROUP BY event_type
    )
    SELECT e.event_id,
           round(least(greatest(e.value, b.lo), b.hi), 2) AS value_w,
           (e.value < b.lo OR e.value > b.hi) AS clipped
    FROM events e JOIN b USING (event_type)
    ORDER BY e.event_id
    """,
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization (operators/impute.winsorize): event
    values clamp to their event-type's [p05, p95] DISCRETE quantiles —
    order statistics at rank ceil(p·n), actual data values rather than
    interpolations, so the oracle replays the bounds exactly (engine
    interpolation formulas differ in last-ulp arithmetic; order
    statistics cannot). Plan: one per-group window ranks the values,
    the two boundary rows collapse to a |groups|-row bounds table that
    broadcasts back onto the facts, and the clamp is a narrow
    least/greatest projection."""
    from ..operators.impute import winsorize

    ev = load_table(spark, sf_dir, "events")
    out = winsorize(
        ev.select("event_type", "event_id", "value"),
        ["value"],
        group_cols=["event_type"],
    )
    return out.select(
        "event_id",
        F.round("value", 2).alias("value_w"),
        F.col("value_clipped").alias("clipped"),
    ).orderBy("event_id")


@register_query(
    "doc_blocklist_filter",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_filter(
                   string_split_regex(lower(text), '\s+'), x -> x <> ''
               )) AS t
        FROM documents
    )
    SELECT doc_id,
           len(list_intersect(t, ['dup', 'stream'])) AS n_blocked_terms,
           len(list_intersect(t, ['dup', 'stream'])) > 0 AS blocked
    FROM toks ORDER BY doc_id
    """,
)
def doc_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token blocklist filtering (operators/text.blocklist_filter) — the
    C4 "bad words" stage: flag documents containing any blocklisted
    token (exact lowercased whitespace-token match, the Scunthorpe-safe
    C4 behavior), with the count of distinct blocklisted terms present.
    The blocklist rides the plan as an array literal; matching is one
    narrow codegen'd array_intersect per row — no shuffle, no join,
    scan-bound at any corpus size."""
    from ..operators.text import blocklist_filter

    d = load_table(spark, sf_dir, "documents")
    return (
        blocklist_filter(d.select("doc_id", "text"), ["dup", "stream"])
        .select("doc_id", "n_blocked_terms", "blocked")
        .orderBy("doc_id")
    )


@register_query(
    "doc_dsir_weights",
    oracle=r"""
    WITH tk AS (
        SELECT doc_id, source,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, source,
               t[CAST(g.i AS INT)] || ' ' || t[CAST(g.i AS INT)+1] AS g
        FROM tk CROSS JOIN LATERAL unnest(range(1, len(t))) AS g(i)
        WHERE len(t) >= 2
    ), db AS (
        SELECT doc_id,
               max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tgt,
               CAST(concat('0x', substring(md5(g), 1, 8)) AS BIGINT) % 1024 AS b,
               count(*) AS k
        FROM grams GROUP BY doc_id, b
    ), model AS (
        SELECT b, sum(k) AS cs,
               sum(CASE WHEN tgt = 1 THEN k ELSE 0 END) AS ct
        FROM db GROUP BY b
    ), tot AS (
        SELECT CAST(sum(cs) AS DOUBLE) AS ns, CAST(sum(ct) AS DOUBLE) AS nt
        FROM model
    ), scored AS (
        SELECT db.doc_id, CAST(sum(db.k) AS BIGINT) AS n_bigrams,
               round(sum(db.k * (ln((m.ct + 1.0) / (tot.nt + 1024.0))
                               - ln((m.cs + 1.0) / (tot.ns + 1024.0)))), 6)
                   AS dsir_weight
        FROM db JOIN model m USING (b) CROSS JOIN tot
        GROUP BY db.doc_id
    )
    SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.dsir_weight
    FROM documents d LEFT JOIN scored s USING (doc_id) ORDER BY d.doc_id
    """,
)
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/selection.
    dsir_importance_weights; Xie et al. 2023): hashed-bigram
    bag-of-buckets models for a target slice (source = 'src0') vs the
    raw corpus, per-doc weight = Σ ln p_t/p_s over its bigrams — the
    published importance-resampling scorer for "select raw docs that
    read like the target domain". Portable md5 bucketing (1024
    buckets, add-1 smoothing); both model tables are ≤1024-row
    broadcast aggregates of the same (doc, bucket) partial counts, and
    document bodies never shuffle."""
    from ..operators.selection import dsir_importance_weights

    d = load_table(spark, sf_dir, "documents")
    return dsir_importance_weights(
        d, F.col("source") == "src0"
    ).orderBy("doc_id")


@register_query("doc_quality_classifier_fit")
def doc_quality_classifier_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine training of the linear quality classifier
    (operators/classify.fit_linear_classifier): full-batch logistic GD
    on a deterministic synthetic label (doc contains the token 'dup'),
    6 iterations over a 64-token vocabulary. Rows-only by design —
    the fit is iterative (non-SQL); determinism is guaranteed by the
    operator's 6-decimal weight quantization + DECIMAL gradient
    accumulation (bit-identical across partitionings, unit-tested), and
    the learned model must put its most positive weight on the label
    token itself — asserted by the planted units, visible here as
    rank 1. Output: (rank, token, weight_1e6, bias_1e6) sorted by
    descending weight."""
    from ..operators.classify import fit_linear_classifier

    d = load_table(spark, sf_dir, "documents")
    labeled = d.select(
        "text",
        F.array_contains(
            F.split(F.lower(F.col("text")), r"\s+"), "dup"
        ).alias("label"),
    )
    model = fit_linear_classifier(
        labeled, "label", iters=6, lr=2.0, vocab_size=64
    )
    rows = sorted(
        model["weights"].items(), key=lambda kv: (-kv[1], kv[0])
    )
    out = [
        (i + 1, t, int(round(w * 1e6)), int(round(model["bias"] * 1e6)))
        for i, (t, w) in enumerate(rows)
    ]
    return spark.createDataFrame(
        out, "rank int, token string, weight_1e6 long, bias_1e6 long"
    )


@register_query(
    "doc_dsir_sample",
    oracle=r"""
    WITH tk AS (
        SELECT doc_id, source,
               list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, source,
               t[CAST(g.i AS INT)] || ' ' || t[CAST(g.i AS INT)+1] AS g
        FROM tk CROSS JOIN LATERAL unnest(range(1, len(t))) AS g(i)
        WHERE len(t) >= 2
    ), db AS (
        SELECT doc_id,
               max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tgt,
               CAST(concat('0x', substring(md5(g), 1, 8)) AS BIGINT) % 1024 AS b,
               count(*) AS k
        FROM grams GROUP BY doc_id, b
    ), model AS (
        SELECT b, sum(k) AS cs,
               sum(CASE WHEN tgt = 1 THEN k ELSE 0 END) AS ct
        FROM db GROUP BY b
    ), tot AS (
        SELECT CAST(sum(cs) AS DOUBLE) AS ns, CAST(sum(ct) AS DOUBLE) AS nt
        FROM model
    ), wts AS (
        SELECT db.doc_id, CAST(sum(db.k) AS BIGINT) AS n_bigrams,
               round(sum(db.k * (ln((m.ct + 1.0) / (tot.nt + 1024.0))
                               - ln((m.cs + 1.0) / (tot.ns + 1024.0)))), 6)
                   AS dsir_weight
        FROM db JOIN model m USING (b) CROSS JOIN tot
        GROUP BY db.doc_id
    ), gsc AS (
        SELECT doc_id, n_bigrams, dsir_weight,
               round(dsir_weight + -ln(-ln(
                   CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   / 4294967296.0)), 6) AS gumbel_score
        FROM wts WHERE dsir_weight IS NOT NULL
    ), bounds AS (
        SELECT min(gumbel_score) AS lo, max(gumbel_score) AS hi FROM gsc
    ), binned AS (
        SELECT g.*, CASE WHEN b.hi > b.lo THEN
                   CAST(floor((g.gumbel_score - b.lo) / (b.hi - b.lo) * 1000) AS BIGINT)
               ELSE 0 END AS score_bucket
        FROM gsc g CROSS JOIN bounds b
    ), bins AS (
        SELECT score_bucket, count(*) AS n FROM binned GROUP BY score_bucket
    ), cum AS (
        SELECT score_bucket, sum(n) OVER (ORDER BY score_bucket DESC) AS c
        FROM bins
    ), thr AS (
        SELECT min(score_bucket) AS t FROM cum WHERE c <= 100
    )
    SELECT doc_id, n_bigrams, dsir_weight, gumbel_score, score_bucket
    FROM binned CROSS JOIN thr WHERE score_bucket >= t ORDER BY doc_id
    """,
)
def doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DSIR selection (operators/selection.dsir_sample):
    importance weights vs the source='src0' slice + deterministic
    md5-Gumbel noise, keep ~100 docs by the bucketed-histogram top-k
    (no global sort — the token_budget_select discipline). The oracle
    replays weights, Gumbel draw, binning, and threshold exactly."""
    from ..operators.selection import dsir_sample

    d = load_table(spark, sf_dir, "documents")
    return dsir_sample(d, F.col("source") == "src0", 100).orderBy("doc_id")


@register_query(
    "customers_k_anonymity",
    oracle="""
    WITH classes AS (
        SELECT c_mktsegment, c_nationkey, count(*) AS n
        FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT CAST(5 AS INT) AS k,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_classes,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risky_rows,
           CAST(min(n) AS BIGINT) AS min_class_size,
           max(CASE WHEN n < 5 THEN 1 ELSE 0 END) = 0 AS anonymous
    FROM classes
    """,
)
def customers_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit (operators/quality_checks.k_anonymity_report,
    k=5) over the (market segment, nation) quasi-identifier pair — the
    privacy-review gate for structured tables. One groupBy + 1-row
    reduction; class cardinality bounds the shuffle, not rows."""
    from ..operators.quality_checks import k_anonymity_report

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_report(cust, ["c_mktsegment", "c_nationkey"], k=5)


@register_query(
    "customers_l_diversity",
    oracle="""
    WITH classes AS (
        SELECT c_mktsegment, c_nationkey, count(*) AS n,
               count(DISTINCT c_acctbal) AS d
        FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT CAST(3 AS INT) AS l,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_classes,
           CAST(sum(CASE WHEN d < 3 THEN n ELSE 0 END) AS BIGINT)
               AS n_risky_rows,
           CAST(min(d) AS BIGINT) AS min_diversity,
           max(CASE WHEN d < 3 THEN 1 ELSE 0 END) = 0 AS diverse
    FROM classes
    """,
)
def customers_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity audit (operators/quality_checks.l_diversity_report,
    l=3) — k-anonymity's complement (Machanavajjhala et al. 2007): the
    (market segment, nation) classes must each contain ≥3 distinct
    account-balance values, or a class is large-but-homogeneous and
    leaks the sensitive attribute outright. Same one-groupBy + 1-row
    reduction shape as the k-anonymity gate."""
    from ..operators.quality_checks import l_diversity_report

    cust = load_table(spark, sf_dir, "customer")
    return l_diversity_report(
        cust, ["c_mktsegment", "c_nationkey"], "c_acctbal", l=3
    )


@register_query("media_image_near_dup")
def media_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-dup pairs over the REAL stdlib PNG codec (rows-only:
    the Arrow decode is not SQL-expressible): deterministic synthetic
    PNGs (gradient seeded by doc_id % 200 — docs sharing a seed are
    exact visual copies) → ``multimodal.perceptual_hashes`` (average-
    hash, packed (lo, hi)) → ``dedup.packed_hamming_pairs`` banding.
    Only (id, lo, hi) ever shuffles. Every planted same-seed pair comes
    back at Hamming 0 (verified exhaustively in the units); additional
    small-Hamming pairs between similar gradients are the hash doing
    its job on visually-close images."""
    import pandas as pd

    from ..operators.multimodal import image_near_dup
    from ..operators.png_codec import png_encode

    w_px, h_px = 16, 12

    def synth(it):
        import numpy as np

        xs = np.arange(w_px, dtype=np.int64)
        ys = np.arange(h_px, dtype=np.int64)
        for pdf in it:
            payloads = []
            for i in pdf["doc_id"]:
                seed = int(i) % 200 + 3
                grid = (xs[None, :] * seed + ys[:, None] * 7) % 256
                px = (
                    np.repeat(grid.ravel(), 3).astype(np.uint8).tobytes()
                )
                payloads.append(png_encode(px, w_px, h_px, 3))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    imgs = d.mapInPandas(synth, "media_id long, payload binary")
    return (
        image_near_dup(imgs)
        .orderBy("id_a", "id_b")
    )


@register_query("media_audio_near_dup")
def media_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs over the REAL stdlib WAV codec (rows-only:
    the Arrow decode is not SQL-expressible): deterministic synthetic
    PCM tones (envelope shaped by doc_id % 200 — docs sharing a seed
    are the same recording, half of them re-encoded at HALF volume to
    exercise the gain invariance) → ``wav_codec.audio_hash``
    (loudness-envelope dHash, packed (lo, hi)) →
    ``dedup.packed_hamming_pairs`` banding via
    ``multimodal.audio_near_dup``. Only (id, lo, hi) ever shuffles.
    Every planted same-seed pair comes back at Hamming 0."""
    import pandas as pd

    from ..operators.multimodal import audio_near_dup

    n_samp = 650

    def synth(it):
        import struct

        import numpy as np

        t = np.arange(n_samp, dtype=np.float64)
        # canonical 16-bit mono header, byte-identical to wav_encode's
        # (pinned by the units); the synth packs sample bytes directly
        # so scaffolding cost doesn't swamp the decode-side measurement
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        head = (
            b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data"
        )
        for pdf in it:
            payloads = []
            for i in pdf["doc_id"]:
                seed = int(i) % 200 + 2
                # int16 domain, forced even, so the half-volume variant
                # (v // 2) decodes to EXACTLY half the float samples —
                # quantization can't perturb the envelope comparisons
                ints = (
                    np.round(
                        32000.0
                        * np.sin(0.07 * seed * t)
                        * (0.2 + 0.8 * np.abs(np.sin(0.003 * (seed + 5) * t)))
                    ).astype(np.int64)
                    & ~1
                )
                if int(i) % 2:
                    ints //= 2  # even ints: exact halving
                data = ints.astype("<i2").tobytes()
                body = head + struct.pack("<I", len(data)) + data
                payloads.append(
                    b"RIFF" + struct.pack("<I", len(body)) + body
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    wavs = d.mapInPandas(synth, "media_id long, payload binary")
    return audio_near_dup(wavs).orderBy("id_a", "id_b")


@register_query(
    "ann_ndcg_eval",
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             round(list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dp,
             round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos
      FROM embeddings c, embeddings q WHERE q.vec_id < 5
    ),
    res AS (
      SELECT query_id, vec_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY dp DESC, vec_id) AS rnk
      FROM scored
    ),
    qrels AS (
      SELECT query_id, vec_id,
             CASE WHEN cos >= 0.6 THEN 3.0 WHEN cos >= 0.3 THEN 2.0
                  WHEN cos >= 0.2 THEN 1.0 ELSE 0.0 END AS rel
      FROM scored
    ),
    got AS (
      SELECT r.query_id,
             sum(rel / log2(rnk + 1.0)) AS dcg,
             min(CASE WHEN rel > 0 THEN rnk END) AS first_rel
      FROM res r JOIN qrels j
        ON r.query_id = j.query_id AND r.vec_id = j.vec_id
      WHERE rnk <= 10 GROUP BY r.query_id
    ),
    ideal AS (
      SELECT query_id, sum(rel / log2(rn + 1.0)) AS idcg FROM (
        SELECT query_id, rel,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
        FROM qrels WHERE rel > 0
      ) WHERE rn <= 10 GROUP BY query_id
    ),
    nr AS (
      SELECT query_id,
             CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
      FROM qrels GROUP BY query_id
    )
    SELECT nr.query_id, nr.n_rel,
           round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr,
           round(CASE WHEN coalesce(idcg, 0) > 0
                      THEN coalesce(dcg, 0.0) / idcg ELSE 0.0 END, 6) AS ndcg
    FROM nr LEFT JOIN ideal USING (query_id)
            LEFT JOIN got ON nr.query_id = got.query_id
    ORDER BY nr.query_id
    """,
)
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 / nDCG@10 of a deliberately degraded ranking — top-10 by
    RAW dot product (no normalization) — against graded qrels banded
    from exact cosine (3/2/1 at 0.6/0.3/0.2, judged on 4dp-rounded
    cosine so both engines band identically). Exercises
    ``similarity.ranking_metrics``: the order-sensitive eval pair that
    recall@k can't provide. Queries are broadcast; the corpus never
    shuffles; the metric join is k × queries narrow rows."""
    from ..functions.vectors import cosine_similarity, dot
    from ..operators.similarity import ranking_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    scored = (
        emb.select("vec_id", F.col("embedding").alias("c_vec"))
        .join(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            F.round(dot("c_vec", "q_vec"), 6).alias("dp"),
            F.round(cosine_similarity("c_vec", "q_vec"), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dp").desc(), F.col("vec_id"))
    res = scored.select(
        "query_id", "vec_id", F.row_number().over(w).alias("rank")
    )
    qrels = scored.select(
        "query_id",
        "vec_id",
        F.when(F.col("cos") >= 0.6, 3.0)
        .when(F.col("cos") >= 0.3, 2.0)
        .when(F.col("cos") >= 0.2, 1.0)
        .otherwise(0.0)
        .alias("rel"),
    )
    return ranking_metrics(res, qrels, k=10).orderBy("query_id")


@register_query(
    "doc_ccnet_buckets",
    oracle=r"""
    WITH tk AS (
        SELECT doc_id,
               unnest(list_filter(
                   string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   x -> x <> '')) AS tok
        FROM documents
    ), f AS (
        SELECT tok, count(*) AS c FROM tk GROUP BY tok
    ), tot AS (SELECT CAST(sum(c) AS DOUBLE) AS s FROM f
    ), sc AS (
        SELECT tk.doc_id,
               round(avg(ln(CAST(f.c AS DOUBLE) / tot.s)), 6) AS lm_score
        FROM tk JOIN f USING (tok) CROSS JOIN tot
        GROUP BY tk.doc_id
    )
    SELECT s.doc_id, d.lang, s.lm_score,
           CASE ntile(3) OVER (
                  PARTITION BY d.lang ORDER BY s.lm_score DESC, s.doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM sc s JOIN documents d USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def doc_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality banding (Wenzek et al. 2020):
    per-language ntile(3) over the corpus-unigram LM score
    (``selection.perplexity_buckets`` over
    ``text.unigram_logprob_score``) — the banding CCNet uses so
    low-resource languages keep their own head instead of failing a
    global perplexity threshold. Banding orders on the 6dp-rounded
    score with doc_id tiebreak, so both engines band identically."""
    from ..operators.selection import perplexity_buckets
    from ..operators.text import unigram_logprob_score

    docs = load_table(spark, sf_dir, "documents")
    scored = unigram_logprob_score(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return (
        perplexity_buckets(scored, "lm_score", group_col="lang")
        .select("doc_id", "lang", "lm_score", "bucket")
        .orderBy("doc_id")
    )


@register_query(
    "doc_split_leakage",
    oracle="""
    WITH u AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ), tagged AS (
        SELECT text,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
                    THEN 'holdout' ELSE 'train' END AS split
        FROM u
    ), c AS (
        SELECT md5(text) AS fingerprint,
               CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN split = 'holdout' THEN 1 ELSE 0 END) AS BIGINT) AS n_holdout
        FROM tagged GROUP BY md5(text)
    )
    SELECT fingerprint, n_train, n_holdout
    FROM c WHERE n_train > 0 AND n_holdout > 0
    ORDER BY fingerprint
    """,
)
def doc_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout contamination audit
    (``quality_checks.split_leakage_report``): exact-content
    fingerprints straddling the split boundary. The test corpus has no
    exact text duplicates, so the query plants them — a second copy of
    every document under a shifted key — and the keyed ``hash_split``
    then scatters some copies across the boundary, which the audit must
    surface. One 16-byte-key aggregate; bodies never shuffle."""
    from ..functions.sampling import hash_split
    from ..operators.quality_checks import split_leakage_report

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.unionAll(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    tagged = hash_split(planted, "doc_id", holdout_sixteenths=2)
    return split_leakage_report(tagged).orderBy("fingerprint")


@register_query(
    "documents_fingerprint",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
      bit_xor(CAST(concat('0x', substr(md5(concat_ws(chr(31),
        coalesce(CAST(doc_id AS VARCHAR), chr(0)),
        coalesce(text, chr(0)),
        coalesce(lang, chr(0)),
        coalesce(source, chr(0)),
        coalesce(CAST(n_chars AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT))
        AS xor_fingerprint,
      CAST(sum(CAST(concat('0x', substr(md5(concat_ws(chr(31),
        coalesce(CAST(doc_id AS VARCHAR), chr(0)),
        coalesce(text, chr(0)),
        coalesce(lang, chr(0)),
        coalesce(source, chr(0)),
        coalesce(CAST(n_chars AS VARCHAR), chr(0)))), 1, 15)) AS BIGINT))
        % 1152921504606846976 AS BIGINT) AS sum_fingerprint
    FROM documents
    """,
)
def documents_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/partitioning-invariant multiset fingerprint of the full
    documents table (``profile.dataset_fingerprint``): the
    replica-equality probe for migrations and backup restores — xor +
    additive sum of a 60-bit per-row md5, one map-side aggregate, zero
    data shuffle. The DuckDB twin computing the IDENTICAL number from
    the same parquet is exactly the cross-engine equality check the
    operator exists for."""
    from ..operators.profile import dataset_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return dataset_fingerprint(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )


@register_query(
    "events_value_drift",
    oracle="""
    WITH r AS (
      SELECT least(9, greatest(0, CAST(floor(value / 50.0) AS INT))) AS bucket,
             count(*) AS n
      FROM events
      WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL
      GROUP BY 1),
    c AS (
      SELECT least(9, greatest(0, CAST(floor(value / 50.0) AS INT))) AS bucket,
             count(*) AS n
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL
      GROUP BY 1),
    spine AS (SELECT CAST(range AS INT) AS bucket FROM range(10)),
    j AS (
      SELECT s.bucket,
             COALESCE(r.n, 0) AS n_ref,
             COALESCE(c.n, 0) AS n_cur
      FROM spine s
      LEFT JOIN r ON s.bucket = r.bucket
      LEFT JOIN c ON s.bucket = c.bucket),
    t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
                 CAST(sum(n_cur) AS DOUBLE) AS tc FROM j)
    SELECT j.bucket,
      round(CAST(j.bucket AS DOUBLE) * 50.0, 6) AS bucket_lo,
      CAST(n_ref AS BIGINT) AS n_ref,
      CAST(n_cur AS BIGINT) AS n_cur,
      round((
          (CAST(n_ref AS DOUBLE) + 0.5) / (t.tr + 5.0)
        - (CAST(n_cur AS DOUBLE) + 0.5) / (t.tc + 5.0)
      ) * ln(
          ((CAST(n_ref AS DOUBLE) + 0.5) / (t.tr + 5.0))
        / ((CAST(n_cur AS DOUBLE) + 0.5) / (t.tc + 5.0))
      ), 6) AS psi_contrib
    FROM j CROSS JOIN t
    ORDER BY j.bucket
    """,
)
def events_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution drift (PSI) between the first and second half
    of the events month (``operators/drift.distribution_drift``): pinned
    [0, 500) × 10 equi-width buckets, Laplace smoothing 0.5, per-bucket
    PSI contributions — total PSI = sum. Each snapshot is one scan whose
    shuffle payload is 10 (bucket, count) rows; the PSI math runs on the
    10-row joined frame. The oracle replays the identical binning,
    smoothing, and ln() formula."""
    from ..operators.drift import distribution_drift

    ev = load_table(spark, sf_dir, "events")
    return distribution_drift(
        ev.filter(F.col("ts") < "2024-01-16"),
        ev.filter(F.col("ts") >= "2024-01-16"),
        "value",
        bins=10,
        lo=0.0,
        hi=500.0,
        smoothing=0.5,
    ).orderBy("bucket")


@register_query(
    "doc_lang_drift",
    oracle="""
    WITH r AS (
      SELECT lang AS value, count(*) AS n FROM documents
      WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1),
    c AS (
      SELECT lang AS value, count(*) AS n FROM documents
      WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1),
    j AS (
      SELECT COALESCE(r.value, c.value) AS value,
             COALESCE(r.n, 0) AS n_ref,
             COALESCE(c.n, 0) AS n_cur
      FROM r FULL OUTER JOIN c ON r.value = c.value),
    t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
                 CAST(sum(n_cur) AS DOUBLE) AS tc,
                 CAST(count(*) AS DOUBLE) AS k FROM j)
    SELECT j.value,
      CAST(n_ref AS BIGINT) AS n_ref,
      CAST(n_cur AS BIGINT) AS n_cur,
      round((
          (CAST(n_ref AS DOUBLE) + 0.5) / (t.tr + 0.5 * t.k)
        - (CAST(n_cur AS DOUBLE) + 0.5) / (t.tc + 0.5 * t.k)
      ) * ln(
          ((CAST(n_ref AS DOUBLE) + 0.5) / (t.tr + 0.5 * t.k))
        / ((CAST(n_cur AS DOUBLE) + 0.5) / (t.tc + 0.5 * t.k))
      ), 6) AS psi_contrib
    FROM j CROSS JOIN t
    ORDER BY j.value
    """,
)
def doc_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI (``drift.categorical_drift``) over the language
    mix of two deterministic document halves (doc_id parity standing in
    for consecutive crawl snapshots) — "did the composition shift".
    Shuffle payload is |langs| count rows per side; the totals ride a
    1-row broadcast (scalar cross-join pattern), NOT a single-partition
    window, so the shape survives high-cardinality columns. The oracle
    replays the identical smoothing and ln formula."""
    from ..operators.drift import categorical_drift

    docs = load_table(spark, sf_dir, "documents")
    return categorical_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "lang",
    ).orderBy("value")


@register_query(
    "curation_pipeline_v4",
    oracle="""
    WITH d AS (SELECT doc_id, lang, text FROM documents),
    pg AS (SELECT doc_id, lang,
        array_to_string(list_filter([
          CASE doc_id % 4 WHEN 1 THEN text || ' lorem ipsum.'
                          WHEN 2 THEN text || ' {.'
                          WHEN 3 THEN text
                          ELSE text || '.' END,
          'Proper sentences help pages pass the filter. Indeed they do! Right?',
          CASE doc_id % 13
            WHEN 0 THEN 'Permission is hereby granted, free of charge, to any person.'
            WHEN 1 THEN 'Licensed under the Apache License, Version 2.0.'
            WHEN 2 THEN 'This program is covered by the GNU General Public License.'
            ELSE NULL END
        ], x -> x IS NOT NULL), chr(10)) AS t
       FROM d),
    c4 AS (SELECT doc_id, lang,
        array_to_string(list_filter(string_split(t, chr(10)), l ->
          (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!'
           OR rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%"')
          AND len(string_split_regex(trim(l), '\\s+')) >= 5
          AND NOT contains(lower(l), 'javascript')), chr(10)) AS t
       FROM pg),
    kp AS (SELECT * FROM c4
       WHERE length(t) - length(replace(replace(replace(
               t, '.', ''), '!', ''), '?', '')) >= 3
         AND NOT contains(lower(t), 'lorem ipsum')
         AND NOT contains(t, '{')),
    lic AS (SELECT doc_id, lang, t,
         CASE
           WHEN contains(lower(t), 'permission is hereby granted, free of charge') THEN 'mit'
           WHEN contains(lower(t), 'licensed under the apache license') THEN 'apache-2.0'
           WHEN contains(lower(t), 'redistribution and use in source and binary forms') THEN 'bsd'
           WHEN contains(lower(t), 'gnu lesser general public license') THEN 'lgpl'
           WHEN contains(lower(t), 'gnu general public license') THEN 'gpl'
           WHEN contains(lower(t), 'creativecommons.org/licenses/by-nc') THEN 'cc-by-nc'
           WHEN contains(lower(t), 'creativecommons.org/licenses/by-sa') THEN 'cc-by-sa'
           WHEN contains(lower(t), 'creativecommons.org/licenses/by') THEN 'cc-by'
           WHEN contains(lower(t), 'creativecommons.org/publicdomain/zero') THEN 'cc0'
           ELSE 'unknown' END AS license
        FROM kp),
    perm AS (SELECT * FROM lic
       WHERE license IN ('mit','apache-2.0','bsd','cc-by','cc0','unknown')),
    ded AS (SELECT doc_id, lang, license,
          min(doc_id) OVER (PARTITION BY
            md5(regexp_replace(trim(lower(t)), '\\s+', ' ', 'g'))) AS w
        FROM perm),
    surv AS (SELECT lang, license FROM ded WHERE doc_id = w),
    g AS (SELECT lang, license, CAST(count(*) AS DOUBLE) AS n
          FROM surv GROUP BY 1, 2),
    h AS (SELECT lang, license, n,
           (CAST(concat('0x', substring(md5(
               'dp' || chr(31) || lang || chr(31) || license), 1, 8))
             AS BIGINT) + 0.5) / 4294967296.0 AS u
          FROM g)
    SELECT lang, license,
           round(n + (-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))),
                 6) AS noisy_count,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM h ORDER BY lang, license
    """,
)
def curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The governed-release pipeline with the round-4h/4i operator set:
    C4 line filter + page gate (planted lorem/brace/unterminated fates
    by doc_id % 4, a license line planted by doc_id % 13) → license
    detection keeping permissive-or-unknown (the GPL-planted docs drop
    here) → corpus-wide exact dedup of the RETAINED text (16-byte
    winner election, semi-join back) → differentially-private release
    of the surviving (lang, license) composition (ε=1 Laplace, seeded).
    Every stage is the already-oracle-backed operator; the whole chain
    replays in one DuckDB query. Sibling of `training_prep_pipeline`
    (dedup-centric), `curation_pipeline_v2` (classifier-centric), and
    `curation_pipeline_v3` (scrub/bloom/upsample-centric)."""
    from ..operators.dedup import exact_dedup
    from ..operators.quality_checks import dp_noisy_counts
    from ..operators.text import c4_line_filter, license_detect

    docs = load_table(spark, sf_dir, "documents")
    m4 = F.col("doc_id") % 4
    m13 = F.col("doc_id") % 13
    l1 = (
        F.when(m4 == 1, F.concat(F.col("text"), F.lit(" lorem ipsum.")))
        .when(m4 == 2, F.concat(F.col("text"), F.lit(" {.")))
        .when(m4 == 3, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(".")))
    )
    lic_line = (
        F.when(m13 == 0, F.lit(
            "Permission is hereby granted, free of charge, to any person."))
        .when(m13 == 1, F.lit(
            "Licensed under the Apache License, Version 2.0."))
        .when(m13 == 2, F.lit(
            "This program is covered by the GNU General Public License."))
        .otherwise(F.lit(None).cast("string"))
    )
    pages = docs.select(
        "doc_id", "lang",
        F.concat_ws(
            "\n",
            l1,
            F.lit(
                "Proper sentences help pages pass the filter."
                " Indeed they do! Right?"
            ),
            lic_line,
        ).alias("text"),
    )
    kept = c4_line_filter(pages).filter(F.col("keep_page"))
    tagged = license_detect(kept).filter(
        F.col("permissive") | (F.col("license") == "unknown")
    )
    winners = exact_dedup(tagged).select("doc_id")
    survivors = tagged.join(winners, "doc_id", "semi")
    return dp_noisy_counts(
        survivors, ["lang", "license"], epsilon=1.0
    ).orderBy("lang", "license")


@register_query(
    "doc_c4_line_filter",
    oracle="""
    WITH d AS (SELECT doc_id, text, doc_id % 4 AS m FROM documents),
    c AS (SELECT doc_id,
            CASE m WHEN 1 THEN text || ' lorem ipsum.'
                   WHEN 2 THEN text || ' {.'
                   WHEN 3 THEN text
                   ELSE text || '.' END AS l1
          FROM d),
    a AS (SELECT doc_id,
            [l1, 'tiny line',
             'Proper sentences help pages pass the filter. Indeed they do! Right?']
            AS lines
          FROM c),
    k AS (SELECT doc_id, len(lines) AS n_lines,
            list_filter(lines, l ->
              (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!'
               OR rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%"')
              AND len(string_split_regex(trim(l), '\\s+')) >= 5
              AND NOT contains(lower(l), 'javascript')) AS kept
          FROM a),
    f AS (SELECT doc_id, n_lines, len(kept) AS n_kept_lines,
            array_to_string(kept, chr(10)) AS t
          FROM k)
    SELECT doc_id, t AS text,
      CAST(n_lines AS BIGINT) AS n_lines,
      CAST(n_kept_lines AS BIGINT) AS n_kept_lines,
      CAST(length(t) - length(replace(replace(replace(
           t, '.', ''), '!', ''), '?', '')) AS BIGINT) AS n_sentences,
      (length(t) - length(replace(replace(replace(
           t, '.', ''), '!', ''), '?', '')) >= 3
       AND NOT contains(lower(t), 'lorem ipsum')
       AND NOT contains(t, '{')) AS keep_page
    FROM f ORDER BY doc_id
    """,
)
def doc_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning stage (``text.c4_line_filter``, Raffel et al.
    2020 §2.2): line-level retention (terminal punctuation, >= 5
    words, no javascript) + page-level keep flag (>= 3 sentences
    retained, no lorem ipsum, no brace). Synthetic docs are one line
    with no terminal punctuation, so the query CONSTRUCTS a 3-line
    page per doc with doc_id % 4 deciding the first line's fate
    (kept / lorem-poisoned / brace-poisoned / dropped-unterminated) —
    every rule exercised. One codegen'd projection; the oracle replays
    construction, line filter, and flags identically."""
    from ..operators.text import c4_line_filter

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    l1 = (
        F.when(m == 1, F.concat(F.col("text"), F.lit(" lorem ipsum.")))
        .when(m == 2, F.concat(F.col("text"), F.lit(" {.")))
        .when(m == 3, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(".")))
    )
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            l1,
            F.lit("tiny line"),
            F.lit(
                "Proper sentences help pages pass the filter."
                " Indeed they do! Right?"
            ),
        ).alias("text"),
    )
    return (
        c4_line_filter(pages)
        .select(
            "doc_id", "text", "n_lines", "n_kept_lines",
            "n_sentences", "keep_page",
        )
        .orderBy("doc_id")
    )


@register_query(
    "doc_gopher_quality",
    oracle="""
    WITH d AS (SELECT doc_id, lower(text) AS low FROM documents),
    a AS (SELECT doc_id, low,
            string_split_regex(trim(low), '\\s+') AS toks,
            string_split(low, chr(10)) AS lines
          FROM d),
    m AS (SELECT doc_id,
            len(toks) AS wc,
            list_sum(list_transform(toks, t -> length(t))) AS totlen,
            length(low) - length(replace(low, '#', '')) AS n_hash,
            CAST((length(low) - length(replace(low, '...', ''))) / 3
                 AS BIGINT) AS n_ell,
            len(list_filter(lines, l ->
                ltrim(l) LIKE '- %' OR ltrim(l) LIKE '* %'
                OR ltrim(l) LIKE '•%')) AS n_bul,
            len(list_filter(lines, l ->
                rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS n_elll,
            len(lines) AS n_lines,
            len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
              AS n_alpha,
            len(list_filter(toks, t -> t IN
                ('the','be','to','of','and','that','have','with')))
              AS n_stop
          FROM a),
    r AS (SELECT doc_id,
            CAST(wc AS BIGINT) AS word_count,
            round(CAST(totlen AS DOUBLE) / wc, 6) AS mean_word_len,
            round(CAST(n_hash + n_ell AS DOUBLE) / wc, 6) AS symbol_ratio,
            round(CAST(n_bul AS DOUBLE) / n_lines, 6) AS bullet_ratio,
            round(CAST(n_elll AS DOUBLE) / n_lines, 6) AS ellipsis_ratio,
            round(CAST(n_alpha AS DOUBLE) / wc, 6) AS alpha_ratio,
            CAST(n_stop AS BIGINT) AS n_stop
          FROM m)
    SELECT *,
      (word_count >= 50 AND word_count <= 100000
       AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
       AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
       AND n_stop >= 2) AS passes_gopher
    FROM r ORDER BY doc_id
    """,
)
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality rules (``text.gopher_quality_flags``, Rae et
    al. 2021 A1.1): per-document component metrics + the published
    threshold conjunction. One narrow codegen'd projection — token and
    line arrays materialized once (HOF-inlining trap), zero shuffle,
    zero UDF (plan-asserted in units). The oracle replays every metric
    and the flag on the SAME rounded values."""
    from ..operators.text import gopher_quality_flags

    docs = load_table(spark, sf_dir, "documents")
    return (
        gopher_quality_flags(docs)
        .select(
            "doc_id",
            "word_count",
            "mean_word_len",
            "symbol_ratio",
            "bullet_ratio",
            "ellipsis_ratio",
            "alpha_ratio",
            "n_stop",
            "passes_gopher",
        )
        .orderBy("doc_id")
    )


@register_query(
    "doc_license_detect",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
        CASE doc_id % 13
          WHEN 0 THEN text || ' Permission is hereby granted, free of charge, to any person.'
          WHEN 1 THEN text || ' Licensed under the Apache License, Version 2.0.'
          WHEN 2 THEN text || ' This program is covered by the GNU General Public License.'
          WHEN 3 THEN text || ' See https://creativecommons.org/licenses/by-nc/4.0/.'
          WHEN 4 THEN text || ' See https://creativecommons.org/licenses/by/4.0/.'
          ELSE text END AS t
      FROM documents),
    tagged AS (
      SELECT doc_id,
        CASE
          WHEN contains(lower(t), 'permission is hereby granted, free of charge') THEN 'mit'
          WHEN contains(lower(t), 'licensed under the apache license') THEN 'apache-2.0'
          WHEN contains(lower(t), 'redistribution and use in source and binary forms') THEN 'bsd'
          WHEN contains(lower(t), 'gnu lesser general public license') THEN 'lgpl'
          WHEN contains(lower(t), 'gnu general public license') THEN 'gpl'
          WHEN contains(lower(t), 'creativecommons.org/licenses/by-nc') THEN 'cc-by-nc'
          WHEN contains(lower(t), 'creativecommons.org/licenses/by-sa') THEN 'cc-by-sa'
          WHEN contains(lower(t), 'creativecommons.org/licenses/by') THEN 'cc-by'
          WHEN contains(lower(t), 'creativecommons.org/publicdomain/zero') THEN 'cc0'
          ELSE 'unknown' END AS license,
        CASE
          WHEN contains(lower(t), 'permission is hereby granted, free of charge') THEN TRUE
          WHEN contains(lower(t), 'licensed under the apache license') THEN TRUE
          WHEN contains(lower(t), 'redistribution and use in source and binary forms') THEN TRUE
          WHEN contains(lower(t), 'gnu lesser general public license') THEN FALSE
          WHEN contains(lower(t), 'gnu general public license') THEN FALSE
          WHEN contains(lower(t), 'creativecommons.org/licenses/by-nc') THEN FALSE
          WHEN contains(lower(t), 'creativecommons.org/licenses/by-sa') THEN FALSE
          WHEN contains(lower(t), 'creativecommons.org/licenses/by') THEN TRUE
          WHEN contains(lower(t), 'creativecommons.org/publicdomain/zero') THEN TRUE
          ELSE FALSE END AS permissive
      FROM planted)
    SELECT license, permissive,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM tagged GROUP BY 1, 2 ORDER BY license
    """,
)
def doc_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License-family detection (``text.license_detect`` — The Stack /
    RedPajama-code's license gate): classify each document's declared
    license from characteristic boilerplate phrases, tag permissive vs
    restrictive, aggregate the corpus composition. The synthetic docs
    carry no licenses, so the query PLANTS phrases deterministically by
    doc_id % 13 (the md5-injection trick the impute oracle uses) —
    five families + untouched rows all exercised. Detection is one
    lowercase projection + a ``contains`` decision chain: codegen'd,
    zero shuffle, zero UDF; the oracle replays the identical CASE
    chain, most-specific phrase first."""
    from ..operators.text import license_detect

    docs = load_table(spark, sf_dir, "documents")
    mod = F.col("doc_id") % 13
    plant = (
        F.when(mod == 0, F.concat(F.col("text"), F.lit(
            " Permission is hereby granted, free of charge, to any person.")))
        .when(mod == 1, F.concat(F.col("text"), F.lit(
            " Licensed under the Apache License, Version 2.0.")))
        .when(mod == 2, F.concat(F.col("text"), F.lit(
            " This program is covered by the GNU General Public License.")))
        .when(mod == 3, F.concat(F.col("text"), F.lit(
            " See https://creativecommons.org/licenses/by-nc/4.0/.")))
        .when(mod == 4, F.concat(F.col("text"), F.lit(
            " See https://creativecommons.org/licenses/by/4.0/.")))
        .otherwise(F.col("text"))
    )
    planted = docs.select("doc_id", plant.alias("t"))
    return (
        license_detect(planted, "t")
        .groupBy("license", "permissive")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("license")
    )


@register_query(
    "doc_dp_lang_counts",
    oracle="""
    WITH g AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
    h AS (
      SELECT lang, n,
             (CAST(concat('0x', substring(md5(
                 'dp' || chr(31) || coalesce(lang, chr(0))), 1, 8))
               AS BIGINT) + 0.5) / 4294967296.0 AS u
      FROM g)
    SELECT lang,
           round(n + (-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))),
                 6) AS noisy_count,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM h ORDER BY lang
    """,
)
def doc_dp_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private language-composition release
    (``quality_checks.dp_noisy_counts``, Laplace mechanism ε=1): the
    per-language counts a privacy-reviewed data card publishes. Noise
    derives from md5 of (seed, group) — reproducible across runs,
    layouts, and engines; the oracle replays the identical
    inverse-CDF arithmetic. One map-side-combinable count aggregate +
    a narrow projection; |langs| rows ever shuffle."""
    from ..operators.quality_checks import dp_noisy_counts

    docs = load_table(spark, sf_dir, "documents")
    return dp_noisy_counts(docs, ["lang"], epsilon=1.0).orderBy("lang")


@register_query(
    "events_user_concentration",
    oracle="""
    WITH g AS (
      SELECT user_id AS grp, CAST(count(*) AS DOUBLE) AS w
      FROM events GROUP BY 1),
    o AS (
      SELECT grp, w,
             row_number() OVER (ORDER BY w DESC, grp) AS rn,
             sum(w) OVER (ORDER BY w DESC, grp
                          ROWS UNBOUNDED PRECEDING) AS cw
      FROM g),
    s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(w) AS DOUBLE) AS tw,
                 CAST(sum(rn * w) AS DOUBLE) AS rw FROM o)
    SELECT CAST(ceil(rn * 10.0 / n) AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_groups,
           round(sum(w) / tw, 6) AS band_share,
           round(max(cw) / tw, 6) AS cum_share,
           round(2.0 * ((n + 1) * tw - rw) / (n * tw) - (n + 1) / n,
                 6) AS gini
    FROM o CROSS JOIN s
    GROUP BY 1, n, tw, rw
    ORDER BY band
    """,
)
def events_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration (``profile.concentration_report``): Lorenz
    bands + Gini of events per user — the "top 10% of users produce X%
    of the data" curation diagnostic that motivates per-domain caps.
    The corpus collapses to |users| count rows before any ranking, and
    the global rank/cum-sum is the exact DISTRIBUTED prefix sum (range
    repartition + per-partition window + broadcast offset fold), never
    a single global window — the shape that survives 100 M groups. The
    oracle replays the identical ranking, band, share, and Gini
    arithmetic with one window (fine at sf scale)."""
    from ..operators.profile import concentration_report

    ev = load_table(spark, sf_dir, "events")
    return concentration_report(ev, "user_id", n_bands=10)


@register_query(
    "doc_unicode_normalize",
    oracle="""
    WITH m AS (
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0
             THEN 'Caf' || chr(233) || ' no ' || CAST(doc_id AS VARCHAR)
             ELSE 'Cafe' || chr(769) || ' no ' || CAST(doc_id AS VARCHAR)
        END AS raw
      FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      nfc_normalize(raw) AS text_nfc,
      raw <> nfc_normalize(raw) AS changed
    FROM m
    """,
)
def doc_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (``textfns.unicode_normalize``) over a
    derived column mixing precomposed (even doc_ids) and
    combining-mark (odd) spellings of the same text. The oracle runs
    DuckDB's utf8proc ``nfc_normalize`` — an independent implementation
    of the same Unicode standard, so agreement is a real cross-check,
    not a replay. One Arrow stage (the declared pandas_udf); the
    surrounding derivation and comparison stay JVM."""
    from ..functions.textfns import unicode_normalize

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    raw = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("Caf\u00e9 no "), did),  # precomposed: already NFC
    ).otherwise(
        F.concat(F.lit("Cafe\u0301 no "), did)  # e + combining acute
    )
    staged = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        raw.alias("raw"),
        unicode_normalize(raw).alias("text_nfc"),
    )
    return staged.select(
        "doc_id",
        "text_nfc",
        (F.col("raw") != F.col("text_nfc")).alias("changed"),
    )


@register_query(
    "doc_url_normalize",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CASE WHEN doc_id % 7 = 0 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
           ELSE 'http://www.' || source ||
                CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END ||
                '/p/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2' END AS url_canon,
      CASE WHEN doc_id % 7 = 0 THEN ''
           ELSE 'www.' || source ||
                CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END
           END AS host,
      CASE WHEN doc_id % 7 = 0 THEN ''
           ELSE source ||
                CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END
           END AS domain
    FROM documents
    """,
)
def doc_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registrable domain (``functions/urls.py``)
    over a deterministically-derived messy URL per document (uppercase
    host, userinfo, default port, unsorted + tracking query params,
    fragment; every 7th row a non-URL passthrough). The oracle does NOT
    re-run the string pipeline — it constructs the expected canonical
    form analytically from the same derivation, so a shared
    regexp/sort/filter bug can't self-confirm. One narrow codegen'd
    projection, zero shuffle."""
    from ..functions.urls import registrable_domain, url_host, url_normalize

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    messy = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.lit("not a url "), did)
    ).otherwise(
        F.concat(
            F.lit("HTTP://User@WWW."),
            F.upper("source"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(".CO.UK")).otherwise(
                F.lit(".COM")
            ),
            F.lit(":80/p/"),
            did,
            F.lit("?utm_source=x&b=2&a=1#frag"),
        )
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        url_normalize(messy).alias("url_canon"),
        url_host(messy).alias("host"),
        registrable_domain(messy).alias("domain"),
    )


@register_query(
    "doc_token_fertility",
    oracle="""
    WITH words AS (
        SELECT doc_id, w
        FROM documents,
        LATERAL unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS t(w)
    ), bpe AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN w IN ('agg','batch','column','customer','filter',
                                        'group','hash','join','merge','query','small',
                                        'spark','the','value','vector','window')
                             THEN 1 ELSE length(w) END) AS BIGINT) AS n_bpe
        FROM words GROUP BY doc_id
    ), ws AS (
        SELECT doc_id, lang,
               len(list_filter(
                   string_split_regex(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                   x -> x <> '')) AS n_words
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(coalesce(n_bpe, 0)) AS BIGINT) AS n_bpe_tokens,
           round(CASE WHEN sum(n_words) > 0
                      THEN sum(coalesce(n_bpe, 0)) * 1.0 / sum(n_words)
                 END, 6) AS fertility
    FROM ws LEFT JOIN bpe USING (doc_id)
    GROUP BY lang ORDER BY lang
    """,
)
def doc_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (``text.tokenizer_fertility``)
    under the bundled fixture BPE vocabulary — BPE tokens per
    whitespace word, the number that says which languages a tokenizer
    taxes. The fixture's merge chains make the BPE counts exactly
    SQL-replayable (the ``doc_bpe_token_count`` construction): 1 token
    per fully-merged vocab word, character count otherwise."""
    import importlib.resources as res

    from ..functions.bpe import load_merges
    from ..operators.text import tokenizer_fertility

    with res.as_file(
        res.files("nifi_hive_schema_generator_bundle_spark").joinpath(
            "data/bpe_merges_fixture.txt"
        )
    ) as p:
        merges = load_merges(str(p))
    d = load_table(spark, sf_dir, "documents")
    return tokenizer_fertility(d, merges).orderBy("lang")


@register_query(
    "doc_gopher_repetition",
    oracle="""
    WITH src AS (
      SELECT doc_id, doc_id % 5 AS m,
             replace(substring(text, 1, 40), chr(10), ' ') AS base
      FROM documents),
    pg AS (
      SELECT doc_id,
        'Alpha line one.' || chr(10) || base AS p1,
        CASE m WHEN 0 THEN 'Beta line two.'
               WHEN 1 THEN 'Alpha line one.' || chr(10) || 'Alpha line one.'
               WHEN 2 THEN 'Alpha line one.' || chr(10) || base
               WHEN 3 THEN 'Alpha line one.'
               ELSE base END AS p2
      FROM src),
    pages AS (
      SELECT doc_id, p1 || chr(10) || chr(10) || p2 AS t FROM pg),
    lu AS (SELECT doc_id, trim(u) AS u
           FROM pages, unnest(string_split(t, chr(10))) AS s(u)
           WHERE trim(u) <> ''),
    lc AS (SELECT doc_id, u, count(*) AS cnt, length(u) AS len
           FROM lu GROUP BY doc_id, u),
    lr AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
             round(CAST(sum(cnt - 1) AS DOUBLE) / sum(cnt), 6)
               AS dup_line_frac,
             round(CAST(sum((cnt - 1) * len) AS DOUBLE)
                   / sum(cnt * len), 6) AS dup_line_char_frac
           FROM lc GROUP BY doc_id),
    pu AS (SELECT doc_id, trim(u) AS u
           FROM pages, unnest(string_split_regex(t, '\\n{2,}')) AS s(u)
           WHERE trim(u) <> ''),
    pc AS (SELECT doc_id, u, count(*) AS cnt, length(u) AS len
           FROM pu GROUP BY doc_id, u),
    pr AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_paras,
             round(CAST(sum(cnt - 1) AS DOUBLE) / sum(cnt), 6)
               AS dup_para_frac,
             round(CAST(sum((cnt - 1) * len) AS DOUBLE)
                   / sum(cnt * len), 6) AS dup_para_char_frac
           FROM pc GROUP BY doc_id)
    SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
           p.n_paras, p.dup_para_frac, p.dup_para_char_frac,
           (coalesce(l.dup_line_frac, 0) <= 0.30
            AND coalesce(p.dup_para_frac, 0) <= 0.30
            AND coalesce(l.dup_line_char_frac, 0) <= 0.20
            AND coalesce(p.dup_para_char_frac, 0) <= 0.20)
             AS passes_repetition
    FROM lr l JOIN pr p USING (doc_id) ORDER BY l.doc_id
    """,
)
def doc_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repetition half of the Gopher filters
    (``text.gopher_repetition_flags``, Rae et al. 2021 Table A1):
    duplicated-line and duplicated-paragraph fractions plus the
    characters inside those duplicates, and the threshold conjunction.
    Synthetic docs are single-line, so the query CONSTRUCTS a
    two-paragraph page per doc with doc_id % 5 planting the repetition
    mode (clean / tripled line / duplicated paragraph / short / filler
    echoed across paragraphs) — every metric exercised. Units are
    md5-hashed before the (doc, unit) count aggregate, so the shuffle
    carries (id, hash, length) triples, never page bodies; the oracle
    replays construction, unit splits, and both aggregates."""
    from ..operators.text import gopher_repetition_flags

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    base = F.replace(
        F.substring(F.col("text"), 1, 40), F.lit("\n"), F.lit(" ")
    )
    p1 = F.concat(F.lit("Alpha line one.\n"), base)
    p2 = (
        F.when(m == 0, F.lit("Beta line two."))
        .when(m == 1, F.lit("Alpha line one.\nAlpha line one."))
        .when(m == 2, F.concat(F.lit("Alpha line one.\n"), base))
        .when(m == 3, F.lit("Alpha line one."))
        .otherwise(base)
    )
    pages = docs.select(
        "doc_id", F.concat(p1, F.lit("\n\n"), p2).alias("text")
    )
    return (
        gopher_repetition_flags(pages)
        .select(
            "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac",
            "n_paras", "dup_para_frac", "dup_para_char_frac",
            "passes_repetition",
        )
        .orderBy("doc_id")
    )


@register_query(
    "doc_html_extract",
    oracle="""
    WITH src AS (
      SELECT doc_id, doc_id % 4 AS m,
             replace(substring(text, 1, 30), chr(10), ' ') AS base
      FROM documents),
    pages AS (
      SELECT doc_id,
        CASE m
          WHEN 0 THEN '<html><head><title>Title</title><style>p {color:red}</style>'
                      || '<script type="text/javascript">var x = 1 < 2;</script>'
                      || '</head><body><h1>' || base || '</h1><p>First para.</p>'
                      || '<ul><li>One</li><li>Two</li></ul></body></html>'
          WHEN 1 THEN '<p>Tom &amp; Jerry say &quot;hi&quot; &lt;now&gt; it&#39;s&nbsp;'
                      || base || '</p>'
          WHEN 2 THEN '<div><!-- hidden comment --><span class="a b">'
                      || base || '</span><br/>next line</div>'
          ELSE base END AS h
      FROM src),
    x AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
             '(?i)<br\\s*/?>|</p\\s*>|</div\\s*>|</li\\s*>|</h[1-6]\\s*>|</tr\\s*>|</title\\s*>',
             chr(10), 'g'),
             '(?s)<[^>]*>', ' ', 'g') AS t1
      FROM pages),
    e AS (
      SELECT doc_id,
        replace(replace(replace(replace(replace(replace(
          t1, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
          '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS t2
      FROM x),
    f AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          t2, '[ \\t]+', ' ', 'g'),
          ' *\\n *', chr(10), 'g'),
          '\\n{2,}', chr(10), 'g'),
          '^\\s+|\\s+$', '', 'g') AS text
      FROM e)
    SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
    FROM f ORDER BY doc_id
    """,
)
def doc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible-text extraction (``textfns.html_to_text``, the
    WET-file stage upstream of every quality filter). Synthetic docs are
    plain text, so the query CONSTRUCTS an HTML page per doc with
    doc_id % 4 planting the mode (full page with script+style+list /
    entity-heavy incl. the double-encoded-& trap / comment+nested tags
    +<br> / tagless passthrough). The whole chain is shared Java-regex ∩
    RE2 syntax with no backreferences, so the oracle replays every
    pattern verbatim; one codegen'd projection, zero shuffle, zero
    UDF."""
    from ..functions.textfns import html_to_text

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    base = F.replace(
        F.substring(F.col("text"), 1, 30), F.lit("\n"), F.lit(" ")
    )
    h = (
        F.when(m == 0, F.concat(
            F.lit(
                '<html><head><title>Title</title><style>p {color:red}</style>'
                '<script type="text/javascript">var x = 1 < 2;</script>'
                "</head><body><h1>"
            ),
            base,
            F.lit(
                "</h1><p>First para.</p>"
                "<ul><li>One</li><li>Two</li></ul></body></html>"
            ),
        ))
        .when(m == 1, F.concat(
            F.lit(
                "<p>Tom &amp; Jerry say &quot;hi&quot; &lt;now&gt;"
                " it&#39;s&nbsp;"
            ),
            base,
            F.lit("</p>"),
        ))
        .when(m == 2, F.concat(
            F.lit('<div><!-- hidden comment --><span class="a b">'),
            base,
            F.lit("</span><br/>next line</div>"),
        ))
        .otherwise(base)
    )
    return (
        docs.select("doc_id", h.alias("h"))
        .select(
            "doc_id",
            html_to_text("h").alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .orderBy("doc_id")
    )


@register_query(
    "doc_url_dedup",
    oracle="""
    WITH u AS (
      SELECT doc_id, length(text) AS q,
             'http://www.site' || CAST(doc_id % 97 AS VARCHAR)
               || '.com/page' AS url_canon
      FROM documents),
    r AS (
      SELECT doc_id, url_canon, q,
        row_number() OVER (PARTITION BY url_canon
                           ORDER BY q DESC, doc_id) AS rn,
        count(*) OVER (PARTITION BY url_canon) AS n_crawls
      FROM u)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, url_canon,
           CAST(n_crawls AS BIGINT) AS n_crawls
    FROM r WHERE rn = 1 ORDER BY doc_id
    """,
)
def doc_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level recrawl collapse (``dedup.url_dedup``): docs are
    assigned messy URLs that collide in groups of ~5 (doc_id % 97 picks
    the page; doc_id % 3 picks the cosmetic variant — uppercase host /
    tracking param + fragment / userinfo + default port), then one
    winner per canonical URL survives (longest text, ties → lowest id).
    The oracle constructs the expected canonical form ANALYTICALLY from
    the same derivation and replays only the election — a shared
    canonicalization bug can't self-confirm (the doc_url_normalize
    oracle style). Election runs on a slim (id, canon, len) projection;
    bodies never shuffle through the window."""
    from ..operators.dedup import url_dedup

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id") % 97
    v = F.col("doc_id") % 3
    ks = k.cast("string")
    messy = (
        F.when(v == 0, F.concat(
            F.lit("HTTP://WWW.SITE"), ks, F.lit(".COM/page")))
        .when(v == 1, F.concat(
            F.lit("http://www.site"), ks,
            F.lit(".com/page?utm_source=x#top")))
        .otherwise(F.concat(
            F.lit("http://user@www.site"), ks, F.lit(".com:80/page")))
    )
    staged = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        messy.alias("url"),
        F.length("text").alias("q"),
    )
    return (
        url_dedup(staged, quality_col="q")
        .select("doc_id", "url_canon", "n_crawls")
        .orderBy("doc_id")
    )


_TEXT_INDEX_CACHE: dict = {}


@register_query(
    "doc_bm25_index_search",
    oracle=r"""
    WITH tk AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   x -> x <> '') AS toks
        FROM documents
    ), lens AS (
        SELECT doc_id, len(toks) AS dl FROM tk
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM lens
    ), hits AS (
        SELECT doc_id,
               unnest(list_filter(toks,
                   t -> list_contains(['data', 'model', 'learning'], t))) AS term
        FROM tk
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM hits GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term
    )
    SELECT tf.doc_id,
           round(sum(
               ln(1.0 + (stats.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / stats.avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN dfreq USING (term)
    JOIN lens ON tf.doc_id = lens.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id ORDER BY tf.doc_id
    """,
)
def doc_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted BM25 inverted index (``text.build_text_index`` /
    ``text_index_search``) — the lexical twin of ``ivf_index_search``:
    postings live on disk PARTITIONED BY term bucket, df_t/dl
    denormalized onto each posting row, and the search reads ONLY the
    buckets holding {data, model, learning} via a static partition
    filter (plan-tested in units) with zero query-time joins. Built
    once per (session, corpus), searched on every invocation — bench
    warm runs measure the production search path. UNLIKE the iterative
    IVF fit, the index is a deterministic pure function of the corpus,
    so this entry is fully oracle-backed: the search result must equal
    full-corpus BM25 (the doc_bm25_scores formula, k1=1.2 b=0.75),
    replayed by DuckDB from the raw documents table."""
    import tempfile

    from ..operators.text import build_text_index, text_index_search

    docs = load_table(spark, sf_dir, "documents")
    key = (spark.sparkContext.applicationId, sf_dir, "bm25")
    path = _TEXT_INDEX_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="bm25_gate_")
        build_text_index(docs, path, buckets=32)
        _TEXT_INDEX_CACHE[key] = path
    return text_index_search(
        spark, path, ["data", "model", "learning"]
    ).orderBy("doc_id")


@register_query(
    "doc_span_corruption",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(
                 string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                 x -> x <> '') AS t
      FROM documents),
    n AS (SELECT doc_id, t, CAST(len(t) // 20 AS INT) AS nb FROM tk),
    blocks AS (
      SELECT doc_id, t, nb,
        CASE WHEN nb > 0 THEN generate_series(0, CAST(nb AS BIGINT) - 1)
             ELSE []::BIGINT[] END AS js
      FROM n),
    calc AS (
      SELECT doc_id, nb,
        flatten(list_transform(js, j ->
          list_concat(list_concat(
            t[j*20+1 : j*20 +
              CAST(concat('0x', substring(md5('42:' || CAST(doc_id AS VARCHAR)
                || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 18],
            ['<extra_id_' || CAST(j AS VARCHAR) || '>']),
            t[j*20 +
              CAST(concat('0x', substring(md5('42:' || CAST(doc_id AS VARCHAR)
                || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 18 + 4
              : (j+1)*20]
          ))) AS inp,
        t[nb*20+1 : len(t)] AS tail,
        flatten(list_transform(js, j ->
          list_concat(['<extra_id_' || CAST(j AS VARCHAR) || '>'],
            t[j*20 +
              CAST(concat('0x', substring(md5('42:' || CAST(doc_id AS VARCHAR)
                || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 18 + 1
              : j*20 +
              CAST(concat('0x', substring(md5('42:' || CAST(doc_id AS VARCHAR)
                || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 18 + 3]
          ))) AS tgt
      FROM blocks)
    SELECT doc_id, n_spans, input_text, target_text FROM (
      SELECT doc_id, CAST(nb AS INT) AS n_spans,
        coalesce(array_to_string(list_concat(inp, tail), ' '), '')
          AS input_text,
        coalesce(array_to_string(tgt, ' '), '') AS target_text
      FROM calc)
    ORDER BY doc_id
    """,
)
def doc_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption pair generation (``packing.span_corruption``,
    Raffel et al. 2020 §3.1.4) at the published 15% density (3-token
    spans in 20-token blocks): every full block masks one md5-placed
    span, input gets ``<extra_id_K>`` sentinels, target carries the
    hidden tokens — deterministic on any partitioning/engine, no RNG
    state. One narrow codegen'd projection (token array materialized
    once, per-block lambdas slice it); zero shuffle/UDF/explode. The
    oracle replays tokenization, block grid, md5 offsets, slicing, and
    assembly verbatim."""
    from ..operators.packing import span_corruption

    docs = load_table(spark, sf_dir, "documents")
    return (
        span_corruption(docs)
        .select("doc_id", "n_spans", "input_text", "target_text")
        .orderBy("doc_id")
    )


@register_query(
    "doc_fim_transform",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(
                 string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                 x -> x <> '') AS t
      FROM documents),
    c AS (
      SELECT doc_id, t, len(t) AS n,
        CAST(concat('0x', substring(md5('42:' || CAST(doc_id AS VARCHAR)
          || ':keep'), 1, 8)) AS BIGINT) % 1000000 < 500000 AS keep,
        CAST(concat('0x', substring(md5('42:' || CAST(doc_id AS VARCHAR)
          || ':a'), 1, 8)) AS BIGINT) % (len(t) + 1) AS c1,
        CAST(concat('0x', substring(md5('42:' || CAST(doc_id AS VARCHAR)
          || ':b'), 1, 8)) AS BIGINT) % (len(t) + 1) AS c2
      FROM tk),
    s AS (
      SELECT doc_id, keep, t, n,
             least(c1, c2) AS lo, greatest(c1, c2) AS hi
      FROM c)
    SELECT doc_id, keep AS fim_applied,
      CASE WHEN keep THEN
        '<fim_prefix> ' || coalesce(array_to_string(t[1:lo], ' '), '')
        || ' <fim_suffix> ' || coalesce(array_to_string(t[hi+1:n], ' '), '')
        || ' <fim_middle> ' || coalesce(array_to_string(t[lo+1:hi], ' '), '')
      ELSE coalesce(array_to_string(t, ' '), '') END AS output_text
    FROM s ORDER BY doc_id
    """,
)
def doc_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle augmentation (``packing.fim_transform``,
    Bavarian et al. 2022) at the published 50% FIM rate: md5-selected
    docs split at two md5-derived token cuts into the PSM sentinel
    layout, the rest pass through. Deterministic on any partitioning /
    engine; one narrow codegen'd projection, zero shuffle/UDF. The
    oracle replays selection, cuts, slicing, and layout verbatim."""
    from ..operators.packing import fim_transform

    docs = load_table(spark, sf_dir, "documents")
    return (
        fim_transform(docs)
        .select("doc_id", "fim_applied", "output_text")
        .orderBy("doc_id")
    )


@register_query(
    "dataset_overlap_matrix",
    oracle="""
    WITH staged AS (
      SELECT source,
        CASE WHEN doc_id % 5 < 2
             THEN 'shared pool text ' || CAST(doc_id % 11 AS VARCHAR)
             ELSE text END AS text
      FROM documents),
    fps AS (
      SELECT DISTINCT source AS g,
        md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM staged),
    sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM fps GROUP BY g),
    inter AS (
      SELECT a.g AS group_a, b.g AS group_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.g < b.g
      GROUP BY a.g, b.g),
    pairs AS (
      SELECT sa.g AS group_a, sb.g AS group_b, sa.n AS n_a, sb.n AS n_b
      FROM sizes sa JOIN sizes sb ON sa.g < sb.g)
    SELECT p.group_a, p.group_b, p.n_a, p.n_b,
           coalesce(i.n_common, 0) AS n_common,
           round(coalesce(i.n_common, 0) * 1.0
                 / (p.n_a + p.n_b - coalesce(i.n_common, 0)), 6) AS jaccard
    FROM pairs p LEFT JOIN inter i USING (group_a, group_b)
    ORDER BY group_a, group_b
    """,
)
def dataset_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content-overlap matrix between sources
    (``profile.dataset_overlap_report``) — the governance report run
    before mixing corpus slices. Synthetic docs are near-unique, so
    40% of rows are remapped onto an 11-document shared pool spanning
    every source (doc_id % 5 < 2), planting real cross-source
    intersections; zero-overlap pairs stay in the report. The corpus
    collapses to distinct (source, 16-byte fingerprint) rows before
    any join — bodies never shuffle; the oracle replays fingerprint,
    intersection, and Jaccard identically."""
    from ..operators.profile import dataset_overlap_report

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "source",
        F.when(
            F.col("doc_id") % 5 < 2,
            F.concat(
                F.lit("shared pool text "),
                (F.col("doc_id") % 11).cast("string"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return dataset_overlap_report(staged).orderBy("group_a", "group_b")


@register_query("doc_compression_ratio")
def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal
    (``textfns.compression_ratio``, the RedPajama-v2/Dolma redundancy
    metric): ratio of zlib-compressed to raw UTF-8 bytes per document,
    plus the repetitive-tail flag. Docs with doc_id % 4 == 0 get their
    text replaced by a 40x-repeated token to plant the boilerplate
    tail the filter exists to catch. Rows-only (no codec in the SQL
    oracle engine); the unit tests pin the ratios against direct
    ``zlib`` calls and the plan against exactly one Arrow stage."""
    from ..functions.textfns import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0, F.repeat(F.lit("boilerplate "), 40)
        ).otherwise(F.col("text")).alias("text"),
    )
    return staged.select(
        "doc_id",
        compression_ratio("text").alias("comp_ratio"),
    ).withColumn(
        "repetitive", F.col("comp_ratio") < 0.2
    ).orderBy("doc_id")


@register_query(
    "corpus_top_ngrams",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(
                 string_split_regex(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                 x -> x <> '') AS toks
      FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
      FROM tk, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS s(i)),
    pd AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
    ag AS (
      SELECT gram, CAST(sum(c) AS BIGINT) AS n_occurrences,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM pd GROUP BY gram HAVING count(*) >= 2)
    SELECT gram, n_occurrences, n_docs
    FROM ag ORDER BY n_occurrences DESC, gram LIMIT 20
    """,
)
def corpus_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide most-frequent 3-grams (``text.corpus_top_ngrams``) —
    the boilerplate-mining report feeding blocklist / span-removal
    construction: top 20 by total occurrences (ties lexicographic),
    single-doc loops excluded by the >= 2 distinct-docs floor. One
    (doc, gram) partial count + one gram-keyed aggregate + a
    TakeOrdered top-k (no global sort); the oracle replays gram
    construction, both aggregates, the floor, and the deterministic
    ordering."""
    from ..operators.text import corpus_top_ngrams as top_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return top_ngrams(docs, n=3, k=20).select(
        "gram", "n_occurrences", "n_docs"
    )


@register_query("media_min_resolution")
def media_min_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-resolution media gate
    (``multimodal.filter_min_resolution``): synthetic PNGs at three
    sizes (doc_id % 3 → 8×8 / 32×24 / 64×48, real ``png_codec``
    encodes) flow through the JVM-side IHDR header parse — width and
    height read with ``substring``/``hex``/``conv`` on the binary
    column, payloads never leave the JVM and never shuffle — and the
    16×16 floor flags the small tier. Rows-only: the Arrow synth stage
    is not SQL-expressible; the parse itself is pinned against the
    encoder in units."""
    import pandas as pd

    from ..operators.multimodal import filter_min_resolution
    from ..operators.png_codec import png_encode

    sizes = [(8, 8), (32, 24), (64, 48)]

    def synth(it):
        # payload bytes depend only on (doc_id % 3, doc_id % 256) — the
        # pixel fill is (i + j) % 256 — so memoize the ≤768 distinct
        # encodes instead of re-running zlib per row (the audio gate's
        # memoization contract; 5.9 s → sub-second warm at sf0.1)
        cache: dict = {}

        def make(i: int) -> bytes:
            key = (i % 3, i % 256)
            png = cache.get(key)
            if png is None:
                w, h = sizes[key[0]]
                raw = bytes(
                    bytearray((key[1] + j) % 256 for j in range(w * h * 3))
                )
                png = png_encode(raw, w, h, 3)
                cache[key] = png
            return png

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [make(int(i)) for i in pdf["doc_id"]],
                }
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    imgs = d.mapInPandas(synth, "media_id long, payload binary")
    return (
        filter_min_resolution(
            imgs, min_width=16, min_height=16, action="flag"
        )
        .select("media_id", "width", "height", "keep")
        .orderBy("media_id")
    )


@register_query(
    "doc_chat_render",
    oracle="""
    WITH t AS (
        SELECT doc_id, 'Be concise.' AS sys,
               substring(text, 1, 20) AS u1, substring(text, 21, 30) AS a1,
               'More on topic ' || CAST(doc_id AS VARCHAR) AS u2,
               substring(text, 51, 25) AS a2
        FROM documents
    ), r AS (
        SELECT doc_id, u1, a1, u2, a2,
               '<|system|>' || chr(10) || sys || chr(10)
            || '<|user|>' || chr(10) || u1 || chr(10)
            || '<|assistant|>' || chr(10) || a1 || chr(10) AS pre1,
               '<|user|>' || chr(10) || u2 || chr(10)
            || '<|assistant|>' || chr(10) AS mid2
        FROM t
    ), f AS (
        SELECT doc_id, a1, a2,
               pre1 || mid2 || a2 || chr(10) AS txt,
               length(pre1) - length(a1) - 1 AS pre_a1,
               length(pre1) + length(mid2) AS pre_a2
        FROM r
    )
    SELECT doc_id, CAST(length(txt) AS BIGINT) AS text_len,
           CAST(2 AS BIGINT) AS n_spans, x.span_idx,
           CAST(CASE x.span_idx WHEN 0 THEN pre_a1 + 1
                ELSE pre_a2 + 1 END AS INTEGER) AS s,
           CAST(CASE x.span_idx WHEN 0 THEN pre_a1 + length(a1)
                ELSE pre_a2 + length(a2) END AS INTEGER) AS e,
           CASE x.span_idx WHEN 0 THEN a1 ELSE a2 END AS piece
    FROM f, (VALUES (CAST(0 AS INTEGER)), (CAST(1 AS INTEGER))) x(span_idx)
    ORDER BY doc_id, x.span_idx
    """,
)
def doc_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template rendering with loss-mask spans
    (``operators/sft.rendered_chat_frame``): a 5-turn conversation
    (system/user/assistant/user/assistant, contents derived from the
    document text and doc_id) renders in one JVM ``aggregate`` fold —
    text + 1-based char spans of the assistant contents in the same
    pass, no UDF, no shuffle — then explodes to the flat training
    manifest (one row per span, ``piece`` sliced back out as the
    built-in self-check). The oracle rebuilds the rendered string and
    the span arithmetic ANALYTICALLY from the same derivation — the
    fold can't self-confirm."""
    from ..operators.sft import rendered_chat_frame

    docs = load_table(spark, sf_dir, "documents")

    def turn(role, content):
        return F.struct(
            F.lit(role).alias("role"), content.alias("content")
        )

    base = docs.select(
        "doc_id",
        F.array(
            turn("system", F.lit("Be concise.")),
            turn("user", F.substring("text", 1, 20)),
            turn("assistant", F.substring("text", 21, 30)),
            turn(
                "user",
                F.concat(F.lit("More on topic "), F.col("doc_id").cast("string")),
            ),
            turn("assistant", F.substring("text", 51, 25)),
        ).alias("turns"),
    )
    return (
        rendered_chat_frame(base)
        .select(
            "doc_id",
            F.col("text_len").cast("long").alias("text_len"),
            F.col("n_spans").cast("long").alias("n_spans"),
            "span_idx",
            "s",
            "e",
            "piece",
        )
        .orderBy("doc_id", "span_idx")
    )


@register_query(
    "doc_preference_pairs",
    oracle="""
    WITH c AS (
        SELECT 'p' || CAST(doc_id % 50 AS VARCHAR) AS prompt,
               text AS response,
               CAST(n_chars % 17 AS DOUBLE) AS score,
               doc_id AS rid
        FROM documents
    ), hi AS (
        SELECT prompt, response, score,
               row_number() OVER (
                   PARTITION BY prompt ORDER BY score DESC, rid DESC) AS rn
        FROM c
    ), lo AS (
        SELECT prompt, response, score,
               row_number() OVER (
                   PARTITION BY prompt ORDER BY score ASC, rid ASC) AS rn
        FROM c
    ), n AS (
        SELECT prompt, CAST(count(*) AS BIGINT) AS n_responses
        FROM c GROUP BY prompt
    )
    SELECT hi.prompt, hi.response AS chosen, lo.response AS rejected,
           hi.score AS chosen_score, lo.score AS rejected_score,
           n.n_responses
    FROM hi, lo, n
    WHERE hi.prompt = lo.prompt AND n.prompt = hi.prompt
      AND hi.rn = 1 AND lo.rn = 1
      AND n.n_responses >= 2 AND hi.score - lo.score > 0.0
    ORDER BY hi.prompt
    """,
)
def doc_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair extraction (``sft.preference_pairs``):
    documents grouped into 50 synthetic prompts (doc_id % 50), response
    score = n_chars % 17 (ties guaranteed, exercising the (score, id)
    lexicographic tiebreak). One map-side-combinable struct-min/max
    aggregate per prompt — no window sort, no candidate arrays; the
    oracle replays best/worst with explicitly-ordered row_number
    windows."""
    from ..operators.sft import preference_pairs

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("p"), (F.col("doc_id") % 50).cast("string")).alias(
            "prompt"
        ),
        F.col("text").alias("response"),
        (F.col("n_chars") % 17).cast("double").alias("score"),
        F.col("doc_id").alias("response_id"),
    )
    return preference_pairs(docs).orderBy("prompt")


@register_query(
    "events_pass_at_k",
    oracle="""
    WITH g AS (
        SELECT CAST(event_id % 40 AS BIGINT) AS problem_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(CASE WHEN event_id % (3 + (event_id % 40) % 5) = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM events GROUP BY 1
    ), x AS (
        SELECT g.*, k.k FROM g,
            (VALUES (CAST(1 AS INTEGER)), (CAST(5 AS INTEGER)),
                    (CAST(10 AS INTEGER))) k(k)
    ), p AS (
        SELECT x.problem_id, x.k,
               product(1.0 * (x.n_samples - x.n_correct - s.i)
                       / (x.n_samples - s.i)) AS pr
        FROM x JOIN generate_series(0, 9) s(i) ON s.i < x.k
        WHERE x.k <= x.n_samples AND x.n_correct <= x.n_samples - x.k
        GROUP BY 1, 2
    )
    SELECT x.problem_id, x.n_samples, x.n_correct, x.k,
        CASE WHEN x.k > x.n_samples THEN NULL
             WHEN x.n_correct > x.n_samples - x.k THEN 1.0
             ELSE round(1.0 - p.pr, 6) END AS pass_at_k
    FROM x LEFT JOIN p ON x.problem_id = p.problem_id AND x.k = p.k
    ORDER BY x.problem_id, x.k
    """,
)
def events_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k eval metric (``operators/evals.pass_at_k`` — the unbiased
    1 − C(n−c,k)/C(n,k) estimator): events grouped into 40 synthetic
    problems, correctness rate varying per problem (modulus 3–7). The
    binomial ratio is a falling-factorial JVM fold over sequence(0,k−1)
    — exact for any n, no factorial() n ≤ 20 ceiling; the oracle
    replays it with a bounded generate_series join + product()."""
    from ..operators.evals import pass_at_k

    e = load_table(spark, sf_dir, "events")
    samples = e.select(
        (F.col("event_id") % 40).alias("problem_id"),
        (
            F.col("event_id") % (3 + (F.col("event_id") % 40) % 5) == 0
        ).alias("correct"),
    )
    return pass_at_k(samples, ks=(1, 5, 10)).orderBy("problem_id", "k")


@register_query(
    "events_majority_vote",
    oracle="""
    WITH c AS (
        SELECT CAST(user_id % 20 AS BIGINT) AS problem_id,
               event_type AS answer, CAST(count(*) AS BIGINT) AS n_votes
        FROM events GROUP BY 1, 2
    ), w AS (
        SELECT problem_id, max(n_votes) AS top,
               CAST(sum(n_votes) AS BIGINT) AS n_samples
        FROM c GROUP BY problem_id
    ), v AS (
        SELECT c.problem_id, min(c.answer) AS vote_answer,
               min(c.n_votes) AS n_votes, min(w.n_samples) AS n_samples
        FROM c JOIN w ON c.problem_id = w.problem_id AND c.n_votes = w.top
        GROUP BY c.problem_id
    )
    SELECT problem_id, vote_answer, n_votes, n_samples,
           vote_answer = (CASE WHEN problem_id % 2 = 0
                          THEN 'view' ELSE 'click' END) AS is_correct
    FROM v ORDER BY problem_id
    """,
)
def events_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-consistency scoring (``evals.majority_vote_accuracy``): the
    modal event_type per synthetic problem (user_id % 20), smallest-
    answer tiebreak, compared to an alternating gold. Two partial aggs
    + one equi-join — no window sort, no per-problem answer arrays."""
    from ..operators.evals import majority_vote_accuracy

    e = load_table(spark, sf_dir, "events")
    pid = (F.col("user_id") % 20).alias("problem_id")
    samples = e.select(
        pid,
        F.col("event_type").alias("answer"),
        F.when((F.col("user_id") % 20) % 2 == 0, F.lit("view"))
        .otherwise(F.lit("click"))
        .alias("gold"),
    )
    return majority_vote_accuracy(samples).orderBy("problem_id")


def _bt_oracle_sql(iters: int, battles_sql: str) -> str:
    """Unrolled Bradley-Terry MM oracle (one CTE per round, same
    smoothed update as operators/ranking.bradley_terry)."""
    head = f"""
    WITH b AS MATERIALIZED ({battles_sql}), pairs AS MATERIALIZED (
        SELECT i, j, CAST(count(*) AS DOUBLE) AS n FROM (
            SELECT a AS i, bb AS j FROM b
            UNION ALL SELECT bb, a FROM b) GROUP BY i, j
    ), nodes AS MATERIALIZED (SELECT DISTINCT i AS node FROM pairs),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    wins AS MATERIALIZED (
        SELECT CASE WHEN w = 'a' THEN a ELSE bb END AS node,
               CAST(count(*) AS DOUBLE) AS w FROM b GROUP BY 1
    ), nb AS (
        SELECT i AS node, CAST(sum(n) AS BIGINT) AS n_battles
        FROM pairs GROUP BY i
    ), r0 AS (SELECT node, 1.0 AS rating FROM nodes)"""
    step = """,
    d{k} AS MATERIALIZED (
        SELECT p.i AS node, sum(p.n / (ra.rating + rb.rating)) AS s
        FROM pairs p JOIN r{j} ra ON ra.node = p.i
        JOIN r{j} rb ON rb.node = p.j GROUP BY p.i
    ), u{k} AS MATERIALIZED (
        SELECT n.node,
               (coalesce(w.w, 0) + 1)
               / (d.s + 2 / (ro.rating + 1)) AS raw
        FROM nodes n LEFT JOIN wins w ON w.node = n.node
        JOIN d{k} d ON d.node = n.node JOIN r{j} ro ON ro.node = n.node
    ), r{k} AS MATERIALIZED (
        SELECT u.node, u.raw * nn.n / t.t AS rating
        FROM u{k} u, nn, (SELECT sum(raw) AS t FROM u{k}) t
    )"""
    parts = [head]
    for k in range(1, iters + 1):
        parts.append(step.format(k=k, j=k - 1))
    parts.append(f"""
    SELECT n.node AS model, nb.n_battles,
           CAST(coalesce(w.w, 0) AS BIGINT) AS n_wins,
           round(r.rating, 6) AS rating,
           round(1000 + 400 * log10(r.rating), 2) AS elo
    FROM nodes n JOIN nb ON nb.node = n.node
    LEFT JOIN wins w ON w.node = n.node
    JOIN r{iters} r ON r.node = n.node
    ORDER BY n.node""")
    return "".join(parts)


_BT_BATTLES_SQL = """
        SELECT 'm' || CAST(event_id % 12 AS VARCHAR) AS a,
               'm' || CAST((event_id * 5 + 1) % 12 AS VARCHAR) AS bb,
               CASE WHEN event_id % 5 < 2 THEN 'a' ELSE 'b' END AS w
        FROM events WHERE event_id % 17 <> 0
    """


@register_query(
    "events_bradley_terry",
    oracle=_bt_oracle_sql(6, _BT_BATTLES_SQL),
)
def events_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arena-style Bradley-Terry leaderboard (``ranking.bradley_terry``,
    6 smoothed MM rounds): events synthesize 12 models' pairwise battles
    (every 17th battle a tie, exercising the decided-only filter). The
    battle table collapses once into pair/win counts; each round is two
    joins + a partial agg over the models² pair table with a 1-row
    normalization broadcast. The oracle unrolls the identical update."""
    from ..operators.ranking import bradley_terry

    e = load_table(spark, sf_dir, "events")
    battles = e.filter(F.col("event_id") % 17 != 0).select(
        F.concat(F.lit("m"), (F.col("event_id") % 12).cast("string")).alias(
            "model_a"
        ),
        F.concat(
            F.lit("m"), ((F.col("event_id") * 5 + 1) % 12).cast("string")
        ).alias("model_b"),
        F.when(F.col("event_id") % 5 < 2, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("winner"),
    )
    return bradley_terry(battles, iters=6).orderBy("model")


@register_query(
    "events_win_rates",
    oracle=f"""
    WITH b AS ({_BT_BATTLES_SQL}), o AS (
        SELECT a AS model, bb AS opponent,
               CASE WHEN w = 'a' THEN 1 ELSE 0 END AS won FROM b
        UNION ALL
        SELECT bb, a, CASE WHEN w = 'b' THEN 1 ELSE 0 END FROM b
    ), g AS (
        SELECT model, opponent, CAST(count(*) AS BIGINT) AS n_battles,
               CAST(sum(won) AS BIGINT) AS n_wins
        FROM o GROUP BY 1, 2
    ), x AS (
        SELECT *, CAST(n_battles AS DOUBLE) AS n,
               1.0 * n_wins / n_battles AS p, 1.96 * 1.96 AS z2
        FROM g
    )
    SELECT model, opponent, n_battles, n_wins,
           round(p, 6) AS win_rate,
           round(((p + z2 / (2 * n))
                  - 1.96 * sqrt(p * (1 - p) / n + z2 / (4 * n * n)))
                 / (1 + z2 / n), 6) AS ci_lo,
           round(((p + z2 / (2 * n))
                  + 1.96 * sqrt(p * (1 - p) / n + z2 / (4 * n * n)))
                 / (1 + z2 / n), 6) AS ci_hi
    FROM x ORDER BY model, opponent
    """,
)
def events_win_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head win-rate matrix with Wilson 95% intervals
    (``ranking.pairwise_win_rates``) over the same synthetic battle
    table as ``events_bradley_terry`` — per-matchup records to the BT
    entry's global strengths. One pair-keyed partial agg, no join, no
    window; the oracle replays the Wilson algebra term-for-term."""
    from ..operators.ranking import pairwise_win_rates

    e = load_table(spark, sf_dir, "events")
    battles = e.filter(F.col("event_id") % 17 != 0).select(
        F.concat(F.lit("m"), (F.col("event_id") % 12).cast("string")).alias(
            "model_a"
        ),
        F.concat(
            F.lit("m"), ((F.col("event_id") * 5 + 1) % 12).cast("string")
        ).alias("model_b"),
        F.when(F.col("event_id") % 5 < 2, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("winner"),
    )
    return pairwise_win_rates(battles).orderBy("model", "opponent")


@register_query(
    "events_bootstrap_ci",
    oracle="""
    WITH pts AS (
        SELECT CAST(value AS DOUBLE) AS x,
               CAST(event_id AS VARCHAR) AS k
        FROM events WHERE value IS NOT NULL
    ), reps AS (
        SELECT b.b,
               sum(w.w * pts.x) / sum(w.w) AS m
        FROM pts
        CROSS JOIN generate_series(0, 31) b(b)
        CROSS JOIN LATERAL (
            SELECT CASE
                WHEN u < 0.36787944117144233 THEN 0
                WHEN u < 0.7357588823428847 THEN 1
                WHEN u < 0.9196986029286058 THEN 2
                WHEN u < 0.9810118431238462 THEN 3
                WHEN u < 0.9963401531726563 THEN 4
                WHEN u < 0.9994058151824183 THEN 5
                WHEN u < 0.9999167588507119 THEN 6
                ELSE 7 END AS w
            FROM (SELECT CAST(concat('0x', substring(
                      md5('ci' || '|' || CAST(b.b // 4 AS VARCHAR) || '|' || pts.k),
                      1 + 8 * (b.b % 4), 8)) AS BIGINT) / 4294967296.0 AS u)
        ) w
        GROUP BY b.b
    ), ordered AS (
        SELECT m, row_number() OVER (ORDER BY m ASC, b ASC) AS r FROM reps
    ), ci AS (
        SELECT round(min(CASE WHEN r = 1 THEN m END), 6) AS ci_lo,
               round(min(CASE WHEN r = 32 THEN m END), 6) AS ci_hi
        FROM ordered
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n, round(avg(x), 6) AS mean
        FROM pts
    )
    SELECT stats.n, stats.mean, ci.ci_lo, ci.ci_hi,
           CAST(32 AS INTEGER) AS n_boot
    FROM stats, ci
    """,
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI (``evals.bootstrap_mean_ci``,
    B=32, α=0.05) for the mean event value: replica weights come from
    md5 inverse-CDF draws (no RNG state — identical on any layout and
    in DuckDB, which replays every threshold), the interval is discrete
    order statistics of the replica means (⌈α/2·B⌉ = 1st and
    ⌈(1−α/2)·B⌉ = 32nd smallest — no interpolation to disagree on).
    One explode→B-group partial aggregate; the shuffle carries
    B×partitions rows regardless of data volume."""
    from ..operators.evals import bootstrap_mean_ci

    e = load_table(spark, sf_dir, "events")
    return bootstrap_mean_ci(
        e, "value", n_boot=32, seed="ci", id_col="event_id"
    )


@register_query(
    "events_mann_whitney",
    oracle="""
    WITH pts AS (
        SELECT CAST(value AS DOUBLE)
                   + CASE WHEN event_id % 2 = 0 THEN 10.0 ELSE 0.0 END AS x,
               CASE WHEN event_id % 2 = 0 THEN 'A' ELSE 'B' END AS g
        FROM events WHERE value IS NOT NULL
    ), rn AS (
        SELECT x, g, row_number() OVER (ORDER BY x) AS r FROM pts
    ), avg_r AS (
        SELECT x, avg(r) AS rank, CAST(count(*) AS DOUBLE) AS t
        FROM rn GROUP BY x
    ), ranked AS (
        SELECT rn.g, avg_r.rank FROM rn JOIN avg_r ON rn.x = avg_r.x
    ), s AS (
        SELECT CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN g = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               sum(CASE WHEN g = 'A' THEN rank END) AS ra
        FROM ranked
    ), ties AS (
        SELECT sum(t * t * t - t) AS tsum FROM avg_r
    )
    SELECT s.n_a, s.n_b,
           round(s.ra - s.n_a * (s.n_a + 1) / 2.0, 6) AS u,
           round((s.ra - s.n_a * (s.n_a + 1) / 2.0
                  - 1.0 * s.n_a * s.n_b / 2)
                 / sqrt(1.0 * s.n_a * s.n_b / 12
                        * ((s.n_a + s.n_b + 1)
                           - ties.tsum
                             / ((s.n_a + s.n_b)
                                * (s.n_a + s.n_b - 1.0)))), 6) AS z,
           abs((s.ra - s.n_a * (s.n_a + 1) / 2.0
                - 1.0 * s.n_a * s.n_b / 2)
               / sqrt(1.0 * s.n_a * s.n_b / 12
                      * ((s.n_a + s.n_b + 1)
                         - ties.tsum
                           / ((s.n_a + s.n_b)
                              * (s.n_a + s.n_b - 1.0))))) > 1.96
               AS significant
    FROM s, ties
    """,
)
def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (``evals.mann_whitney_u``) on the
    same +10-lift A/B arms as ``events_ab_test`` — the nonparametric
    twin must also call the shift significant. Pooled average ranks
    (tie groups share), tie-corrected variance, no O(n_A·n_B) pair
    scan; the oracle replays ranks, ties, U, and z."""
    from ..operators.evals import mann_whitney_u

    e = load_table(spark, sf_dir, "events")
    samples = e.filter(F.col("value").isNotNull()).select(
        (
            F.col("value").cast("double")
            + F.when(F.col("event_id") % 2 == 0, F.lit(10.0)).otherwise(0.0)
        ).alias("score"),
        F.when(F.col("event_id") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("arm"),
    )
    return mann_whitney_u(samples, "score", "arm", "A", "B")


@register_query(
    "events_chi_square",
    oracle="""
    WITH pts AS (
        SELECT event_type AS r, 'u' || CAST(user_id % 4 AS VARCHAR) AS c
        FROM events
    ), obs AS (
        SELECT r, c, CAST(count(*) AS DOUBLE) AS o FROM pts GROUP BY r, c
    ), rm AS (SELECT r, sum(o) AS nr FROM obs GROUP BY r),
    cm AS (SELECT c, sum(o) AS nc FROM obs GROUP BY c),
    tot AS (SELECT sum(o) AS t FROM obs),
    cells AS (
        SELECT rm.nr * cm.nc / tot.t AS e, coalesce(obs.o, 0.0) AS o
        FROM rm CROSS JOIN cm CROSS JOIN tot
        LEFT JOIN obs ON obs.r = rm.r AND obs.c = cm.c
    ), stat AS (
        SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2 FROM cells
    ), dims AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT c) AS BIGINT) AS n_cols
        FROM pts
    )
    SELECT dims.n, dims.n_rows, dims.n_cols,
           CAST((dims.n_rows - 1) * (dims.n_cols - 1) AS BIGINT) AS dof,
           stat.chi2,
           CAST(CASE (dims.n_rows - 1) * (dims.n_cols - 1)
                WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
                WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
                WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 WHEN 9 THEN 16.919
                WHEN 10 THEN 18.307 WHEN 11 THEN 19.675 WHEN 12 THEN 21.026
           END AS DOUBLE) AS critical_95,
           stat.chi2 > CASE (dims.n_rows - 1) * (dims.n_cols - 1)
                WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
                WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
                WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 WHEN 9 THEN 16.919
                WHEN 10 THEN 18.307 WHEN 11 THEN 19.675 WHEN 12 THEN 21.026
           END AS significant
    FROM dims, stat
    """,
)
def events_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence test (``evals.chi_square_independence``)
    between event type and a synthetic user cohort (user_id % 4) —
    uniform synth data should land NOT significant at 95%. One
    contingency partial count + marginal joins bounded by category
    pairs; the oracle replays the statistic and the literal
    critical-value ladder."""
    from ..operators.evals import chi_square_independence

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        F.concat(F.lit("u"), (F.col("user_id") % 4).cast("string")).alias(
            "cohort"
        ),
    )
    return chi_square_independence(pts, "event_type", "cohort")


@register_query(
    "doc_zipf_fit",
    oracle=r"""
    WITH toks AS (
        SELECT list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), freq AS (
        SELECT u.tok, CAST(count(*) AS DOUBLE) AS f
        FROM (SELECT unnest(t) AS tok FROM toks) u GROUP BY u.tok
    ), ranked AS (
        SELECT f, CAST(row_number() OVER (ORDER BY f DESC, tok) AS DOUBLE)
                   AS r
        FROM freq
    ), pts AS (
        SELECT ln(r) AS lx, ln(f) AS ly FROM ranked
        WHERE r > 0 AND f > 0
    ), g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               var_pop(lx) AS vx, var_pop(ly) AS vy,
               covar_pop(lx, ly) AS cxy, avg(lx) AS mx, avg(ly) AS my
        FROM pts
    )
    SELECT n,
           round(CASE WHEN vx > 0 THEN cxy / vx END, 6) AS slope,
           round(my - (CASE WHEN vx > 0 THEN cxy / vx END) * mx, 6)
               AS intercept,
           round(CASE WHEN vx > 0 AND vy > 0
                 THEN (cxy * cxy) / (vx * vy) END, 6) AS r2
    FROM g
    """,
)
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token frequency distribution — the
    classic text-statistics health check (natural language slopes near
    −1; synthetic/templated corpora deviate): corpus token counts →
    frequency rank (count-desc, token tiebreak) → ``evals.
    fit_power_law`` on (rank, frequency). One token-keyed partial
    count, one rank window over the vocabulary (not the corpus), one
    moments aggregate; the oracle replays all three stages."""
    from pyspark.sql import Window as _W

    from ..functions.textfns import whitespace_tokens
    from ..operators.evals import fit_power_law

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("f"))
    )
    ranked = freq.select(
        "f",
        F.row_number()
        .over(_W.orderBy(F.col("f").desc(), F.col("tok")))
        .cast("double")
        .alias("r"),
    )
    return fit_power_law(ranked, "r", "f")


@register_query(
    "doc_langid_report",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS t
      FROM documents
    ), hits AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','zu'], x))) AS BIGINT) AS h_de,
        CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','a','in','is','that','for','it'], x))) AS BIGINT) AS h_en,
        CAST(len(list_filter(t, x -> list_contains(['el','la','los','las','es','un','una','para','con','que'], x))) AS BIGINT) AS h_es,
        CAST(len(list_filter(t, x -> list_contains(['le','la','les','et','est','un','une','pour','dans','que'], x))) AS BIGINT) AS h_fr
      FROM toks
    ), preds AS (
      SELECT lang AS gold,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS pred
      FROM hits
    ), tp AS (
      SELECT gold AS label, CAST(count(*) AS BIGINT) AS tp
      FROM preds WHERE gold = pred GROUP BY gold
    ), ng AS (
      SELECT gold AS label, CAST(count(*) AS BIGINT) AS n_gold
      FROM preds GROUP BY gold
    ), np AS (
      SELECT pred AS label, CAST(count(*) AS BIGINT) AS n_pred
      FROM preds GROUP BY pred
    ), j AS (
      SELECT coalesce(ng.label, np.label) AS label,
             coalesce(ng.n_gold, 0) AS n_gold,
             coalesce(np.n_pred, 0) AS n_pred,
             coalesce(tp.tp, 0) AS tp
      FROM ng FULL OUTER JOIN np ON ng.label = np.label
      LEFT JOIN tp ON coalesce(ng.label, np.label) = tp.label
    )
    SELECT label, n_gold, n_pred, tp,
           round(CASE WHEN n_pred > 0 THEN 1.0 * tp / n_pred END, 6)
               AS precision,
           round(CASE WHEN n_gold > 0 THEN 1.0 * tp / n_gold END, 6)
               AS recall,
           round(CASE WHEN (CASE WHEN n_pred > 0 THEN 1.0 * tp / n_pred END)
                           + (CASE WHEN n_gold > 0 THEN 1.0 * tp / n_gold END)
                           > 0
                 THEN 2.0 * (1.0 * tp / n_pred) * (1.0 * tp / n_gold)
                      / (1.0 * tp / n_pred + 1.0 * tp / n_gold) END, 6)
               AS f1
    FROM j ORDER BY label
    """,
)
def doc_langid_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the language-ID heuristic
    (``evals.classification_report`` over ``text.language_id``'s
    predictions vs the planted ``lang`` labels): per-class
    precision/recall/F1 from three label-keyed partial aggregates +
    a tiny full-outer label join. The oracle replays the heuristic AND
    the scorecard algebra — the classifier can't grade itself."""
    from ..operators.evals import classification_report
    from ..operators.text import language_id

    d = load_table(spark, sf_dir, "documents")
    preds = language_id(d).select(
        F.col("lang").alias("gold"), F.col("pred_lang").alias("pred")
    )
    return classification_report(preds).orderBy("label")


@register_query(
    "events_ab_test",
    oracle="""
    WITH pts AS (
        SELECT CAST(value AS DOUBLE)
                   + CASE WHEN event_id % 2 = 0 THEN 10.0 ELSE 0.0 END AS x,
               CASE WHEN event_id % 2 = 0 THEN 'A' ELSE 'B' END AS g,
               CAST(event_id AS VARCHAR) AS k
        FROM events WHERE value IS NOT NULL
    ), reps AS (
        SELECT b.b, pts.g,
               CASE WHEN sum(w.w) > 0
                    THEN sum(w.w * pts.x) / sum(w.w) END AS m
        FROM pts
        CROSS JOIN generate_series(0, 31) b(b)
        CROSS JOIN LATERAL (
            SELECT CASE
                WHEN u < 0.36787944117144233 THEN 0
                WHEN u < 0.7357588823428847 THEN 1
                WHEN u < 0.9196986029286058 THEN 2
                WHEN u < 0.9810118431238462 THEN 3
                WHEN u < 0.9963401531726563 THEN 4
                WHEN u < 0.9994058151824183 THEN 5
                WHEN u < 0.9999167588507119 THEN 6
                ELSE 7 END AS w
            FROM (SELECT CAST(concat('0x', substring(
                      md5('ab' || '|' || CAST(b.b // 4 AS VARCHAR) || '|' || pts.k),
                      1 + 8 * (b.b % 4), 8)) AS BIGINT) / 4294967296.0 AS u)
        ) w
        GROUP BY b.b, pts.g
    ), diffs AS (
        SELECT b, min(CASE WHEN g = 'A' THEN m END)
                  - min(CASE WHEN g = 'B' THEN m END) AS d
        FROM reps GROUP BY b
        HAVING min(CASE WHEN g = 'A' THEN m END) IS NOT NULL
           AND min(CASE WHEN g = 'B' THEN m END) IS NOT NULL
    ), ordered AS (
        SELECT d, row_number() OVER (ORDER BY d ASC, b ASC) AS r FROM diffs
    ), tot AS (SELECT max(r) AS t FROM ordered),
    ci AS (
        SELECT round(min(CASE WHEN o.r = greatest(1, CAST(ceil(0.025 * tot.t)
                   AS BIGINT)) THEN o.d END), 6) AS ci_lo,
               round(min(CASE WHEN o.r = least(tot.t, CAST(ceil(0.975 * tot.t)
                   AS BIGINT)) THEN o.d END), 6) AS ci_hi
        FROM ordered o, tot
    ), stats AS (
        SELECT CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN g = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               round(avg(CASE WHEN g = 'A' THEN x END), 6) AS mean_a,
               round(avg(CASE WHEN g = 'B' THEN x END), 6) AS mean_b
        FROM pts
    )
    SELECT stats.n_a, stats.n_b, stats.mean_a, stats.mean_b,
           round(stats.mean_a - stats.mean_b, 6) AS diff,
           ci.ci_lo, ci.ci_hi,
           (ci.ci_lo > 0 OR ci.ci_hi < 0) AS significant
    FROM stats, ci
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B analysis (``evals.bootstrap_diff_ci``, B=32): even events get
    a +10 treatment lift, and the deterministic two-sample Poisson
    bootstrap must call the difference significant (CI excluding 0).
    Same md5 inverse-CDF weights and discrete order-statistic interval
    as ``events_bootstrap_ci``, resampling both arms independently; the
    oracle replays every stage including the survivor-scaled rank
    cuts."""
    from ..operators.evals import bootstrap_diff_ci

    e = load_table(spark, sf_dir, "events")
    samples = e.filter(F.col("value").isNotNull()).select(
        (
            F.col("value").cast("double")
            + F.when(F.col("event_id") % 2 == 0, F.lit(10.0)).otherwise(0.0)
        ).alias("score"),
        F.when(F.col("event_id") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("arm"),
        F.col("event_id"),
    )
    return bootstrap_diff_ci(
        samples, "score", "arm", "A", "B",
        n_boot=32, seed="ab", id_col="event_id",
    )


@register_query(
    "doc_rank_correlation",
    oracle="""
    WITH pts AS (
        SELECT lang, CAST(n_chars AS DOUBLE) AS a,
               CAST(n_chars % 89 AS DOUBLE) AS b
        FROM documents
    ), na AS (
        SELECT lang, a, b,
               row_number() OVER (PARTITION BY lang ORDER BY a) AS rna
        FROM pts
    ), aa AS (
        SELECT lang, a, avg(rna) AS ra FROM na GROUP BY lang, a
    ), j1 AS (
        SELECT na.lang, na.a, na.b, aa.ra
        FROM na JOIN aa ON na.lang = aa.lang AND na.a = aa.a
    ), nb AS (
        SELECT lang, b, ra,
               row_number() OVER (PARTITION BY lang ORDER BY b) AS rnb
        FROM j1
    ), bb AS (
        SELECT lang, b, avg(rnb) AS rb FROM nb GROUP BY lang, b
    ), j2 AS (
        SELECT nb.lang, nb.ra, bb.rb
        FROM nb JOIN bb ON nb.lang = bb.lang AND nb.b = bb.b
    ), g AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               var_pop(ra) AS va, var_pop(rb) AS vb,
               covar_pop(ra, rb) AS cab
        FROM j2 GROUP BY lang
    )
    SELECT lang, n,
           round(CASE WHEN va > 0 AND vb > 0
                 THEN cab / sqrt(va * vb) END, 6) AS spearman_rho
    FROM g ORDER BY lang
    """,
)
def doc_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Spearman rank correlation
    (``evals.rank_correlation``) between document length and a derived
    modular signal (ties guaranteed, association weak by construction)
    — tie-aware average ranks from window row numbers + a (group,
    value) aggregate join, then one moments aggregate. The oracle
    replays rank assignment, tie averaging, and the moments formula."""
    from ..operators.evals import rank_correlation

    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").cast("double").alias("len_signal"),
        (F.col("n_chars") % 89).cast("double").alias("mod_signal"),
    )
    return rank_correlation(
        docs, "len_signal", "mod_signal", group_cols=("lang",)
    ).orderBy("lang")


_PQ_INDEX_CACHE: dict = {}


@register_query("pq_index_search")
def pq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted PQ index (``similarity.build_pq_index``/``pq_search``):
    the on-disk artifact is m int codes per vector (the dim·8/m
    compression IS the index); the ADC scan reads only the codes file
    and the exact re-rank broadcast-joins the candidate set back to the
    source floats. Built once per (session, corpus) and reused, like
    ``ivf_index_search`` — warm runs measure the production search
    path. Rows-only (per-subspace KMeans is iterative); persisted ==
    inline equality is unit-pinned."""
    import tempfile

    from ..operators.similarity import build_pq_index, pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = (spark.sparkContext.applicationId, sf_dir)
    path = _PQ_INDEX_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="pq_gate_")
        build_pq_index(emb, path)
        _PQ_INDEX_CACHE[key] = path
    return (
        pq_search(spark, path, q, emb, k=10, candidate_k=40)
        .select("query_id", "vec_id", F.col("rank").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


@register_query(
    "doc_grouped_split",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, source,
               CASE WHEN substr(md5(source), 1, 1) IN ('0', '1', '2', '3')
                    THEN 'holdout' ELSE 'train' END AS split
        FROM documents
    ), per_group AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
               min(split) AS split
        FROM tagged GROUP BY source
    )
    SELECT source, split, n_docs, n_splits FROM per_group ORDER BY source
    """,
)
def doc_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-keyed (leakage-safe) split: ``hash_split`` on the SOURCE
    column instead of the row id, so every document of a domain lands
    in the same split — the standard control against near-duplicate
    train/test leakage (domain-correlated duplicates can't straddle the
    boundary by construction). The output proves it: ``n_splits`` = 1
    for every group, pinned by the oracle's count(DISTINCT split) over
    the same md5 assignment. Still a pure narrow projection — no stored
    assignment, no shuffle beyond the report's group-by."""
    from ..functions.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "source", holdout_sixteenths=4)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
            F.min("split").alias("split"),
        )
        .select("source", "split", "n_docs", "n_splits")
        .orderBy("source")
    )


@register_query(
    "sft_prep_pipeline",
    oracle="""
    WITH t AS (
        SELECT doc_id, doc_id % 4 AS m,
               substring(text, 1, 20) AS u1a, substring(text, 21, 30) AS a1a,
               substring(text, 1, 15) AS u1b, substring(text, 16, 25) AS a1b,
               'more ' || CAST(doc_id AS VARCHAR) AS u2b,
               substring(text, 41, 20) AS a2b
        FROM documents
    ), spans AS (
        SELECT doc_id, CAST(0 AS INTEGER) AS span_idx,
               47 + length(u1a) + 1 AS s,
               47 + length(u1a) + length(a1a) AS e,
               a1a AS piece,
               47 + length(u1a) + length(a1a) + 1 AS text_len
        FROM t WHERE m = 0 AND length(a1a) > 0
        UNION ALL
        SELECT doc_id, CAST(0 AS INTEGER),
               24 + length(u1b) + 1,
               24 + length(u1b) + length(a1b),
               a1b,
               49 + length(u1b) + length(a1b) + length(u2b)
                  + length(a2b) + 1
        FROM t WHERE m = 3 AND length(a1b) > 0 AND length(a2b) > 0
        UNION ALL
        SELECT doc_id, CAST(1 AS INTEGER),
               49 + length(u1b) + length(a1b) + length(u2b) + 1,
               49 + length(u1b) + length(a1b) + length(u2b) + length(a2b),
               a2b,
               49 + length(u1b) + length(a1b) + length(u2b)
                  + length(a2b) + 1
        FROM t WHERE m = 3 AND length(a1b) > 0 AND length(a2b) > 0
    )
    SELECT doc_id, CAST(text_len AS BIGINT) AS text_len, span_idx,
           CAST(s AS INTEGER) AS s, CAST(e AS INTEGER) AS e, piece
    FROM spans ORDER BY doc_id, span_idx
    """,
)
def sft_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SFT data prep (the instruction-tuning sibling of
    ``training_prep_pipeline``): synthesize conversations in four
    structural modes (doc_id % 4 — a valid 3-turn, a bad-role, a
    broken-alternation, a valid 5-turn), route them through
    ``sft.validate_conversations`` (the two invalid modes AND any
    conversation whose derived content comes up empty are dropped by
    the SAME rule set production ingest uses), then render survivors
    with ``sft.rendered_chat_frame`` into the flat loss-span manifest.
    The oracle rebuilds the surviving set and every span's char
    arithmetic analytically — validation AND rendering cross-checked in
    one pass."""
    from ..operators.sft import rendered_chat_frame, validate_conversations

    docs = load_table(spark, sf_dir, "documents")

    def turn(role, content):
        return F.struct(F.lit(role).alias("role"), content.alias("content"))

    m = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    turns = (
        F.when(m == 0, F.array(
            turn("system", F.lit("Be concise.")),
            turn("user", F.substring("text", 1, 20)),
            turn("assistant", F.substring("text", 21, 30)),
        ))
        .when(m == 1, F.array(
            turn("user", F.substring("text", 1, 10)),
            turn("robot", F.lit("nope")),
        ))
        .when(m == 2, F.array(
            turn("user", F.substring("text", 1, 10)),
            turn("user", F.substring("text", 11, 10)),
        ))
        .otherwise(F.array(
            turn("user", F.substring("text", 1, 15)),
            turn("assistant", F.substring("text", 16, 25)),
            turn("user", F.concat(F.lit("more "), did)),
            turn("assistant", F.substring("text", 41, 20)),
        ))
    )
    convs = docs.select("doc_id", turns.alias("turns"))
    valid = (
        validate_conversations(convs)
        .filter(F.col("valid"))
        .drop("valid", "violation")
    )
    return (
        rendered_chat_frame(valid)
        .select(
            "doc_id",
            F.col("text_len").cast("long").alias("text_len"),
            "span_idx",
            "s",
            "e",
            "piece",
        )
        .orderBy("doc_id", "span_idx")
    )


@register_query(
    "embedding_silhouette",
    oracle="""
    WITH c AS (
        SELECT vec_id AS cl, embedding AS ctr FROM embeddings
        WHERE vec_id < 4
    ), d AS (
        SELECT e.vec_id, c.cl,
               round(list_distance(e.embedding, c.ctr), 6) AS d
        FROM embeddings e, c
    ), r AS (
        SELECT vec_id, cl, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
        FROM d
    ), s AS (
        SELECT a.vec_id, a.cl AS cluster,
               CASE WHEN greatest(a.d, b.d) = 0 THEN 0.0
                    ELSE round((b.d - a.d) / greatest(a.d, b.d), 6)
               END AS sil
        FROM r a JOIN r b
          ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
    )
    SELECT cluster, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(sil AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS mean_silhouette
    FROM s GROUP BY cluster ORDER BY cluster
    """,
)
def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report (``clustering.simplified_silhouette``):
    the first four embedding vectors serve as literal centroids (the
    assign_clusters contract — a bounded driver collect at plan time),
    every vector scores s = (b−a)/max(a,b) on 6dp-rounded distances in
    ONE narrow projection, then a per-cluster DECIMAL-exact mean. The
    oracle replays distances (list_distance), the (d, cluster)-ordered
    argmin/runner-up, and the exact mean."""
    from ..operators.clustering import simplified_silhouette

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .collect()
    ]
    scored = simplified_silhouette(emb, cents)
    return (
        scored.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("silhouette").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("cluster")
    )


@register_query(
    "doc_fix_mojibake",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text || ' café naïve — ok'
                ELSE text END AS fixed,
           doc_id % 3 = 0 AS was_corrupted
    FROM documents ORDER BY doc_id
    """,
)
def doc_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (``textfns.fix_mojibake``): every 3rd document
    gets a latin-1/UTF-8 double-encoded suffix planted (built by the
    actual corrupting dance at plan time, multibyte dash included) and
    the Arrow repair stage must restore the clean form EXACTLY; other
    documents must pass through byte-identical. The oracle constructs
    the expected clean text analytically — the encode/decode pair can't
    self-confirm."""
    from ..functions.textfns import fix_mojibake

    clean_suffix = " café naïve — ok"
    corrupted_suffix = clean_suffix.encode("utf-8").decode("latin-1")
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(corrupted_suffix)),
        )
        .otherwise(F.col("text"))
        .alias("s"),
    )
    return planted.select(
        "doc_id",
        fix_mojibake(F.col("s")).alias("fixed"),
        (F.col("doc_id") % 3 == 0).alias("was_corrupted"),
    ).orderBy("doc_id")


@register_query(
    "doc_collocations",
    oracle=r"""
    WITH toks AS (
        SELECT list_filter(
                   string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                   x -> x <> '') AS t
        FROM documents
    ), pairs AS (
        SELECT t[CAST(g.i AS INT)] AS prev, t[CAST(g.i AS INT)+1] AS cur
        FROM toks CROSS JOIN LATERAL unnest(range(1, len(t))) AS g(i)
        WHERE len(t) >= 2
    ), big AS (
        SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
        FROM pairs GROUP BY ALL
    ), pm AS (SELECT prev, sum(c2) AS c1p FROM big GROUP BY prev),
    cm AS (SELECT cur, sum(c2) AS c1c FROM big GROUP BY cur),
    tot AS (SELECT CAST(sum(c2) AS DOUBLE) AS b FROM big),
    scored AS (
        SELECT big.prev, big.cur, big.c2,
               round(ln(CAST(big.c2 AS DOUBLE) * tot.b
                        / (CAST(pm.c1p AS DOUBLE) * CAST(cm.c1c AS DOUBLE))), 6)
                   AS pmi
        FROM big JOIN pm USING (prev) JOIN cm USING (cur) CROSS JOIN tot
        WHERE big.c2 >= 5
    )
    SELECT prev, cur, c2, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, prev, cur) AS INTEGER)
               AS rnk
    FROM scored ORDER BY pmi DESC, prev, cur LIMIT 50
    """,
)
def doc_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by PMI (``text.collocations``,
    min_count 5) — the multiword-expression report. Ranked on the
    6dp-rounded PMI with (prev, cur) tiebreak so the cut is
    reproducible across engines; top-k is TakeOrdered, the rank window
    runs over ≤ 50 rows. The oracle replays tokenization, the
    self-consistent bigram event space, and the rank."""
    from ..operators.text import collocations

    docs = load_table(spark, sf_dir, "documents")
    return collocations(docs, min_count=5, top_k=50)


@register_query(
    "doc_scaling_law_fit",
    oracle="""
    WITH pts AS (
        SELECT lang, ln(CAST(n_chars AS DOUBLE)) AS lx,
               ln(3.0 * pow(CAST(n_chars AS DOUBLE), -0.5)
                  * (1.0 + ((doc_id % 7) - 3) / 100.0)) AS ly
        FROM documents WHERE n_chars > 0
    ), g AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               var_pop(lx) AS vx, var_pop(ly) AS vy,
               covar_pop(lx, ly) AS cxy, avg(lx) AS mx, avg(ly) AS my
        FROM pts GROUP BY lang
    )
    SELECT lang, n,
           round(CASE WHEN vx > 0 THEN cxy / vx END, 6) AS slope,
           round(my - (CASE WHEN vx > 0 THEN cxy / vx END) * mx, 6)
               AS intercept,
           round(CASE WHEN vx > 0 AND vy > 0
                 THEN (cxy * cxy) / (vx * vy) END, 6) AS r2
    FROM g ORDER BY lang
    """,
)
def doc_scaling_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaling-law fit (``evals.fit_power_law``): per-language log-log
    OLS over a synthetic loss-vs-size curve — loss = 3·n^-0.5 times a
    deterministic ±3% ripple (doc_id % 7), so the recovered slope sits
    near −0.5 with r² < 1. One moments aggregate per group; the oracle
    replays the var/covar closed form."""
    from ..operators.evals import fit_power_law

    docs = load_table(spark, sf_dir, "documents")
    pts = docs.select(
        "lang",
        F.col("n_chars").cast("double").alias("n_tokens"),
        (
            3.0
            * F.pow(F.col("n_chars").cast("double"), -0.5)
            * (1.0 + ((F.col("doc_id") % 7) - 3) / 100.0)
        ).alias("loss"),
    )
    return fit_power_law(pts, "n_tokens", "loss", group_cols=("lang",)).orderBy(
        "lang"
    )


@register_query(
    "doc_chat_validate",
    oracle="""
    SELECT doc_id,
           (doc_id % 7) IN (0, 5, 6) AS valid,
           CASE doc_id % 7
               WHEN 1 THEN 'bad_role'
               WHEN 2 THEN 'empty_content'
               WHEN 3 THEN 'system_position'
               WHEN 4 THEN 'no_alternation'
           END AS violation
    FROM documents ORDER BY doc_id
    """,
)
def doc_chat_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-structure QA (``sft.validate_conversations``): each
    doc_id % 7 class plants one structural mode — valid 3-turn / bad
    role / empty content / late system / broken alternation /
    tool-reset flow / valid 2-turn — and the JVM fold must name exactly
    the planted first violation. The oracle is the analytic CASE over
    the same derivation (the fold can't self-confirm). One narrow
    projection, zero shuffle."""
    from ..operators.sft import validate_conversations

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def turn(role, content):
        return F.struct(
            F.lit(role).alias("role"), F.lit(content).alias("content")
        )

    m = F.col("doc_id") % 7
    turns = (
        F.when(m == 0, F.array(
            turn("system", "s"), turn("user", "u"), turn("assistant", "a")
        ))
        .when(m == 1, F.array(turn("user", "u"), turn("robot", "r")))
        .when(m == 2, F.array(turn("user", "u"), turn("assistant", "")))
        .when(m == 3, F.array(turn("user", "u"), turn("system", "late")))
        .when(m == 4, F.array(turn("user", "u"), turn("user", "again")))
        .when(m == 5, F.array(
            turn("user", "u"), turn("assistant", "a"),
            turn("tool", "result"), turn("assistant", "done"),
        ))
        .otherwise(F.array(turn("user", "u"), turn("assistant", "a")))
    )
    return (
        validate_conversations(docs.withColumn("turns", turns))
        .select("doc_id", "valid", "violation")
        .orderBy("doc_id")
    )


@register_query(
    "events_fleiss_kappa",
    oracle="""
    WITH c AS (
        SELECT event_id % 200 AS item, event_type AS cat,
               count(*) AS n_ik
        FROM events GROUP BY 1, 2
    ), i AS (
        SELECT item, sum(n_ik) AS n_i, sum(n_ik * n_ik) AS sq
        FROM c GROUP BY item HAVING sum(n_ik) >= 2
    ), pb AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(n_i) AS BIGINT) AS n_ratings,
               avg((sq - n_i) * 1.0 / (n_i * (n_i - 1))) AS p_bar
        FROM i
    ), k AS (
        SELECT c.cat, sum(c.n_ik) AS nk FROM c
        WHERE c.item IN (SELECT item FROM i) GROUP BY c.cat
    ), pe AS (
        SELECT sum((1.0 * nk / t.t) * (1.0 * nk / t.t)) AS p_e
        FROM k, (SELECT sum(nk) AS t FROM k) t
    )
    SELECT pb.n_items, pb.n_ratings, round(pb.p_bar, 6) AS p_bar,
           round(pe.p_e, 6) AS p_e,
           CASE WHEN pe.p_e < 1.0
                THEN round((pb.p_bar - pe.p_e) / (1.0 - pe.p_e), 6)
           END AS kappa
    FROM pb, pe
    """,
)
def events_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (``evals.fleiss_kappa``, the
    generalized varying-n Fleiss' kappa — RLHF label QA): events as
    ratings of 200 synthetic items (event_id % 200) with event_type as
    the assigned category. Two partial aggregations + two 1-row scalar
    broadcasts; the oracle replays P̄, P_e, and κ on the same kept-item
    set."""
    from ..operators.evals import fleiss_kappa

    e = load_table(spark, sf_dir, "events")
    ratings = e.select(
        (F.col("event_id") % 200).alias("item_id"),
        F.col("event_type").alias("category"),
    )
    return fleiss_kappa(ratings)


@register_query(
    "events_krippendorff_alpha",
    oracle="""
    WITH c AS (
        SELECT event_id % 250 AS item, event_type AS cat,
               count(*) AS n_uc
        FROM events GROUP BY 1, 2
    ), i AS (
        SELECT item, sum(n_uc) AS m_u,
               sum(n_uc * (n_uc - 1)) AS pairs
        FROM c GROUP BY item HAVING sum(n_uc) >= 2
    ), obs AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(m_u) AS BIGINT) AS n_ratings,
               sum(pairs * 1.0 / (m_u - 1)) AS agree
        FROM i
    ), marg AS (
        SELECT sum(1.0 * nc * nc) AS sq FROM (
            SELECT sum(n_uc) AS nc FROM c
            WHERE item IN (SELECT item FROM i) GROUP BY cat
        )
    )
    SELECT n_items, n_ratings,
           round(n_ratings - agree, 6) AS d_o,
           round((1.0 * n_ratings * n_ratings - sq) / (n_ratings - 1), 6)
               AS d_e,
           CASE WHEN (1.0 * n_ratings * n_ratings - sq)
                     / (n_ratings - 1) > 0
                THEN round(1.0 - (n_ratings - agree)
                     / ((1.0 * n_ratings * n_ratings - sq)
                        / (n_ratings - 1)), 6) END AS alpha
    FROM obs, marg
    """,
)
def events_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (``evals.krippendorff_alpha``, nominal
    metric) — the missing-data-tolerant agreement coefficient next to
    Fleiss' κ: no fixed rater panel, items weighted by the rating
    pairs they actually carry (the crowdsourced/partial-overlap RLHF
    labeling shape). Events as ratings of 250 synthetic items. Same
    scale shape as the κ entry — two partial aggregations over (item,
    category) counts plus 1-row scalar broadcasts; the oracle replays
    the coincidence algebra term for term."""
    from ..operators.evals import krippendorff_alpha

    e = load_table(spark, sf_dir, "events")
    ratings = e.select(
        (F.col("event_id") % 250).alias("item_id"),
        F.col("event_type").alias("category"),
    )
    return krippendorff_alpha(ratings)


@register_query(
    "embedding_decontamination",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               round(list_cosine_similarity(q.embedding, c.embedding), 6)
                   AS cosine,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(
                       q.embedding, c.embedding), 6) DESC, c.vec_id ASC
               ) AS rn
        FROM q, c
    )
    SELECT query_id, vec_id, cosine >= 0.5 AS contaminated
    FROM scored WHERE rn = 1 ORDER BY query_id
    """,
)
def embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval decontamination (the semantic sibling of
    the k-gram ``doc_decontamination``): each eval vector (vec_id < 10)
    reports its nearest training vector (vec_id ≥ 10) by exact cosine
    and a contamination flag at threshold 0.5 — composition of
    ``similarity.brute_force_topk`` k=1 (queries broadcast, corpus
    never shuffles; swap in ``pq_topk``/``ivf_topk`` at scale). The
    oracle replays the scan with list_cosine_similarity + an
    identically-tiebroken window."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    evals = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    train = emb.filter(F.col("vec_id") >= 10)
    return (
        brute_force_topk(train, evals, k=1)
        .select(
            "query_id",
            "vec_id",
            # the raw cosine stays out of the contract: the engines'
            # summation orders differ by ~1e-9, which double-rounds to
            # visible 5th/6th-decimal flips on knife-edge rows; the
            # nearest ID (ranked on 6dp + id tiebreak) and the flag
            # (threshold far from any boundary) are cross-engine stable
            (F.col("cosine") >= 0.5).alias("contaminated"),
        )
        .orderBy("query_id")
    )


@register_query(
    "events_calibration",
    oracle="""
    WITH s AS (
        SELECT (event_id % 101) / 100.0 AS conf,
               CASE WHEN event_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS corr
        FROM events
    ), b AS (
        SELECT CAST(least(CAST(floor(conf * 10) AS INTEGER), 9) AS INTEGER)
                   AS bin,
               CAST(count(*) AS BIGINT) AS bin_count,
               round(avg(conf), 6) AS avg_confidence,
               round(avg(corr), 6) AS accuracy
        FROM s GROUP BY 1
    ), t AS (
        SELECT sum(bin_count) AS n,
               sum(abs(accuracy - avg_confidence) * bin_count) AS e
        FROM b
    )
    SELECT b.bin, b.bin_count, b.avg_confidence, b.accuracy,
           round(t.e / t.n, 6) AS ece
    FROM b, t ORDER BY b.bin
    """,
)
def events_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error
    (``evals.calibration_error``): synthetic confidences
    (event_id % 101)/100 vs a 1/3 base-rate correctness bit, 10
    equal-width bins with the conf=1.0 fold into the last. One
    map-side-combinable (bin) aggregate + a ≤10-row window for the
    count-weighted ECE; the oracle replays bins and the weighted total."""
    from ..operators.evals import calibration_error

    e = load_table(spark, sf_dir, "events")
    samples = e.select(
        ((F.col("event_id") % 101) / 100.0).alias("confidence"),
        (F.col("event_id") % 3 == 0).alias("correct"),
    )
    return calibration_error(samples, n_bins=10).orderBy("bin")


_HOST_EDGES_SQL = """
        SELECT DISTINCT
               'h' || CAST((doc_id % 20) AS VARCHAR) || '.example.com' AS src,
               'h' || CAST(((doc_id * 7 + t.k) % 20) AS VARCHAR)
                   || '.example.com' AS dst
        FROM documents, (VALUES (1), (4), (7)) t(k)
        WHERE doc_id % 11 <> 0
          AND (doc_id % 20) <> ((doc_id * 7 + t.k) % 20)
    """


@register_query(
    "doc_host_pagerank",
    oracle=_pagerank_oracle_sql(iters=4, edges_sql=_HOST_EDGES_SQL),
)
def doc_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link-graph PageRank — the crawl-curation quality
    prior (Common-Crawl-style host ranking): page + outlink URLs →
    ``graph.link_graph_edges`` (url_host extraction, garbage and
    intra-host links dropped, distinct host pairs) → ``graph.pagerank``
    (4 iterations, damping 0.85). Synthetic URLs derive from doc_id
    (page host = doc_id % 20 — UPPERCASED with a :443 port to exercise
    the host normalization; 3 outlinks at (doc_id·7 + {1,4,7}) % 20;
    every 11th page URL unparseable; one javascript: garbage outlink
    per page). The oracle constructs the expected edges ANALYTICALLY
    from the same derivation — the regex extraction path can't
    self-confirm — then unrolls the identical power iteration in
    SQL."""
    from ..operators.graph import link_graph_edges, pagerank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")

    def host_url(expr, scheme="https://H", port=":443"):
        return F.concat(
            F.lit(scheme),
            (expr % 20).cast("string"),
            F.lit(".Example.COM"),
            F.lit(port),
            F.lit("/p/"),
            did.cast("string"),
        )

    pages = docs.select(
        F.when(did % 11 == 0, F.concat(F.lit("not a url "), did.cast("string")))
        .otherwise(host_url(did))
        .alias("url"),
        F.array(
            host_url(did * 7 + 1, scheme="http://h", port=""),
            host_url(did * 7 + 4, scheme="http://h", port=""),
            host_url(did * 7 + 7, scheme="http://h", port=""),
            F.lit("javascript:void(0)"),
        ).alias("links"),
    )
    return (
        pagerank(link_graph_edges(pages), iters=4, damping=0.85)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy("node")
    )


@register_query("pq_ann_topk")
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_topk — the
    FAISS-PQ/ADC pattern): corpus stored as m=8 one-byte-ish codes
    (64× compression at dim=64), per-query 8×256 lookup table built
    distributed from the broadcast codebook, corpus scanned with pure
    JVM ``element_at`` gathers, exact-cosine re-rank of the ADC
    candidates. Rows-only (the per-subspace KMeans fit is iterative);
    the unit suite pins full-candidate == brute-force and
    recall ≥ 0.9 at default margins. Same query set as the other ANN
    entries for comparability."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        pq_topk(emb, q, k=10, candidate_k=40)
        .select("query_id", "vec_id", F.col("rank").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


@register_query("media_audio_duration")
def media_audio_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio duration gate (``multimodal.filter_audio_duration``):
    synthetic PCM WAVs at three lengths (doc_id % 3 → 100 ms / 1 s /
    3 s, real ``wav_codec`` encodes at 8 kHz) flow through the
    JVM-side RIFF header parse — sample rate, byte rate, and data size
    read little-endian via per-byte hex reversal + ``conv``, payloads
    never leave the JVM — and the [500 ms, 2 s] envelope flags the
    tails. Rows-only (Arrow synth); the parse is pinned against the
    encoder in units. The waveform depends only on (doc_id % 3,
    doc_id % 7), so the synth memoizes the 21 distinct encodes per
    task — row count scales, encode cost doesn't."""
    import pandas as pd

    from ..operators.multimodal import filter_audio_duration
    from ..operators.wav_codec import wav_encode

    n_samps = [800, 8000, 24000]

    def synth(it):
        import math

        cache: dict = {}

        def make(i: int) -> bytes:
            key = (i % 3, i % 7)
            wav = cache.get(key)
            if wav is None:
                n, phase = n_samps[key[0]], key[1] + 1
                wav = wav_encode(
                    [math.sin(j / phase) * 0.5 for j in range(n)], 8000
                )
                cache[key] = wav
            return wav

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [make(int(i)) for i in pdf["doc_id"]],
                }
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    wavs = d.mapInPandas(synth, "media_id long, payload binary")
    return (
        filter_audio_duration(wavs, min_ms=500, max_ms=2000, action="flag")
        .select("media_id", "sample_rate", "duration_ms", "keep")
        .orderBy("media_id")
    )


@register_query(
    "part_entity_resolution",
    oracle="""
    WITH RECURSIVE reps AS (
        SELECT p_name, min(p_partkey) AS rep_id
        FROM part WHERE p_name IS NOT NULL GROUP BY p_name
    ), pairs AS (
        SELECT a.rep_id AS id_a, b.rep_id AS id_b
        FROM reps a JOIN reps b
          ON string_split(a.p_name, ' ')[2] = string_split(b.p_name, ' ')[2]
         AND a.rep_id < b.rep_id
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(n, m) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
    ), rep_comp AS (
        SELECT n AS rep_id, least(n, min(m)) AS entity
        FROM reach GROUP BY n
    ), rep_entity AS (
        SELECT r.p_name, r.rep_id,
               coalesce(c.entity, r.rep_id) AS entity_id
        FROM reps r LEFT JOIN rep_comp c ON r.rep_id = c.rep_id
    )
    SELECT p.p_partkey, CAST(e.entity_id AS BIGINT) AS entity_id,
           canon.p_name AS canonical_name
    FROM part p
    JOIN rep_entity e ON p.p_name = e.p_name
    JOIN reps canon ON canon.rep_id = e.entity_id
    ORDER BY p.p_partkey
    """,
)
def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names (operators/entity.
    resolve_entities): exact-name collapse to min-id representatives,
    noun-blocked levenshtein<=2 pairing over representatives only (the
    distance-0 clique blowup never happens), transitive closure via
    min-label connected components, canonical name = the min-id row's.
    The oracle replays blocking + levenshtein + a recursive-CTE
    closure independently."""
    from ..operators.entity import resolve_entities

    p = load_table(spark, sf_dir, "part")
    return (
        resolve_entities(p, "p_partkey", "p_name", max_dist=2)
        .orderBy("p_partkey")
    )


@register_query(
    "doc_token_heavy_hitters",
    oracle="""
    WITH w AS (
        SELECT word FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ) WHERE word <> ''
    ), cells AS (
        SELECT r AS hash_row,
               CAST(concat('0x', substring(
                    md5(concat(CAST(r AS VARCHAR), ':', word)), 1, 8))
                    AS BIGINT) % 256 AS bucket,
               count(*) AS cnt
        FROM w, generate_series(0, 3) AS t(r)
        GROUP BY 1, 2
    ), cand AS (
        SELECT word, count(*) AS exact_count FROM w GROUP BY word
    ), probe AS (
        SELECT c.word, min(coalesce(cells.cnt, 0)) AS est_count
        FROM (SELECT word, r FROM cand, generate_series(0, 3) AS t(r)) c
        LEFT JOIN cells
          ON cells.hash_row = c.r
         AND cells.bucket = CAST(concat('0x', substring(
                 md5(concat(CAST(c.r AS VARCHAR), ':', c.word)), 1, 8))
                 AS BIGINT) % 256
        GROUP BY c.word
    )
    SELECT cand.word, CAST(exact_count AS BIGINT) AS exact_count,
           CAST(est_count AS BIGINT) AS est_count
    FROM cand JOIN probe USING (word)
    ORDER BY est_count DESC, word LIMIT 20
    """,
)
def doc_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/sketches): the token
    stream folds into a 4×256 grid (ONE map-side-combinable aggregate,
    output ≤ 1024 rows no matter the corpus), candidate tokens probe it
    with the broadcast grid, and the report carries exact counts next
    to the sketch estimates so the CMS overestimate is visible. The md5
    bucket derivation is engine-portable, so the oracle replays the
    whole sketch — grid, probe, min — bit-for-bit in SQL (most sketches
    are only property-testable; this one is value-hash checkable)."""
    from ..operators.sketches import cms_build, cms_lookup

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    grid = cms_build(words, "word", depth=4, width=256)
    cand = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        cms_lookup(grid, cand, "word", depth=4, width=256)
        .select("word", "exact_count", "est_count")
        .orderBy(F.desc("est_count"), "word")
        .limit(20)
    )


@register_query(
    "part_pareto_frontier",
    oracle="""
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p
    WHERE p.p_size IS NOT NULL AND p.p_retailprice IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
      )
    ORDER BY p.p_partkey
    """,
)
def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (operators/skyline.pareto_frontier): parts no
    other part beats on both price (min) and size (max). The oracle is
    the textbook quadratic NOT EXISTS; the engine's plan is the
    O(n log n) level-collapse + strictly-cheaper running max + join
    back — the 100 TB-safe formulation of the same predicate."""
    from ..operators.skyline import pareto_frontier

    p = load_table(spark, sf_dir, "part")
    return (
        pareto_frontier(p, "p_retailprice", "p_size")
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


@register_query(
    "embedding_covariance",
    oracle="""
    WITH x AS (
        SELECT embedding AS e FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64
    ), grid AS (
        SELECT s.i, t.j
        FROM generate_series(1, 64) s(i), generate_series(1, 64) t(j)
        WHERE s.i <= t.j
    ), m AS (
        SELECT i, j,
               sum(CAST(floor((CAST(e[i] AS DOUBLE) * CAST(e[j] AS DOUBLE))
                              * 1e10) AS HUGEINT)) AS sxy,
               sum(CAST(floor(CAST(e[i] AS DOUBLE) * 1e10)
                        AS HUGEINT)) AS sxi,
               sum(CAST(floor(CAST(e[j] AS DOUBLE) * 1e10)
                        AS HUGEINT)) AS sxj,
               count(*) AS n
        FROM x, grid GROUP BY i, j
    )
    SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
           ((CAST(sxy AS DOUBLE) / 1e10)
            - ((CAST(sxi AS DOUBLE) / 1e10) * (CAST(sxj AS DOUBLE) / 1e10))
              / CAST(n AS DOUBLE))
           / (CAST(n AS DOUBLE) - 1.0) AS cov
    FROM m ORDER BY i, j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance matrix of the embedding components
    (operators/pca.covariance_matrix): the Arrow-batched Gram stage
    reduces the corpus to d(d+1)/2 + d + 1 moment rows — bounded state
    at any row count, the distributed half of PCA.

    Hash-determinism (the round-4 red row, fixed): every SUMMED term is
    ``floor((e_i·e_j)·1e10)`` — exact int64 (float32 products are exact
    in float64; ×1e10 + floor are single IEEE ops identical in numpy,
    Spark and DuckDB) — summed as DECIMAL/HUGEINT, then ONE float64
    expression with identical parenthesization on both sides. No
    rounding step: the doubles are bit-equal by construction."""
    from ..operators.pca import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, "embedding", dim=64).orderBy("i", "j")


def _pca_project_oracle() -> str | None:
    """DuckDB twin for ``embedding_pca_project``, generated at import.

    The eigendecomposition is driver-side control path, not SQL — but
    with the exact-integer moment pipeline (operators/pca) the fitted
    model at a given dataset is fully deterministic, so the top-2
    components can ride the oracle as float literals (repr() round-trips
    doubles exactly) and the projection becomes SQL: the same quantized
    per-element fold the engine runs (floor(((x−m)·w)·1e8) as BIGINT,
    exact integer sum, one final IEEE division).

    The literals are fit here with plain numpy+pyarrow — an independent
    replay of the engine's moment math — on the tables at the scale the
    oracles will run at: sf0.01, the driver-gate contract (TESTDATA.md),
    overridable via ORACLE_SF for the local sf0.001 gate
    (tests/conftest.py pins it before this module loads). If the fixture
    is unavailable the entry degrades to rows-only."""
    path = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"),
        os.environ.get("ORACLE_SF", "sf0.01"),
        "embeddings.parquet",
    )
    try:
        import numpy as np
        import pyarrow.parquet as pq

        from ..operators.pca import MOMENT_SCALE, fit_from_moments

        rows = (
            pq.read_table(path, columns=["embedding"])
            .column("embedding")
            .to_pylist()
        )
        x = np.asarray(
            [v for v in rows if v is not None and len(v) == 64],
            dtype=np.float64,
        )
        unit = float(10**MOMENT_SCALE)
        iu0, iu1 = np.triu_indices(64)
        tri = (
            np.floor(x[:, iu0] * x[:, iu1] * unit).astype(np.int64).sum(axis=0)
        )
        s_x = np.floor(x * unit).astype(np.int64).sum(axis=0)
        s_xy = np.zeros((64, 64))
        s_xy[iu0, iu1] = tri
        s_xy[iu1, iu0] = tri
        model = fit_from_moments(s_xy, s_x, float(x.shape[0]), 2)
    except Exception:  # missing fixture / degenerate data → rows-only
        return None

    def comp_sum(ci: int) -> str:
        terms = [
            "CAST(floor(((CAST(embedding[{k}] AS DOUBLE) - ({m})) * ({w}))"
            " * 1e8) AS BIGINT)".format(
                k=kk + 1,
                m=repr(model["mean"][kk]),
                w=repr(model["components"][ci][kk]),
            )
            for kk in range(64)
        ]
        return "(" + "\n             + ".join(terms) + ")"

    return f"""
    SELECT vec_id,
           CASE WHEN len(embedding) = 64
                THEN {comp_sum(0)} / 1e8 END AS pc0,
           CASE WHEN len(embedding) = 64
                THEN {comp_sum(1)} / 1e8 END AS pc1
    FROM embeddings ORDER BY vec_id
    """


@register_query(
    "embedding_bitext_mine",
    oracle=r"""
    WITH s AS (
        SELECT vec_id AS src_id, embedding AS v,
               list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(floor((CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE)) * 1e8) AS BIGINT)))
                   AS qn
        FROM embeddings
        WHERE vec_id % 2 = 0 AND embedding IS NOT NULL
          AND len(embedding) = 64
    ), t AS (
        SELECT vec_id AS tgt_id, embedding AS v,
               list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(floor((CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE)) * 1e8) AS BIGINT)))
                   AS qn
        FROM embeddings
        WHERE vec_id % 2 = 1 AND embedding IS NOT NULL
          AND len(embedding) = 64
    ), scored AS (
        SELECT s.src_id, t.tgt_id,
               CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(floor((CAST(s.v[i] AS DOUBLE)
                        * CAST(t.v[i] AS DOUBLE)) * 1e8) AS BIGINT)))
                   AS DOUBLE)
               / sqrt(CAST(s.qn AS DOUBLE) * CAST(t.qn AS DOUBLE)) AS cos
        FROM s, t
    ), ranked AS (
        SELECT src_id, tgt_id, cos,
               CAST(floor(cos * 1e9) AS BIGINT) AS qc,
               row_number() OVER (PARTITION BY src_id
                                  ORDER BY cos DESC, tgt_id ASC) AS rf,
               row_number() OVER (PARTITION BY tgt_id
                                  ORDER BY cos DESC, src_id ASC) AS rb
        FROM scored
    ), fsum AS (
        SELECT src_id, sum(qc) AS fs, count(*) AS fn
        FROM ranked WHERE rf <= 4 GROUP BY src_id
    ), bsum AS (
        SELECT tgt_id, sum(qc) AS bs, count(*) AS bn
        FROM ranked WHERE rb <= 4 GROUP BY tgt_id
    )
    SELECT r.src_id, r.tgt_id, r.cos,
           r.cos / ((CAST(fs AS DOUBLE) / (fn * 1e9)
                     + CAST(bs AS DOUBLE) / (bn * 1e9)) / 2.0) AS margin
    FROM ranked r JOIN fsum USING (src_id) JOIN bsum USING (tgt_id)
    WHERE r.cos / ((CAST(fs AS DOUBLE) / (fn * 1e9)
                    + CAST(bs AS DOUBLE) / (bn * 1e9)) / 2.0) >= 1.05
      AND r.rf = 1 AND r.rb = 1
    ORDER BY src_id
    """,
)
def embedding_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/bitext.mine_bitext_pairs —
    the Artetxe & Schwenk 2019 ratio-margin criterion): even vec_ids
    play the source language, odd the target; pairs are kept when they
    are MUTUAL nearest neighbors whose cosine exceeds what each side's
    k=4 neighborhood considers normal (margin ≥ 1.05). Dots and
    neighborhood sums use the exact-integer quantization discipline, so
    the whole chain — cosines, both rank windows, margin ratios — is
    bit-equal to the SQL replay. The gate runs the exact broadcast-cross
    form (the threshold-tuning sample path); the corpus-scale
    production mode — ANN candidates + exact rescoring — is its own
    oracle-backed entry, ``embedding_bitext_mine_ann``."""
    from ..operators.bitext import mine_bitext_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return mine_bitext_pairs(
        src, tgt, k=4, threshold=1.05, mutual_best=True
    ).orderBy("src_id")


def _bitext_ann_oracle() -> str:
    """DuckDB twin for ``embedding_bitext_mine_ann`` — generated at
    import. Unlike ``_pca_project_oracle`` this needs NO fixture: the
    Rademacher hyperplanes are data-independent md5 literals
    (operators/bitext.rademacher_planes), so the SQL replays candidate
    generation (integer LSH projections → band buckets → distinct
    pair join) AND the margin rescoring bit-for-bit."""
    from ..operators.bitext import rademacher_planes

    planes = rademacher_planes(8, 64)

    def bit(p: int) -> str:
        s = "[" + ",".join(str(x) for x in planes[p]) + "]"
        return (
            "(CASE WHEN list_sum(list_transform(generate_series(1, 64),"
            f" i -> ({s})[i] * qv[i])) >= 0 THEN 1 ELSE 0 END)"
        )

    b0 = " + ".join(f"{2**j} * {bit(j)}" for j in range(4))
    b1 = " + ".join(f"{2**j} * {bit(4 + j)}" for j in range(4))
    return f"""
    WITH s AS (
        SELECT vec_id AS src_id, embedding AS v,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv,
               list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(floor((CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE)) * 1e8) AS BIGINT)))
                   AS qn
        FROM embeddings
        WHERE vec_id % 2 = 0 AND embedding IS NOT NULL
          AND len(embedding) = 64
    ), t AS (
        SELECT vec_id AS tgt_id, embedding AS v,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv,
               list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(floor((CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE)) * 1e8) AS BIGINT)))
                   AS qn
        FROM embeddings
        WHERE vec_id % 2 = 1 AND embedding IS NOT NULL
          AND len(embedding) = 64
    ), sbk AS (
        SELECT src_id, {b0} AS bucket0, {b1} AS bucket1 FROM s
    ), tbk AS (
        SELECT tgt_id, {b0} AS bucket0, {b1} AS bucket1 FROM t
    ), sb AS (
        SELECT src_id, 0 AS band, bucket0 AS bucket FROM sbk
        UNION ALL SELECT src_id, 1, bucket1 FROM sbk
    ), tb AS (
        SELECT tgt_id, 0 AS band, bucket0 AS bucket FROM tbk
        UNION ALL SELECT tgt_id, 1, bucket1 FROM tbk
    ), cand AS (
        SELECT DISTINCT sb.src_id, tb.tgt_id
        FROM sb JOIN tb ON sb.band = tb.band AND sb.bucket = tb.bucket
    ), scored AS (
        SELECT c.src_id, c.tgt_id,
               CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(floor((CAST(s.v[i] AS DOUBLE)
                        * CAST(t.v[i] AS DOUBLE)) * 1e8) AS BIGINT)))
                   AS DOUBLE)
               / sqrt(CAST(s.qn AS DOUBLE) * CAST(t.qn AS DOUBLE)) AS cos
        FROM cand c
        JOIN s ON s.src_id = c.src_id
        JOIN t ON t.tgt_id = c.tgt_id
    ), ranked AS (
        SELECT src_id, tgt_id, cos,
               CAST(floor(cos * 1e9) AS BIGINT) AS qc,
               row_number() OVER (PARTITION BY src_id
                                  ORDER BY cos DESC, tgt_id ASC) AS rf,
               row_number() OVER (PARTITION BY tgt_id
                                  ORDER BY cos DESC, src_id ASC) AS rb
        FROM scored
    ), fsum AS (
        SELECT src_id, sum(qc) AS fs, count(*) AS fn
        FROM ranked WHERE rf <= 4 GROUP BY src_id
    ), bsum AS (
        SELECT tgt_id, sum(qc) AS bs, count(*) AS bn
        FROM ranked WHERE rb <= 4 GROUP BY tgt_id
    )
    SELECT r.src_id, r.tgt_id, r.cos,
           r.cos / ((CAST(fs AS DOUBLE) / (fn * 1e9)
                     + CAST(bs AS DOUBLE) / (bn * 1e9)) / 2.0) AS margin
    FROM ranked r JOIN fsum USING (src_id) JOIN bsum USING (tgt_id)
    WHERE r.cos / ((CAST(fs AS DOUBLE) / (fn * 1e9)
                    + CAST(bs AS DOUBLE) / (bn * 1e9)) / 2.0) >= 1.05
      AND r.rf = 1 AND r.rb = 1
    ORDER BY src_id, tgt_id
    """


@register_query("embedding_bitext_mine_ann", oracle=_bitext_ann_oracle())
def embedding_bitext_mine_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION bitext-mining mode (VERDICT r5 #1): ANN candidate
    generation + exact margin rescoring, the FAISS-mine shape that
    replaces ``embedding_bitext_mine``'s all-pairs broadcast cross at
    corpus scale. Candidates come from banded Rademacher-LSH
    (operators/bitext.lsh_bitext_candidates — 8 md5-pinned ±1 planes,
    2 bands × 4 bits, exact-integer projections), then
    ``mine_bitext_pairs(candidates=)`` runs the unchanged margin
    criterion with candidate-restricted neighborhoods. Everything —
    plane literals, integer projections, bucket join, quantized
    cosines, rank windows, margin ratios — is bit-equal to the SQL
    replay, so the 100 TB plan itself is hash-verified, not just the
    sample path. Scale: shuffle is (band, bucket)-partitioned; pair
    volume is Σ_bucket |s_b|·|t_b| (measured ~8× below all-pairs at
    these settings), and no stage touches |src|·|tgt|."""
    from ..operators.bitext import lsh_bitext_candidates, mine_bitext_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    cands = lsh_bitext_candidates(
        src, tgt, n_planes=8, band_bits=4, dim=64
    )
    return mine_bitext_pairs(
        src, tgt, k=4, threshold=1.05, mutual_best=True, candidates=cands
    ).orderBy("src_id", "tgt_id")


def _bitext_ann_recall_oracle() -> str | None:
    """DuckDB twin for ``bitext_ann_recall_eval``: both mined-pair
    pipelines are already SQL-replayable (the ``embedding_bitext_mine``
    literal oracle and the generated ``_bitext_ann_oracle``), so the
    recall readout simply nests them as CTEs — trailing ORDER BY
    stripped — and reduces to one row of exact-integer counts + ppm
    ratios."""
    ann = _bitext_ann_oracle()
    exact = ORACLE_SQL.get("embedding_bitext_mine")
    if ann is None or exact is None:
        return None

    def strip(sql: str) -> str:
        return sql.rsplit("ORDER BY", 1)[0]

    return f"""
    WITH exact_mined AS ({strip(exact)}),
         ann_mined AS ({strip(ann)}),
         counts AS (
             SELECT
                 CAST((SELECT count(*) FROM exact_mined) AS BIGINT)
                     AS n_exact,
                 CAST((SELECT count(*) FROM ann_mined) AS BIGINT) AS n_ann,
                 CAST((SELECT count(*) FROM exact_mined e
                       JOIN ann_mined a ON e.src_id = a.src_id
                                       AND e.tgt_id = a.tgt_id) AS BIGINT)
                     AS n_common
         )
    SELECT n_exact, n_ann, n_common,
           CASE WHEN n_exact > 0
                THEN n_common * 1000000 // n_exact END AS recall_ppm,
           CASE WHEN n_ann > 0
                THEN n_common * 1000000 // n_ann END AS precision_ppm
    FROM counts
    """


@register_query("bitext_ann_recall_eval", oracle=_bitext_ann_recall_oracle())
def bitext_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical recall/precision of the ANN-candidates bitext path
    (``embedding_bitext_mine_ann``) against the exact all-pairs
    path (``embedding_bitext_mine``) at the same k/threshold — the
    measure-don't-guess readout for the banding trade, the
    ``dedup_lsh_recall_eval`` sibling for bitext mining. Banding can
    MISS pairs (sketches straddle every band) and can ADD pairs
    (candidate-restricted neighborhoods weaken the margin denominator
    and the mutual-best competition), so both directions are reported:
    ppm ratios of exact-integer counts, bit-equal across engines. At
    100 TB this runs on a per-language-pair SAMPLE to pick
    n_planes/band_bits before committing the full mining run."""
    from ..operators.bitext import lsh_bitext_candidates, mine_bitext_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    exact = mine_bitext_pairs(
        src, tgt, k=4, threshold=1.05, mutual_best=True
    ).select("src_id", "tgt_id")
    cands = lsh_bitext_candidates(src, tgt, n_planes=8, band_bits=4, dim=64)
    ann = mine_bitext_pairs(
        src, tgt, k=4, threshold=1.05, mutual_best=True, candidates=cands
    ).select("src_id", "tgt_id")
    # one pass per path (r8, the dedup_lsh_recall_eval restructure):
    # the three-scalar combine consumed the exact AND ANN mining
    # pipelines twice each (own count + the common join); a full-outer
    # join on the pair key + one aggregate reads each exactly once.
    # Both paths emit unique mutual-best (src_id, tgt_id) rows, so the
    # counts are identical.
    row = (
        exact.select("src_id", "tgt_id", F.lit(1).alias("__e"))
        .join(
            ann.select("src_id", "tgt_id", F.lit(1).alias("__a")),
            ["src_id", "tgt_id"],
            "full",
        )
        .agg(
            F.count("__e").alias("n_exact"),
            F.count("__a").alias("n_ann"),
            F.count(
                F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1)
            ).alias("n_common"),
        )
    )
    return row.select(
        "n_exact",
        "n_ann",
        "n_common",
        F.when(
            F.col("n_exact") > 0,
            F.expr("n_common * 1000000 div n_exact"),
        ).alias("recall_ppm"),
        F.when(
            F.col("n_ann") > 0,
            F.expr("n_common * 1000000 div n_ann"),
        ).alias("precision_ppm"),
    )


@register_query("embedding_pca_project", oracle=_pca_project_oracle())
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA fit + projection (operators/pca): exact-integer covariance
    moments → driver-side eigh (d×d, control-path, deterministic) →
    per-row projection onto the top-2 literal component arrays, pure
    JVM zip_with folds with per-element integer quantization. The
    oracle replays the identical fold over the identical fitted
    literals (see ``_pca_project_oracle``), promoting this entry from
    rows-only to hash-verified."""
    from ..operators.pca import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=2, dim=64)
    return (
        pca_project(emb, "embedding", model, quantize_scale=8)
        .select("vec_id", "pc0", "pc1")
        .orderBy("vec_id")
    )


@register_query(
    "orders_join_size_estimate",
    oracle="""
    WITH ga AS (
        SELECT r AS hash_row,
               CAST(concat('0x', substring(md5(concat(
                    CAST(r AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR))),
                    1, 8)) AS BIGINT) % 512 AS bucket,
               count(*) AS cnt
        FROM orders, generate_series(0, 3) t(r) GROUP BY 1, 2
    ), gb AS (
        SELECT r AS hash_row,
               CAST(concat('0x', substring(md5(concat(
                    CAST(r AS VARCHAR), ':', CAST(l_orderkey AS VARCHAR))),
                    1, 8)) AS BIGINT) % 512 AS bucket,
               count(*) AS cnt
        FROM lineitem, generate_series(0, 3) t(r) GROUP BY 1, 2
    ), ip AS (
        SELECT ga.hash_row, sum(ga.cnt * gb.cnt) AS ip
        FROM ga JOIN gb USING (hash_row, bucket) GROUP BY 1
    )
    SELECT (SELECT CAST(min(ip) AS BIGINT) FROM ip) AS est_join_size,
           (SELECT CAST(count(*) AS BIGINT)
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
               AS exact_join_size
    """,
)
def orders_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from sketches (operators/sketches.
    cms_join_size_estimate): |orders ⋈ lineitem| predicted as the min
    over hash rows of the two CMS grids' inner product — the cost-based-
    optimizer statistic, computed from two bounded 4×512 grids without
    ever joining the tables. The exact size rides along so the
    overestimate is visible; the oracle replays grids, inner product,
    min, and the exact join independently."""
    from ..operators.sketches import cms_build, cms_join_size_estimate

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ga = cms_build(o.select(F.col("o_orderkey").alias("k")), "k", depth=4, width=512)
    gb = cms_build(li.select(F.col("l_orderkey").alias("k")), "k", depth=4, width=512)
    est = cms_join_size_estimate(ga, gb, depth=4)
    exact = o.join(li, o.o_orderkey == li.l_orderkey).agg(
        F.count(F.lit(1)).alias("exact_join_size")
    )
    return est.join(F.broadcast(exact))  # two 1-row scalars


@register_query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type AS from_state,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_state
        FROM events
    ), pairs AS (
        SELECT from_state, coalesce(to_state, 'END') AS to_state FROM seq
    )
    SELECT from_state, to_state,
           CAST(count(*) AS BIGINT) AS n_transitions,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY from_state), 6) AS p
    FROM pairs GROUP BY from_state, to_state
    ORDER BY from_state, to_state
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/funnel.transition_matrix): one lead() window
    (single shuffle on user_id, event_id tiebreak for equal
    timestamps), then a pair count bounded by |event types|² + the
    'END' terminal so each row of the matrix sums to 1. The behavioral-
    model statistic session-analysis pipelines derive before anything
    fancier (next-action prediction, bot detection)."""
    from ..operators.funnel import transition_matrix

    events = load_table(spark, sf_dir, "events")
    return transition_matrix(
        events, "user_id", ["ts", "event_id"], "event_type", terminal="END"
    ).orderBy("from_state", "to_state")


@register_query(
    "part_seed_distances",
    oracle="""
    WITH RECURSIVE ps AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem WHERE l_quantity >= 40
    ), e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM ps a JOIN ps b ON a.o = b.o AND a.p < b.p
    ), edges AS (
        SELECT u AS s, v AS d FROM e0 UNION SELECT v, u FROM e0
    ), seeds AS (
        SELECT node FROM (
            SELECT DISTINCT u AS node FROM e0 UNION SELECT v FROM e0
        ) ORDER BY node LIMIT 5
    ), walk(n, dist, h) AS (
        SELECT node, 0, 0 FROM seeds
        UNION
        SELECT e.d, w.dist + 1, w.h + 1
        FROM walk w JOIN edges e ON w.n = e.s
        WHERE w.h < 4
    )
    SELECT n AS node, CAST(min(dist) AS BIGINT) AS dist
    FROM walk GROUP BY n ORDER BY node
    """,
)
def part_seed_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded-hop shortest paths (operators/graph.
    shortest_paths): hop distance from the 5 smallest co-purchase-graph
    parts over paths of ≤ 4 edges — frontier-limited Bellman-Ford, one
    frontier⋈edges join + min-merge per round, fixpoint early-stop.
    max_hops is pinned to 4 on both engines so the recursive-CTE oracle
    (hop-bounded walk + min) computes the identical quantity."""
    from ..operators.graph import shortest_paths

    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.filter(F.col("l_quantity") >= 40)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = ps.select(F.col("o"), F.col("p").alias("p2"))
    edges = (
        ps.join(b, "o")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(5)
    return (
        shortest_paths(edges, seeds, max_hops=4)
        .select("node", F.col("dist").cast("long").alias("dist"))
        .orderBy("node")
    )


@register_query(
    "orders_cuped_ab",
    oracle="""
    WITH units AS (
        SELECT o_custkey AS cust,
               sum(CASE WHEN o_orderdate <  TIMESTAMP '1998-01-01'
                        THEN o_totalprice ELSE 0 END) AS x,
               sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                        THEN o_totalprice ELSE 0 END) AS y
        FROM orders GROUP BY o_custkey
    ), pts AS (
        SELECT CASE WHEN substr(md5(CAST(cust AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 'treat' ELSE 'control' END AS arm,
               x, y
        FROM units
    ), pooled AS (
        SELECT CASE WHEN var_pop(x) > 0
                    THEN covar_pop(x, y) / var_pop(x) ELSE 0.0 END AS theta,
               avg(x) AS mx
        FROM pts
    ), adj AS (
        SELECT arm, y, y - theta * (x - mx) AS y_adj, theta
        FROM pts, pooled
    )
    SELECT arm, CAST(count(*) AS BIGINT) AS n,
           round(avg(y), 6) AS mean_raw,
           round(avg(y_adj), 6) AS mean_adj,
           round(any_value(theta), 6) AS theta,
           round(var_samp(y_adj) / var_samp(y), 6) AS var_reduction
    FROM adj GROUP BY arm ORDER BY arm
    """,
)
def orders_cuped_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (operators/evals.
    cuped_adjust): per-customer 1998+ spend as the metric, pre-1998
    spend as the covariate, arms by the md5 hash split. θ is fit pooled
    (unbiased under randomization); the report carries raw and adjusted
    means plus var_adj/var_raw — the variance-reduction ratio — instead
    of the raw ~5e11-magnitude variances, whose float summation noise
    exceeds 6-decimal rounding across engines (the ratio's relative
    noise is ~1e-15). One unit rollup + a 1-row pooled-θ broadcast +
    one per-arm aggregate."""
    from ..functions.sampling import hash_bucket
    from ..operators.evals import cuped_adjust

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    units = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(
            F.when(F.col("o_orderdate") < cut, F.col("o_totalprice"))
            .otherwise(F.lit(0.0))
        ).alias("x"),
        F.sum(
            F.when(F.col("o_orderdate") >= cut, F.col("o_totalprice"))
            .otherwise(F.lit(0.0))
        ).alias("y"),
    ).withColumn(
        "arm",
        F.when(hash_bucket("cust") < 8, F.lit("treat")).otherwise(
            F.lit("control")
        ),
    )
    out = cuped_adjust(units, "y", "x", "arm")
    return out.select(
        "arm",
        "n",
        "mean_raw",
        "mean_adj",
        "theta",
        F.round(F.col("var_adj") / F.col("var_raw"), 6).alias(
            "var_reduction"
        ),
    ).orderBy("arm")


@register_query(
    "doc_jaccard_join",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(
                       regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                       ' '),
                   x -> x <> '') AS t
        FROM documents
    ), t AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' '))) END AS s
        FROM toks
    ), ne AS (
        SELECT * FROM t
    )
    , jidx AS MATERIALIZED (
        -- inverted-index form (r9): see the dedup_lsh_recall_eval note
        SELECT doc_id, len(s) AS n, unnest(s) AS g FROM ne
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(count(*) * 1.0
                     / (min(a.n) + min(b.n) - count(*)), 6) AS jaccard,
               count(*) * 1.0
                     / (min(a.n) + min(b.n) - count(*)) AS raw_j
        FROM jidx a JOIN jidx b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) WHERE raw_j >= 0.5
    ORDER BY id_a, id_b
    """,
)
def doc_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity θ-join via prefix filtering
    (operators/dedup.jaccard_threshold_join): every document pair with
    3-gram-shingle-set Jaccard ≥ 0.5, zero false negatives — the provable
    complement of the probabilistic MinHash banding path. Candidates
    come only from shared rarest-first prefix tokens + a size-ratio
    filter; the quadratic form exists only in the oracle."""
    from ..operators.dedup import jaccard_threshold_join

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_threshold_join(docs, threshold=0.5, k=3).orderBy(
        "id_a", "id_b"
    )


@register_query(
    "doc_pii_audit",
    oracle=r"""
    WITH synth AS (
        SELECT doc_id,
               translate(substring(md5(CAST(doc_id AS VARCHAR)), 1, 15),
                         'abcdef', '012345') AS base
        FROM documents
    ), checked AS (
        SELECT doc_id, base,
               list_sum(list_transform(generate_series(1, 15),
                   i -> CASE WHEN i % 2 = 1
                             THEN CASE WHEN CAST(base[i] AS INT) * 2 > 9
                                       THEN CAST(base[i] AS INT) * 2 - 9
                                       ELSE CAST(base[i] AS INT) * 2 END
                             ELSE CAST(base[i] AS INT) END)) AS s
        FROM synth
    ), card AS (
        SELECT c.doc_id,
               c.base || CAST(
                   CASE WHEN c.doc_id % 2 = 0
                        THEN (10 - s % 10) % 10
                        ELSE ((10 - s % 10) % 10 + 1) % 10 END
                   AS VARCHAR) AS pan
        FROM checked c
    ), txt AS (
        SELECT card.doc_id,
               d.text || ' pay ' || substring(pan, 1, 4) || ' ' ||
               substring(pan, 5, 4) || ' ' || substring(pan, 9, 4) || ' ' ||
               substring(pan, 13, 4) AS t
        FROM card JOIN documents d ON d.doc_id = card.doc_id
    ), found AS (
        SELECT doc_id, t,
               list_filter(
                   list_transform(
                       regexp_extract_all(t, '\b(?:[0-9][ -]?){12,18}[0-9]\b'),
                       m -> regexp_replace(m, '[ -]', '', 'g')),
                   d -> len(d) >= 13 AND len(d) <= 19) AS cands
        FROM txt
    )
    SELECT doc_id,
           CAST(len(cands) AS INT) AS n_candidates,
           CAST(len(list_filter(cands,
               nr -> len(nr) >= 13
                 AND regexp_matches(nr, '^[0-9]+$')
                 AND list_sum(list_transform(generate_series(1, len(nr)),
                     i -> CASE WHEN i % 2 = 0
                          THEN CASE WHEN CAST(reverse(nr)[i] AS INT) * 2 > 9
                                    THEN CAST(reverse(nr)[i] AS INT) * 2 - 9
                                    ELSE CAST(reverse(nr)[i] AS INT) * 2 END
                          ELSE CAST(reverse(nr)[i] AS INT) END)) % 10 = 0
           )) AS INT) AS n_cards_valid,
           CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS INT) AS n_emails
    FROM found ORDER BY doc_id
    """,
)
def doc_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validated payment-card PII audit (functions/textfns.card_numbers
    / luhn_valid): candidate PAN-shaped digit runs are only COUNTED
    after clearing the Luhn mod-10 checksum — the difference between
    "16 digits appeared" and "a plausibly real card leaked", which is
    what a release gate must report. The synthetic corpus carries no
    digits, so the query plants one deterministic separator-formatted
    candidate per document (md5-derived 15-digit base + a computed
    check digit, correct for even doc_ids, off-by-one for odd), making
    the expected valid-count exactly the even half. Everything is one
    narrow JVM regexp/fold projection — no Python, no shuffle; the
    oracle re-implements candidate extraction AND the checksum
    independently in SQL. Real-world card fixtures (Visa/MC test
    numbers, separators, near-misses) are pinned in
    tests/test_textfns_pii.py."""
    from ..functions.textfns import REDACT_PATTERNS, card_numbers

    d = load_table(spark, sf_dir, "documents")
    base = F.translate(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
        "abcdef",
        "012345",
    )
    s = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(15)),
            lambda i: F.when(
                i % 2 == 1,
                F.when(
                    F.substring(base, i, 1).cast("int") * 2 > 9,
                    F.substring(base, i, 1).cast("int") * 2 - 9,
                ).otherwise(F.substring(base, i, 1).cast("int") * 2),
            ).otherwise(F.substring(base, i, 1).cast("int")),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    check = F.when(
        F.col("doc_id") % 2 == 0, (10 - s % 10) % 10
    ).otherwise(((10 - s % 10) % 10 + 1) % 10)
    pan = F.concat(base, check.cast("string"))
    synth = F.concat(
        F.col("text"),
        F.lit(" pay "),
        F.substring(pan, 1, 4),
        F.lit(" "),
        F.substring(pan, 5, 4),
        F.lit(" "),
        F.substring(pan, 9, 4),
        F.lit(" "),
        F.substring(pan, 13, 4),
    )
    t = d.select("doc_id", synth.alias("t"))
    return t.select(
        "doc_id",
        F.size(card_numbers(F.col("t"), validated=False)).alias(
            "n_candidates"
        ),
        F.size(card_numbers(F.col("t"), validated=True)).alias(
            "n_cards_valid"
        ),
        F.regexp_count(F.col("t"), F.lit(REDACT_PATTERNS["email"])).alias(
            "n_emails"
        ),
    ).orderBy("doc_id")


@register_query(
    "customers_golden_record",
    oracle="""
    WITH base AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_versions,
               max(o_orderdate) AS last_seen
        FROM orders GROUP BY o_custkey
    ), s1 AS (
        SELECT o_custkey, o_orderstatus,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderstatus DESC
               ) AS rn
        FROM orders WHERE o_orderstatus IS NOT NULL
    ), s2 AS (
        SELECT o_custkey, o_orderpriority,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderpriority DESC
               ) AS rn
        FROM orders WHERE o_orderpriority IS NOT NULL
    )
    SELECT b.o_custkey, b.n_versions, b.last_seen,
           s1.o_orderstatus, s2.o_orderpriority
    FROM base b
    LEFT JOIN s1 ON s1.o_custkey = b.o_custkey AND s1.rn = 1
    LEFT JOIN s2 ON s2.o_custkey = b.o_custkey AND s2.rn = 1
    ORDER BY b.o_custkey
    """,
)
def customers_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (operators/entity.golden_record):
    per customer, each field independently takes its most recent
    non-null value by order date (value tiebreak on equal dates so
    both engines agree) — the MDM merge rule downstream of entity
    resolution. ONE map-side-combinable aggregate (max of a
    (non-null, order, value) struct per field); the oracle replays
    each field with an independent ranked window."""
    from ..operators.entity import golden_record

    o = load_table(spark, sf_dir, "orders")
    return golden_record(
        o, "o_custkey", "o_orderdate", ["o_orderstatus", "o_orderpriority"]
    ).withColumnRenamed("o_orderdate", "last_seen").orderBy("o_custkey")


@register_query(
    "events_activity_spans",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
        FROM events
    ), flagged AS (
        SELECT user_id, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                     OR s > max(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ), isl AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM flagged
    )
    SELECT user_id, min(s) AS span_start, max(e) AS span_end,
           CAST(count(*) AS BIGINT) AS n_merged
    FROM isl GROUP BY user_id, island
    ORDER BY user_id, span_start
    """,
)
def events_activity_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing / gaps-and-islands (operators/joins.
    coalesce_intervals): each event opens a 30-minute activity window;
    overlapping windows per user merge into activity spans. Island
    witness is the running-max end over earlier intervals (lag(end)
    alone misses swallowed intervals). One key-partitioned window +
    one aggregate; the oracle replays the identical prefix logic."""
    from ..operators.joins import coalesce_intervals

    events = load_table(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    return (
        coalesce_intervals(iv, "user_id", "s", "e")
        .select(
            "user_id",
            F.col("s").alias("span_start"),
            F.col("e").alias("span_end"),
            "n_merged",
        )
        .orderBy("user_id", "span_start")
    )


@register_query(
    "part_clustering_coefficient",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem WHERE l_quantity >= 40
    ), e AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM ps a JOIN ps b ON a.o = b.o AND a.p < b.p
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) GROUP BY node
    ), tri AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT unnest([e1.u, e1.v, e2.v]) AS node
            FROM e e1 JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ) GROUP BY node
    )
    SELECT d.node, d.deg,
           coalesce(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.deg >= 2
                THEN round(2.0 * coalesce(t.n_triangles, 0)
                           / (d.deg * (d.deg - 1)), 6) END AS coefficient
    FROM deg d LEFT JOIN tri t ON t.node = d.node
    ORDER BY d.node
    """,
)
def part_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the co-purchase graph
    (operators/graph.clustering_coefficient): 2T/(d(d−1)) per part —
    the clique-ness signal over the already-hardened triangle + degree
    kernels; leaves (deg 1) read NULL, not 0. The oracle counts
    triangles by id-ordered closure (u<v<w enumerates each once) and
    rebuilds the ratio independently."""
    from ..operators.graph import clustering_coefficient

    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.filter(F.col("l_quantity") >= 40)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = ps.select(F.col("o"), F.col("p").alias("p2"))
    edges = (
        ps.join(b, "o")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return clustering_coefficient(edges).orderBy("node")


@register_query(
    "events_isotonic_calibration",
    oracle="""
    WITH scored AS (
        SELECT (event_id % 101) / 100.0 AS conf,
               CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS corr
        FROM events
    ), binned AS (
        SELECT CAST(least(floor(greatest(least(conf, 1.0), 0.0) * 100), 100)
                    AS INT) AS b,
               CAST(count(*) AS BIGINT) AS w, CAST(sum(corr) AS BIGINT) AS sy
        FROM scored GROUP BY 1
    ), pre AS (
        SELECT b, w, sy,
               sum(sy) OVER (ORDER BY b) AS ps,
               sum(w) OVER (ORDER BY b) AS pw
        FROM binned
    ), rng AS (
        -- avg over the observed-bin range [jb..kb], exact integer sums
        -- divided once (the isotonic_fit exact-sum contract)
        SELECT j.b AS jb, k.b AS kb,
               CAST(k.ps - j.ps + j.sy AS DOUBLE)
                 / CAST(k.pw - j.pw + j.w AS DOUBLE) AS avgv
        FROM pre j JOIN pre k ON j.b <= k.b
    ), inner_min AS (
        -- min_{kb >= i} avg[jb..kb] for each (jb <= i)
        SELECT r.jb, i.b AS ib, min(r.avgv) AS mn
        FROM rng r JOIN binned i ON r.jb <= i.b AND r.kb >= i.b
        GROUP BY r.jb, i.b
    ), fit AS (
        -- the max-min closed form of weighted L2 isotonic regression:
        -- fitted_i = max_{j<=i} min_{k>=i} avg[j..k]
        SELECT ib AS b, max(mn) AS v FROM inner_min GROUP BY ib
    )
    SELECT DISTINCT s.conf,
           round(coalesce(
               (SELECT f.v FROM fit f
                WHERE f.b <= least(floor(greatest(least(s.conf, 1.0), 0.0)
                                         * 100), 100)
                ORDER BY f.b DESC LIMIT 1),
               -- grid points left of the first observed bin inherit the
               -- first block (the isotonic_fit step-function contract)
               (SELECT f.v FROM fit f ORDER BY f.b LIMIT 1)), 6)
             AS calibrated
    FROM scored s ORDER BY s.conf
    """,
)
def events_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration over the same synthetic
    confidence/correctness construction as events_calibration
    (operators/evals.isotonic_fit/apply): corpus reduces to ≤101
    binned (weight, label-sum) rows, PAV pools violators on the driver
    (control-path), and the fitted step function is applied as one
    literal-array gather. Promoted from rows-only to oracle-backed in
    round 6: PAV's SEQUENTIAL pooling stays non-SQL, but its SOLUTION
    has the max-min closed form fitted_i = max_{j≤i} min_{k≥i}
    avg[j..k], which DuckDB evaluates over the ≤101 observed bins
    (≈5k ranges — constant work at any corpus size); with the fit now
    carrying exact integer sums (one division per block), both sides
    produce the same exact-rational step values. Monotonicity,
    hand-PAV parity, and the anti-monotone → global-mean property
    remain unit-tested."""
    from ..operators.evals import isotonic_apply, isotonic_fit

    events = load_table(spark, sf_dir, "events")
    scored = events.select(
        ((F.col("event_id") % 101) / 100.0).alias("conf"),
        F.when(F.col("event_id") % 3 == 0, 1.0).otherwise(0.0).alias("corr"),
    )
    model = isotonic_fit(scored, "conf", "corr", bins=100)
    return (
        isotonic_apply(scored, "conf", model)
        .select("conf", F.round("calibrated", 6).alias("calibrated"))
        .distinct()
        .orderBy("conf")
    )


# ===========================================================================
# Round 5: portable cardinality sketches, quantile sketch, bloom-pruned
# join, containment join
# ===========================================================================

def _dlit(x: float) -> str:
    """Render a python double as a DuckDB DOUBLE literal. Exponent
    notation is load-bearing: a bare decimal literal parses as DECIMAL,
    and DuckDB's DECIMAL→DOUBLE coercion goes through int128/scale
    division that can land 1 ULP off the repr() round-trip (measured on
    the HLL linear-counting table) — approximate-numeric-literal
    notation parses straight to the exact double."""
    return "%.17e" % x


def _hll_oracle_sql(p: int = 8) -> str:
    """DuckDB twin of the portable-HLL estimate: replays register index,
    rho, the exact HUGEINT denominator, the single-division estimate and
    the literal linear-counting table (operators/cardinality.py — the
    literals are generated by the SAME python expressions the engine
    ships to Spark, so both sides share them verbatim)."""
    from ..operators.cardinality import (
        HLL_RHO_CAP,
        hll_linear_counting_table,
    )

    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    num = _dlit(alpha * m * m * 2.0**HLL_RHO_CAP)
    two_cap = str(1 << HLL_RHO_CAP)
    lc = ", ".join(_dlit(x) for x in hll_linear_counting_table(p))
    return f"""
    WITH ev AS (
        SELECT DISTINCT event_type, user_id FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ), hx AS (
        SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM ev
    ), rr AS (
        SELECT event_type,
               CAST(('0x' || substring(h, 1, 2)) AS INT) AS register,
               regexp_replace(substring(h, 3, 30), '^0+', '') AS st
        FROM hx
    ), rho0 AS (
        SELECT event_type, register,
               least(CASE WHEN length(st) = 0 THEN 121
                    ELSE (30 - length(st)) * 4
                         + CASE WHEN substring(st, 1, 1) = '1' THEN 3
                                WHEN substring(st, 1, 1) IN ('2','3') THEN 2
                                WHEN substring(st, 1, 1) IN ('4','5','6','7')
                                     THEN 1
                                ELSE 0 END + 1 END, {HLL_RHO_CAP}) AS rho
        FROM rr
    ), regs AS (
        SELECT event_type, register, max(rho) AS rho
        FROM rho0 GROUP BY event_type, register
    ), agg AS (
        SELECT event_type, count(*) AS nreg,
               sum(CAST(power(2.0, {HLL_RHO_CAP} - rho) AS HUGEINT)) AS den0
        FROM regs GROUP BY event_type
    ), est AS (
        SELECT event_type,
               CASE WHEN ({m} - nreg) > 0
                         AND {num} / CAST(den0 + ({m} - nreg)
                             * CAST('{two_cap}' AS HUGEINT) AS DOUBLE)
                             <= {_dlit(2.5 * m)}
                    THEN ([{lc}])[greatest({m} - nreg, 1)]
                    ELSE {num} / CAST(den0 + ({m} - nreg)
                         * CAST('{two_cap}' AS HUGEINT) AS DOUBLE)
               END AS est_users
        FROM agg
    ), exact AS (
        SELECT event_type, count(DISTINCT user_id) AS exact_users
        FROM ev GROUP BY event_type
    )
    SELECT e.event_type, e.exact_users, s.est_users
    FROM exact e JOIN est s USING (event_type)
    ORDER BY event_type
    """


@register_query("events_hll_user_reach", oracle=_hll_oracle_sql())
def events_hll_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-user estimate per event type
    (operators/cardinality.hll_registers/merge/estimate) next to the
    exact count. The engine deliberately takes the MERGE path — daily
    register tables max-merged into per-type registers — which equals
    the direct build EXACTLY (register max is integer and associative),
    so the hash-verified result also certifies mergeability: the
    cross-day/cross-shard rollup a 100 TB telemetry pipeline runs.
    State: 256 registers per (type, day) out of any row count; the
    estimate is literal ÷ exact-HUGEINT — bit-equal across engines
    with no rounding step (module docstring has the full ledger)."""
    from ..operators.cardinality import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
    )
    daily = hll_registers(
        ev.withColumn("day", F.to_date("ts")),
        "user_id",
        ["event_type", "day"],
        p=8,
    )
    regs = hll_merge(daily.select("event_type", "register", "rho"))
    est = hll_estimate(regs, ["event_type"], p=8)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "exact_users",
            F.col("est_distinct").alias("est_users"),
        )
        .orderBy("event_type")
    )


def _kmv_oracle_sql(k: int = 64) -> str:
    """DuckDB twin of the KMV pair-overlap estimates: identical 52-bit
    md5-prefix hashes, identical order statistics, identical single-
    division estimators (operators/cardinality.py)."""
    from ..operators.cardinality import KMV_HASH_BITS

    unit = _dlit(float(1 << KMV_HASH_BITS))
    ku = _dlit(float((k - 1) * (1 << KMV_HASH_BITS)))
    return f"""
    WITH ev AS (
        SELECT DISTINCT event_type, user_id FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ), hh AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13))
                    AS BIGINT) AS h
        FROM ev
    ), sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS rn
            FROM hh) WHERE rn <= {k}
    ), gs AS (
        SELECT DISTINCT event_type FROM sk
    ), pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb
        FROM gs a, gs b WHERE a.event_type < b.event_type
    ), merged AS (
        SELECT DISTINCT ta, tb, h FROM (
            SELECT p.ta, p.tb, s.h FROM pairs p
            JOIN sk s ON s.event_type = p.ta
            UNION ALL
            SELECT p.ta, p.tb, s.h FROM pairs p
            JOIN sk s ON s.event_type = p.tb)
    ), stats AS (
        SELECT ta, tb, count(*) AS mk,
               max(CASE WHEN rn = {k} THEN h END) AS theta
        FROM (SELECT ta, tb, h,
                     row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
              FROM merged)
        GROUP BY ta, tb
    ), common AS (
        SELECT p.ta, p.tb, a.h FROM pairs p
        JOIN sk a ON a.event_type = p.ta
        JOIN sk b ON b.event_type = p.tb AND b.h = a.h
    ), cstats AS (
        SELECT c.ta, c.tb, count(*) AS cm,
               sum(CASE WHEN s.theta IS NOT NULL AND c.h < s.theta
                        THEN 1 ELSE 0 END) AS below
        FROM common c JOIN stats s ON s.ta = c.ta AND s.tb = c.tb
        GROUP BY c.ta, c.tb
    ), est AS (
        SELECT s.ta, s.tb,
               CASE WHEN s.mk < {k} THEN CAST(s.mk AS DOUBLE)
                    ELSE {ku} / CAST(s.theta AS DOUBLE) END AS est_union,
               CASE WHEN s.mk < {k} THEN CAST(coalesce(c.cm, 0) AS DOUBLE)
                    ELSE CAST(coalesce(c.below, 0) AS DOUBLE)
                         * ({unit} / CAST(s.theta AS DOUBLE))
               END AS est_inter
        FROM stats s LEFT JOIN cstats c ON c.ta = s.ta AND c.tb = s.tb
    ), tc AS (
        SELECT event_type, count(DISTINCT user_id) AS c
        FROM ev GROUP BY event_type
    ), ei AS (
        SELECT p.ta, p.tb, count(*) AS inter FROM pairs p
        JOIN ev a ON a.event_type = p.ta
        JOIN ev b ON b.event_type = p.tb AND b.user_id = a.user_id
        GROUP BY p.ta, p.tb
    )
    SELECT p.ta AS type_a, p.tb AS type_b,
           ca.c + cb.c - coalesce(ei.inter, 0) AS exact_union,
           coalesce(ei.inter, 0) AS exact_inter,
           e.est_union, e.est_inter
    FROM pairs p
    JOIN tc ca ON ca.event_type = p.ta
    JOIN tc cb ON cb.event_type = p.tb
    LEFT JOIN ei ON ei.ta = p.ta AND ei.tb = p.tb
    JOIN est e ON e.ta = p.ta AND e.tb = p.tb
    ORDER BY type_a, type_b
    """


@register_query("events_kmv_type_overlap", oracle=_kmv_oracle_sql())
def events_kmv_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-sketch set algebra over event types
    (operators/cardinality.kmv_sketch/kmv_pair_overlap): union and
    intersection distinct-user estimates for every type pair FROM THE
    SKETCHES ALONE (k = 64 smallest 52-bit hashes per type), laid next
    to the exact answers — the "how much do these corpora overlap"
    probe dedup pipelines run before paying for an exact join. Sketch
    state is ≤ k longs per group regardless of corpus size; the pair
    stage fans out by type PAIR (dimension-bounded), never by rows;
    every estimate is one IEEE division over exactly-representable
    operands, hence hash-verified against the SQL replay."""
    from ..operators.cardinality import kmv_pair_overlap, kmv_sketch

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
    )
    sk = kmv_sketch(ev, "user_id", ["event_type"], k=64)
    est = kmv_pair_overlap(sk, "event_type", k=64).select(
        F.col("group_a").alias("type_a"),
        F.col("group_b").alias("type_b"),
        "est_union",
        "est_inter",
    )
    ut = ev.select("event_type", "user_id").distinct()
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ut.select(F.col("event_type").alias("type_a"), "user_id")
    b = ut.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    gs = tc.select(F.col("event_type").alias("t"))
    pairs = gs.select(F.col("t").alias("type_a")).join(
        gs.select(F.col("t").alias("type_b")),
        F.col("type_a") < F.col("type_b"),
    )
    ca = tc.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    cb = tc.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        pairs.join(ca, "type_a")
        .join(cb, "type_b")
        .join(inter, ["type_a", "type_b"], "left")
        .withColumn("exact_inter", F.coalesce("exact_inter", F.lit(0)))
        .withColumn(
            "exact_union", F.col("ca") + F.col("cb") - F.col("exact_inter")
        )
        .join(est, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_union",
            "exact_inter",
            "est_union",
            "est_inter",
        )
        .orderBy("type_a", "type_b")
    )


def _ddsketch_params() -> tuple[list[float], list[float], list[float]]:
    """Shared literals for engine + oracle: γ = 1.05 boundaries covering
    l_extendedprice's [900, 110000] envelope (≈ 2.4 % max relative
    error), their midpoints, and the probed quantiles."""
    from ..operators.quantile_sketch import (
        bucket_midpoints,
        log_bucket_boundaries,
    )

    bounds = log_bucket_boundaries(900.0, 110000.0, 1.05)
    return bounds, bucket_midpoints(bounds), [0.5, 0.9, 0.99]


def _ddsketch_oracle_sql() -> str:
    bounds, mids, qs = _ddsketch_params()
    blist = ", ".join(_dlit(b) for b in bounds)
    mlist = ", ".join(_dlit(m) for m in mids)
    qvals = ", ".join(f"(CAST({q} AS DOUBLE))" for q in qs)
    return f"""
    WITH v AS (
        SELECT l_returnflag, l_extendedprice AS x FROM lineitem
        WHERE l_extendedprice IS NOT NULL
    ), bk AS (
        SELECT l_returnflag,
               len(list_filter([{blist}], t -> x >= t))
                   AS bucket
        FROM v
    ), hist AS (
        SELECT l_returnflag, bucket, count(*) AS cnt
        FROM bk GROUP BY l_returnflag, bucket
    ), cum AS (
        SELECT l_returnflag, bucket, cnt,
               sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket)
                   AS cum,
               sum(cnt) OVER (PARTITION BY l_returnflag) AS n
        FROM hist
    ), qq AS (
        SELECT * FROM cum, (VALUES {qvals}) qs(q)
    ), hit AS (
        SELECT l_returnflag, q, min(bucket) AS bucket, max(n) AS n
        FROM qq WHERE cum >= ceil(q * n) GROUP BY l_returnflag, q
    ), est AS (
        SELECT l_returnflag, q, n,
               ([{mlist}])[bucket + 1] AS est_price
        FROM hit
    ), r AS (
        SELECT l_returnflag, x,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY x) AS rn
        FROM v
    )
    SELECT e.l_returnflag, e.q, CAST(e.n AS BIGINT) AS n, e.est_price,
           r.x AS exact_price
    FROM est e JOIN r ON r.l_returnflag = e.l_returnflag
                     AND r.rn = ceil(e.q * e.n)
    ORDER BY e.l_returnflag, e.q
    """


@register_query("lineitem_price_ddsketch", oracle=_ddsketch_oracle_sql())
def lineitem_price_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-bucket quantile sketch (operators/quantile_sketch —
    the DDSketch idea with driver-literal boundaries so the bucket
    function is a pure comparison fold, bit-equal in any engine):
    p50/p90/p99 of l_extendedprice per return flag answered from
    ≤ B ≈ 100 counts per group, next to the exact nearest-rank value
    (the exact side is the verification readout, same convention as
    orders_join_size_estimate — a real deployment keeps only the
    sketch). Histogram build is one map-side-combinable agg; everything
    after runs on ≤ B rows per group. Estimates are shared literals —
    hash-safe by construction."""
    from ..operators.quantile_sketch import (
        histogram_quantiles,
        log_bucket_histogram,
    )

    bounds, _mids, qs = _ddsketch_params()
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    hist = log_bucket_histogram(li, "l_extendedprice", ["l_returnflag"], bounds)
    est = histogram_quantiles(hist, ["l_returnflag"], bounds, qs)
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select("l_returnflag", "l_extendedprice").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        est.join(
            ranked,
            (est.l_returnflag == ranked.l_returnflag)
            & (ranked.rn == F.ceil(est.q * est.n)),
        )
        .select(
            est.l_returnflag,
            "q",
            "n",
            F.col("est").alias("est_price"),
            F.col("l_extendedprice").alias("exact_price"),
        )
        .orderBy("l_returnflag", "q")
    )


@register_query(
    "orders_bloom_prejoin",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_price
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM customer c
        WHERE c.c_custkey = o.o_custkey
          AND c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 7000
    )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def orders_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join (functions/bloom.bloom_prefiltered_semi_
    join — explicit dynamic filtering): order volume for a selective
    customer slice, with the probe side pre-filtered by a broadcast
    Bloom of the build keys BEFORE any shuffle, so only matches + the
    ~1 % false-positive sliver pay join cost. The result is exactly
    the semi-join (the oracle's EXISTS) — the filter moves cost, never
    rows. At 100 TB this is the difference between shuffling the fact
    table and shuffling its qualifying slice. Money sums ride the
    exact-DECIMAL discipline."""
    from ..functions.bloom import bloom_prefiltered_semi_join

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("c_acctbal") > 7000)
        )
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    orders = load_table(spark, sf_dir, "orders")
    hit = bloom_prefiltered_semi_join(orders, cust, "o_custkey")
    return (
        hit.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast(_DEC)).cast("double"), 2
            ).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@register_query(
    "doc_containment_join",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(
                       regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                       ' '),
                   x -> x <> '') AS t
        FROM documents
    ), t AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' '))) END AS s
        FROM toks
    )
    , jidx AS MATERIALIZED (
        -- inverted-index form, DIRECTED (r9): c is symmetric per pair,
        -- the denominator is the contained side's set size; shingle
        -- lists are never empty (sub-k docs carry the whole-text
        -- shingle), so the old len(a.s) >= 1 guard is vacuous
        SELECT doc_id, len(s) AS n, unnest(s) AS g FROM t
    )
    SELECT id_a, id_b, containment FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(count(*) * 1.0 / min(a.n), 6) AS containment,
               count(*) * 1.0 / min(a.n) AS raw_c
        FROM jidx a JOIN jidx b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ) WHERE raw_c >= 0.8
    ORDER BY id_a, id_b
    """,
)
def doc_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT directed containment θ-join (operators/dedup.containment_
    join): ordered pairs where ≥ 80 % of a's 3-gram shingles appear in
    b — the doc-in-doc predicate (quotes, boilerplate wrappers) that
    symmetric Jaccard structurally misses. Candidates come only from
    the contained side's rarest-first prefix against the (capped)
    token index plus the |Sb| ≥ ⌈θ|Sa|⌉ size filter; exact-duplicate
    sets collapse to representatives before pairing. The quadratic
    form exists only in the oracle."""
    from ..operators.dedup import containment_join

    docs = load_table(spark, sf_dir, "documents")
    return containment_join(docs, threshold=0.8, k=3).orderBy(
        "id_a", "id_b"
    )


def _cusum_oracle_sql() -> str:
    """DuckDB twin of the integer-CUSUM replay (operators/drift.
    cusum_changepoints): same quantize/shift/div mean, same baseline
    stats, same prefix-sum/prefix-min closed form."""
    shift = 10**12
    return f"""
    WITH v AS (
        SELECT event_type, CAST(ts AS DATE) AS period,
               CAST(floor(value * 1e6) AS BIGINT) + {shift} AS vv
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), per AS (
        SELECT event_type, period,
               CAST(sum(CAST(vv AS HUGEINT)) // count(*) AS BIGINT)
                   - {shift} AS m
        FROM v GROUP BY event_type, period
    ), r AS (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY period) AS rn
        FROM per
    ), base AS (
        SELECT event_type, count(*) AS bn,
               sum(CAST(m AS HUGEINT) + {shift}) AS bs_shift,
               sum(CAST(m AS HUGEINT)) AS bs,
               sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS bss
        FROM r WHERE rn <= 14 GROUP BY event_type
        HAVING count(*) >= 14
    ), b2 AS (
        SELECT event_type,
               CAST(bs_shift // bn AS BIGINT) - {shift} AS mu0,
               sqrt(greatest(
                   (CAST(bss AS DOUBLE)
                    - (CAST(bs AS DOUBLE) * CAST(bs AS DOUBLE)) / bn) / bn,
                   0.0)) AS sigma0
        FROM base
    ), j AS (
        SELECT r.event_type, r.period, r.m, b2.mu0, b2.sigma0,
               CAST(floor(0.5 * b2.sigma0) AS BIGINT) AS ks
        FROM r JOIN b2 USING (event_type)
    ), p AS (
        SELECT *,
               sum(m - mu0 - ks) OVER w AS pp,
               sum(-(m - mu0) - ks) OVER w AS pn
        FROM j WINDOW w AS (PARTITION BY event_type ORDER BY period
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
    ), s AS (
        SELECT *,
               least(0, min(pp) OVER w) AS mp,
               least(0, min(pn) OVER w) AS mn
        FROM p WINDOW w AS (PARTITION BY event_type ORDER BY period
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
    )
    SELECT event_type, strftime(period, '%Y-%m-%d') AS day,
           CAST(m AS DOUBLE) / 1e6 AS mean_val,
           CASE WHEN sigma0 > 0 THEN (pp - mp) / sigma0 END AS s_pos,
           CASE WHEN sigma0 > 0 THEN (pn - mn) / sigma0 END AS s_neg,
           CASE WHEN sigma0 > 0 THEN
               ((pp - mp) / sigma0 > 4.0 OR (pn - mn) / sigma0 > 4.0)
           END AS alarm
    FROM s ORDER BY event_type, day
    """


@register_query("events_cusum_changepoint", oracle=_cusum_oracle_sql())
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint monitor over daily per-type means
    (operators/drift.cusum_changepoints — Page 1954): the sequential
    statistic that catches sub-σ mean drifts the pointwise z-score
    monitors (events_daily_anomaly family) structurally miss. The
    reset-at-zero recursion runs as its prefix-sum − prefix-min closed
    form — two window passes, zero Python, integer arithmetic end to
    end (quantized values, shift-and-div exact means), so the whole
    alarm series is bit-equal to the SQL replay."""
    from ..operators.drift import cusum_changepoints

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .withColumn("day", F.to_date("ts"))
    )
    cc = cusum_changepoints(
        ev,
        "day",
        "value",
        group_cols=["event_type"],
        baseline_periods=14,
        k_sigmas=0.5,
        h_sigmas=4.0,
        quantize_scale=6,
    )
    return cc.select(
        "event_type",
        F.date_format("period", "yyyy-MM-dd").alias("day"),
        "mean_val",
        "s_pos",
        "s_neg",
        "alarm",
    ).orderBy("event_type", "day")


def _ddsketch_incremental_oracle_sql() -> str:
    """The streaming accumulator's whole-history quantiles equal a
    direct single-pass sketch (per-bucket addition is exact), so the
    oracle is simply the direct histogram replay — replay order cannot
    change a count."""
    bounds, mids, qs = _ddsketch_params()
    blist = ", ".join(_dlit(b) for b in bounds)
    mlist = ", ".join(_dlit(m) for m in mids)
    qvals = ", ".join(f"(CAST({q} AS DOUBLE))" for q in qs)
    return f"""
    WITH v AS (
        SELECT l_returnflag, l_extendedprice AS x FROM lineitem
        WHERE l_extendedprice IS NOT NULL
    ), bk AS (
        SELECT l_returnflag,
               len(list_filter([{blist}], t -> x >= t)) AS bucket
        FROM v
    ), hist AS (
        SELECT l_returnflag, bucket, count(*) AS cnt
        FROM bk GROUP BY l_returnflag, bucket
    ), cum AS (
        SELECT l_returnflag, bucket, cnt,
               sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket)
                   AS cum,
               sum(cnt) OVER (PARTITION BY l_returnflag) AS n
        FROM hist
    ), qq AS (
        SELECT * FROM cum, (VALUES {qvals}) qs(q)
    ), hit AS (
        SELECT l_returnflag, q, min(bucket) AS bucket, max(n) AS n
        FROM qq WHERE cum >= ceil(q * n) GROUP BY l_returnflag, q
    )
    SELECT l_returnflag, q, CAST(n AS BIGINT) AS n,
           ([{mlist}])[bucket + 1] AS est_price
    FROM hit ORDER BY l_returnflag, q
    """


@register_query(
    "lineitem_ddsketch_incremental",
    oracle=_ddsketch_incremental_oracle_sql(),
)
def lineitem_ddsketch_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-run quantile accumulation (streaming/quantile_stream):
    lineitem arrives as three batches (l_orderkey mod 3 — the
    incremental-ingest stand-in), each folding its ≤B-row histogram
    delta into a batch-partitioned parquet store with the
    crash-replay-safe overwrite contract of `cms_stream`; p50/p90/p99
    are then answered from the merged store. Histogram linearity makes
    the merged answer IDENTICAL to a direct single-pass sketch — which
    is exactly what the oracle computes, so the equality is
    hash-verified, not asserted. The streaming wrapper
    (`run_histogram_stream`) drives the same `histogram_batch_update`
    from foreachBatch; unit tests cover the stream path."""
    import shutil
    import tempfile

    from ..operators.quantile_sketch import histogram_quantiles
    from ..streaming.quantile_stream import (
        histogram_batch_update,
        histogram_store,
    )

    bounds, _mids, qs = _ddsketch_params()
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    store = tempfile.mkdtemp(prefix="ddsketch_store_")
    shutil.rmtree(store, ignore_errors=True)
    for b in range(3):
        histogram_batch_update(
            li.filter(F.col("l_orderkey") % 3 == b),
            b,
            store_dir=store,
            val_col="l_extendedprice",
            group_cols=["l_returnflag"],
            boundaries=bounds,
        )
    merged = histogram_store(spark, store, ["l_returnflag"])
    return histogram_quantiles(merged, ["l_returnflag"], bounds, qs).select(
        "l_returnflag",
        "q",
        "n",
        F.col("est").alias("est_price"),
    ).orderBy("l_returnflag", "q")


@register_query(
    "doc_curation_audit",
    oracle=r"""
    WITH lab AS (
        SELECT doc_id,
               CASE
                 WHEN NOT coalesce(length(text) >= 200, FALSE)
                   THEN 'min_length'
                 WHEN NOT coalesce(len(list_filter(string_split_regex(
                          regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                          ' '), x -> x <> '')) >= 30, FALSE)
                   THEN 'min_words'
                 WHEN NOT coalesce(length(replace(text, ' ', '')) * 1.0
                          / len(list_filter(string_split_regex(
                            regexp_replace(trim(lower(text)), '\s+', ' ',
                                           'g'), ' '), x -> x <> ''))
                          <= 12.0, FALSE)
                   THEN 'max_mean_word_len'
                 WHEN NOT coalesce(doc_id = min(doc_id) OVER (
                          PARTITION BY md5(text)), FALSE)
                   THEN 'exact_dup'
                 ELSE '__kept__'
               END AS stage
        FROM documents
    ), hist AS (
        SELECT stage, count(*) AS n_removed FROM lab GROUP BY stage
    ), ord AS (
        SELECT * FROM (VALUES
            (0, 'min_length'), (1, 'min_words'),
            (2, 'max_mean_word_len'), (3, 'exact_dup')
        ) AS t(stage_idx, stage)
    ), tot AS (SELECT sum(n_removed) AS total FROM hist)
    SELECT o.stage_idx, o.stage,
           CAST(t.total - sum(coalesce(h.n_removed, 0)) OVER w
                + coalesce(h.n_removed, 0) AS BIGINT) AS n_in,
           CAST(coalesce(h.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(t.total - sum(coalesce(h.n_removed, 0)) OVER w
                AS BIGINT) AS n_out
    FROM ord o LEFT JOIN hist h ON h.stage = o.stage CROSS JOIN tot t
    WINDOW w AS (ORDER BY o.stage_idx ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    ORDER BY o.stage_idx
    """,
)
def doc_curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan curation funnel accounting
    (operators/quality_checks.curation_audit): four ordered keep-rules
    (length ≥ 200 chars, ≥ 30 words, mean word length ≤ 12, not an
    exact duplicate) with first-fail attribution — the provenance
    report a corpus curation run owes its consumers, at the cost of
    ONE scan + a 4-row aggregate instead of one recount per stage.
    The dup rule shows a stage predicate can carry its own window
    (md5 keep-min, the exact_dedup kernel) and still ride the same
    single label pass."""
    from pyspark.sql import Window

    from ..functions.textfns import whitespace_tokens
    from ..operators.quality_checks import curation_audit

    docs = load_table(spark, sf_dir, "documents")
    words = F.size(whitespace_tokens(F.lower(F.col("text"))))
    keep_min = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy(F.md5("text"))
    )
    labeled = docs.select(
        "doc_id",
        "text",
        words.alias("__words"),
        keep_min.alias("__first_of_dup_group"),
    )
    stages = [
        ("min_length", F.length("text") >= 200),
        ("min_words", F.col("__words") >= 30),
        (
            "max_mean_word_len",
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            / F.col("__words")
            <= 12.0,
        ),
        ("exact_dup", F.col("__first_of_dup_group")),
    ]
    return curation_audit(labeled, stages)


def _hll_incremental_oracle_sql() -> str:
    """Register max-merge is EXACT, so the store-backed estimate equals
    the direct single-pass estimate — the oracle is the direct replay
    (per event_type over the full table), and the gate hash-verifies
    the merge-equality rather than asserting it."""
    sql = _hll_oracle_sql()
    # same replay, distinct-count column dropped: the store carries only
    # registers, so the incremental read-out is estimate-only
    return sql.replace(
        """, exact AS (
        SELECT event_type, count(DISTINCT user_id) AS exact_users
        FROM ev GROUP BY event_type
    )
    SELECT e.event_type, e.exact_users, s.est_users
    FROM exact e JOIN est s USING (event_type)
    ORDER BY event_type
    """,
        """
    SELECT event_type, est_users FROM est ORDER BY event_type
    """,
    )


@register_query(
    "events_hll_incremental", oracle=_hll_incremental_oracle_sql()
)
def events_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run distinct-user accumulation (streaming/hll_stream — the
    cardinality member of the sketch-store triple next to cms_stream
    and quantile_stream): events arrive as three batches (event_id mod
    3), each folding ≤2^p register rows per type into a batch-
    partitioned store with the crash-replay-safe overwrite contract;
    reach is answered from the max-merged store. Register max-merge is
    EXACT — the merged estimate is bit-identical to a single-pass build
    over everything, which is precisely what the oracle computes, so
    the equality is hash-verified. `run_hll_stream` drives the same
    update from foreachBatch; unit tests cover the stream path."""
    import shutil
    import tempfile

    from ..streaming.hll_stream import hll_batch_update, hll_store_estimate

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
    )
    store = tempfile.mkdtemp(prefix="hll_store_")
    shutil.rmtree(store, ignore_errors=True)
    for b in range(3):
        hll_batch_update(
            ev.filter(F.col("event_id") % 3 == b),
            b,
            store_dir=store,
            key_col="user_id",
            group_cols=["event_type"],
            p=8,
        )
    return (
        hll_store_estimate(spark, store, ["event_type"], p=8)
        .select("event_type", F.col("est_distinct").alias("est_users"))
        .orderBy("event_type")
    )


# ===========================================================================
# Round-5b wave: survival / forensics / market-basket / forecasting
# ===========================================================================

@register_query(
    "orders_kaplan_meier",
    oracle="""
    WITH RECURSIVE o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
        FROM orders
    ), nxt AS (
        SELECT d,
               lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
                 AS nd
        FROM o
    ), subj AS (
        SELECT CASE WHEN nd IS NOT NULL THEN date_diff('day', d, nd)
                    ELSE date_diff('day', d, (SELECT max(d) FROM o))
               END AS duration,
               CASE WHEN nd IS NOT NULL THEN 1 ELSE 0 END AS observed
        FROM nxt
    ), life AS (
        SELECT duration AS t_day, CAST(sum(observed) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS leaving
        FROM subj GROUP BY duration
    ), risk AS (
        SELECT t_day, d,
               (SELECT count(*) FROM subj)
                 - coalesce(sum(leaving) OVER (ORDER BY t_day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
        FROM life
    ), ev AS (
        SELECT CAST(t_day AS INT) AS t_day, CAST(n_risk AS BIGINT) AS n_risk,
               d, row_number() OVER (ORDER BY t_day) AS rn
        FROM risk WHERE d > 0
    ), rec AS (
        SELECT rn, t_day, n_risk, d,
               CAST(1000000000000 AS HUGEINT) * (n_risk - d) // n_risk AS s,
               CAST(d AS HUGEINT) * 1000000000000 // n_risk AS h
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.rn, e.t_day, e.n_risk, e.d,
               r.s * (e.n_risk - e.d) // e.n_risk,
               r.h + CAST(e.d AS HUGEINT) * 1000000000000 // e.n_risk
        FROM ev e JOIN rec r ON e.rn = r.rn + 1
    )
    SELECT t_day, n_risk, d, CAST(s AS BIGINT) AS survival_q,
           CAST(h AS BIGINT) AS hazard_q
    FROM rec ORDER BY t_day
    """,
)
def orders_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase survival curve (operators/survival): each order is
    a subject whose duration is days until the same customer's NEXT
    order (observed) or until the corpus horizon (right-censored).
    Kaplan-Meier survival and Nelson-Aalen hazard come out as
    scale-10^12 exact-integer folds over the life table — the table is
    bounded by the corpus DAY-SPAN, so the sequential K-M product is a
    driver fold over <=10^4 rows (the pca.py bounded-state contract)
    while the subject reduction stays distributed. The oracle replays
    the identical integer recurrence with a recursive CTE on HUGEINTs."""
    from ..operators.survival import kaplan_meier, subject_durations

    orders = load_table(spark, sf_dir, "orders")
    subj = subject_durations(
        orders, key="o_custkey", date_col="o_orderdate", tiebreak="o_orderkey"
    )
    return kaplan_meier(subj)


@register_query(
    "lineitem_benford_audit",
    oracle="""
    WITH digits AS (
        SELECT CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                                   AS VARCHAR), 1, 1) AS INT) AS digit
        FROM lineitem WHERE floor(l_extendedprice) >= 1
    ), counts AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
        FROM digits GROUP BY digit
    ), expected(digit, expected_ppm) AS (
        VALUES (1, CAST(301030 AS BIGINT)), (2, 176091), (3, 124939),
               (4, 96910), (5, 79181), (6, 66947), (7, 57992),
               (8, 51153), (9, 45757)
    )
    SELECT e.digit, coalesce(c.n_obs, 0) AS n_obs,
           coalesce(c.n_obs, 0) * 1000000
             // (SELECT count(*) FROM digits) AS obs_ppm,
           e.expected_ppm,
           coalesce(c.n_obs, 0) * 1000000
             // (SELECT count(*) FROM digits) - e.expected_ppm AS dev_ppm
    FROM expected e LEFT JOIN counts c USING (digit)
    ORDER BY e.digit
    """,
)
def lineitem_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit Benford audit of extended prices
    (operators/profile.benford_report) — the fabricated-data forensic.
    First digits come from the BIGINT string head (no log10 in-engine);
    expectations are the nine log10(1+1/d) ppm literals shared verbatim
    with the oracle; every output column is an exact integer. Scale:
    one scan + a 9-row map-side-combinable aggregate."""
    from ..operators.profile import benford_report

    li = load_table(spark, sf_dir, "lineitem")
    return benford_report(li, "l_extendedprice")


@register_query(
    "orders_market_basket",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ), cnt AS (
        SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY i
    ), pairs AS (
        SELECT a.i AS item_a, b.i AS item_b,
               CAST(count(*) AS BIGINT) AS support_n
        FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM items)
    SELECT item_a, item_b, support_n,
           support_n * 1000000 // ca.cnt AS conf_ab_ppm,
           support_n * 1000000 // cb.cnt AS conf_ba_ppm,
           support_n * (SELECT n FROM nb) * 1000000
             // (ca.cnt * cb.cnt) AS lift_ppm
    FROM pairs JOIN cnt ca ON ca.i = item_a JOIN cnt cb ON cb.i = item_b
    ORDER BY support_n DESC, lift_ppm DESC, item_a, item_b LIMIT 20
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (operators/basket
    .association_rules): top-20 co-purchased part pairs with integer-ppm
    confidence (both directions) and lift, min support 2. Pair fan-out
    is C(k,2) per basket — linear in baskets for TPC-H's bounded basket
    size, with a logged max_basket=100 guard for degenerate containers
    (no basket here comes near it, so the oracle needs no cap). All
    scores use integer `div`, never IEEE division."""
    from ..operators.basket import association_rules

    li = load_table(spark, sf_dir, "lineitem")
    return association_rules(
        li, basket_col="l_orderkey", item_col="l_partkey",
        min_support=2, top_k=20,
    )


@register_query(
    "events_ewma_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), lagged AS (
        SELECT g, cnt,
               lag(cnt, 1) OVER w AS l1, lag(cnt, 2) OVER w AS l2,
               lag(cnt, 3) OVER w AS l3, lag(cnt, 4) OVER w AS l4,
               lag(cnt, 5) OVER w AS l5, lag(cnt, 6) OVER w AS l6,
               lag(cnt, 7) OVER w AS l7, lag(cnt, 8) OVER w AS l8
        FROM daily WINDOW w AS (PARTITION BY g ORDER BY day)
    ), scored AS (
        SELECT g, cnt,
               (l1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL
                AND l4 IS NOT NULL AND l5 IS NOT NULL AND l6 IS NOT NULL
                AND l7 IS NOT NULL AND l8 IS NOT NULL) AS ok,
               abs(255 * cnt - (coalesce(l1,0)*128 + coalesce(l2,0)*64
                 + coalesce(l3,0)*32 + coalesce(l4,0)*16 + coalesce(l5,0)*8
                 + coalesce(l6,0)*4 + coalesce(l7,0)*2 + coalesce(l8,0)))
                 AS err_num
        FROM lagged
    )
    SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_forecasts,
           CAST(1000000 * sum(CASE WHEN ok THEN err_num ELSE 0 END)
             // (255 * sum(CASE WHEN ok THEN 1 ELSE 0 END)) AS BIGINT)
             AS mae_ppm
    FROM scored GROUP BY g
    HAVING sum(CASE WHEN ok THEN 1 ELSE 0 END) > 0
    ORDER BY event_type
    """,
)
def events_ewma_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward forecast backtest (operators/forecast.ewma_backtest):
    per event type, the dyadic-weight (alpha=1/2, 8-lag) EWMA one-step
    forecast of daily volume, scored as integer-ppm MAE with the weighted
    sums held as exact integer numerators over the constant 255
    denominator — the predictability readout behind volume alerting.
    Scale: (type, day) aggregate (dimension-bounded) + one 8-lag window
    per type; no float anywhere."""
    from ..operators.forecast import ewma_backtest

    ev = load_table(spark, sf_dir, "events")
    return (
        ewma_backtest(ev, group_col="event_type", ts_col="ts", window=8)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")
    )


@register_query(
    "part_link_prediction",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem WHERE l_quantity >= 40
    ), e AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM ps a JOIN ps b ON a.o = b.o AND a.p < b.p
    ), adj AS (
        SELECT u AS w, v AS n FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
        SELECT w, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY w
    ), centers AS (
        SELECT w, 1000000000 // deg AS term FROM deg WHERE deg <= 10000
    ), wedges AS (
        SELECT a1.n AS u, a2.n AS v, c.term
        FROM adj a1 JOIN centers c ON a1.w = c.w JOIN adj a2 ON a2.w = a1.w
        WHERE a1.n < a2.n
    ), scored AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors,
               CAST(sum(term) AS BIGINT) AS ra_q
        FROM wedges GROUP BY u, v
    )
    SELECT u AS item_a, v AS item_b, common_neighbors, ra_q
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = s.u AND e.v = s.v)
    ORDER BY ra_q DESC, item_a, item_b LIMIT 20
    """,
)
def part_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (operators/basket
    .ra_link_prediction) on the sparse quantity>=40 co-purchase graph
    (the part_copurchase_triangles edge convention — per-order fan-out
    ~1, so degrees stay O(1) as data scales): top-20 NON-adjacent part
    pairs by RA score, each common neighbor contributing the exact
    integer 10^9 // deg(w). RA's 1/deg is rational, so no ln and no
    float — the Adamic-Adar variant could not hash-verify cross-engine.
    Hub cap max_degree=10000 bounds wedge fan-out (logged convention)."""
    from ..operators.basket import ra_link_prediction

    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.filter(F.col("l_quantity") >= 40)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = ps.select(F.col("o"), F.col("p").alias("p2"))
    edges = (
        ps.join(b, "o")
        .filter(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return ra_link_prediction(edges, max_degree=10_000, top_k=20)


@register_query(
    "customer_rfm_segments",
    oracle="""
    WITH pc AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
                 AS recency,
               count(*) AS freq,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders GROUP BY o_custkey
    ), n AS (SELECT count(*) AS n FROM pc), q AS (
        SELECT (row_number() OVER (ORDER BY recency, o_custkey) - 1)
                 * 5 // (SELECT n FROM n) + 1 AS r_q,
               (row_number() OVER (ORDER BY freq DESC, o_custkey) - 1)
                 * 5 // (SELECT n FROM n) + 1 AS f_q,
               (row_number() OVER (ORDER BY monetary DESC, o_custkey) - 1)
                 * 5 // (SELECT n FROM n) + 1 AS m_q,
               monetary
        FROM pc
    )
    SELECT CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(monetary) AS DOUBLE), 2) AS sum_monetary
    FROM q GROUP BY 1 ORDER BY 1
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quintile customers by Recency (days since last
    order vs corpus horizon, ascending — recent=1), Frequency (order
    count, descending — frequent=1) and Monetary (exact DECIMAL spend,
    descending), then report segment sizes and exact spend totals.
    Quintiles come from EXACT DISTRIBUTED ranks
    (functions/partitioning.distributed_rank: range-repartition +
    per-partition row_number + broadcast offset fold — no
    single-partition global sort; the 10x sweep measured the earlier
    global-ntile version at 11.75x, this one scales with partitions)
    with full (metric, custkey) tiebreaks, mapped to buckets by the
    shared (rank-1)*5 div n + 1 formula the oracle replays with
    row_number; monetary sums ride DECIMAL(18,2) (the registry's money
    discipline)."""
    from ..functions.partitioning import distributed_rank

    orders = load_table(spark, sf_dir, "orders")
    horizon = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("__horizon")
    )
    pc = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "monetary"
            ),
        )
        .join(F.broadcast(horizon))
        .select(
            "o_custkey",
            F.datediff("__horizon", "last_d").alias("recency"),
            "freq",
            "monetary",
        )
    )
    n = pc.count()
    ranked = distributed_rank(
        pc, [F.col("recency").asc(), F.col("o_custkey").asc()], "r_rank"
    )
    ranked = distributed_rank(
        ranked, [F.col("freq").desc(), F.col("o_custkey").asc()], "f_rank"
    )
    ranked = distributed_rank(
        ranked,
        [F.col("monetary").desc(), F.col("o_custkey").asc()],
        "m_rank",
    )
    q = ranked.select(
        F.expr(f"(r_rank - 1) * 5 div {n}L + 1").alias("r_q"),
        F.expr(f"(f_rank - 1) * 5 div {n}L + 1").alias("f_q"),
        F.expr(f"(m_rank - 1) * 5 div {n}L + 1").alias("m_q"),
        "monetary",
    )
    return (
        q.groupBy(
            (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
            .cast("long")
            .alias("segment")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("monetary").cast("double"), 2).alias(
                "sum_monetary"
            ),
        )
        .orderBy("segment")
    )


@register_query(
    "events_theil_sen_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), d AS (
        SELECT g, date_diff('day', DATE '1970-01-01', day) AS x, cnt
        FROM daily
    ), pairs AS (
        SELECT a.g, a.x AS x1, b.x AS x2,
               (b.cnt - a.cnt) * 1000000 // (b.x - a.x) AS slope_q
        FROM d a JOIN d b ON a.g = b.g AND a.x < b.x
    ), ranked AS (
        SELECT g, slope_q,
               row_number() OVER (PARTITION BY g ORDER BY slope_q, x1, x2)
                 AS rn,
               count(*) OVER (PARTITION BY g) AS n_pairs
        FROM pairs
    ), med AS (
        SELECT g, slope_q AS slope_med_q, CAST(n_pairs AS BIGINT) AS n_pairs
        FROM ranked WHERE rn = (n_pairs + 1) // 2
    ), nd AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_days FROM d GROUP BY g
    )
    SELECT nd.g AS event_type, n_days, n_pairs, slope_med_q
    FROM nd JOIN med USING (g) ORDER BY event_type
    """,
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume trend per event type (operators/robust
    .theil_sen_trend): the Theil-Sen median-of-pairwise-slopes
    estimator, each slope the exact integer (dy * 10^6 div dx) — both
    engines truncate toward zero, verified for negative slopes — and
    the median a rank SELECTION, not an average. Pair fan-out is
    C(days,2) per type over the dimension-bounded (type, day) table;
    the raw-row reduction is one map-side-combinable shuffle."""
    from ..operators.robust import theil_sen_trend

    ev = load_table(spark, sf_dir, "events")
    return (
        theil_sen_trend(ev, group_col="event_type", ts_col="ts")
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")
    )


@register_query(
    "events_mad_outliers",
    oracle="""
    WITH daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT g, cnt,
               row_number() OVER (PARTITION BY g ORDER BY cnt, day) AS rn,
               count(*) OVER (PARTITION BY g) AS n
        FROM daily
    ), med AS (
        SELECT g, cnt AS med_cnt FROM ranked WHERE rn = (n + 1) // 2
    ), dev AS (
        SELECT daily.g, daily.day, daily.cnt, med.med_cnt,
               abs(daily.cnt - med.med_cnt) AS dev
        FROM daily JOIN med ON daily.g = med.g
    ), dranked AS (
        SELECT g, dev,
               row_number() OVER (PARTITION BY g ORDER BY dev, day) AS rn,
               count(*) OVER (PARTITION BY g) AS n
        FROM dev
    ), mad AS (
        SELECT g, dev AS mad_cnt FROM dranked WHERE rn = (n + 1) // 2
    )
    SELECT dev.g AS event_type, CAST(count(*) AS BIGINT) AS n_days,
           dev.med_cnt, mad.mad_cnt,
           CAST(sum(CASE WHEN dev.dev > 3 * mad.mad_cnt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.g = mad.g
    GROUP BY dev.g, dev.med_cnt, mad.mad_cnt
    ORDER BY event_type
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation volume anomaly summary per event type
    (operators/robust.mad_outlier_report): med and mad are exact lower
    medians (rank selection), the Hampel rule |cnt-med| > 3*mad is a
    pure integer comparison — the robust counterpart to the
    mean/stddev daily-anomaly entry, immune to the spike days that
    inflate a stddev band. Dimension-bounded (type, day) table."""
    from ..operators.robust import mad_outlier_report

    ev = load_table(spark, sf_dir, "events")
    return (
        mad_outlier_report(ev, group_col="event_type", ts_col="ts", k=3)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")
    )


@register_query(
    "user_churn_features",
    oracle="""
    WITH h AS (
        SELECT CAST(max(CAST(ts AS DATE)) AS DATE) AS horizon,
               CAST(max(CAST(ts AS DATE)) AS DATE) - 7 AS cutoff
        FROM events
    ), agg AS (
        SELECT user_id,
               CAST(sum(CASE WHEN day < cutoff THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_events,
               CAST(count(DISTINCT CASE WHEN day < cutoff THEN day END)
                    AS BIGINT) AS n_active_days,
               CAST(count(DISTINCT CASE WHEN day < cutoff THEN event_type END)
                    AS BIGINT) AS n_types,
               max(CASE WHEN day < cutoff THEN day END) AS last_pre,
               CAST(max(CASE WHEN day >= cutoff THEN 1 ELSE 0 END) AS INT)
                 AS label_active,
               max(cutoff) AS cut
        FROM (SELECT user_id, CAST(ts AS DATE) AS day, event_type
              FROM events) e, h
        GROUP BY user_id
    )
    SELECT user_id, n_events, n_active_days, n_types,
           CAST(date_diff('day', last_pre, cut) AS INT) AS days_since_last,
           label_active
    FROM agg WHERE n_events > 0 ORDER BY user_id
    """,
)
def user_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe churn training table (operators/features
    .churn_feature_snapshot): features strictly from history BEFORE
    the cutoff (horizon - 7d), label strictly from [cutoff, horizon] —
    the point-in-time contract that prevents label leakage — computed
    in ONE conditional groupBy(user) so features and labels share a
    single scan and a single shuffle at any scale."""
    from ..operators.features import churn_feature_snapshot

    ev = load_table(spark, sf_dir, "events")
    return (
        churn_feature_snapshot(
            ev, user_col="user_id", ts_col="ts",
            label_days=7, type_col="event_type",
        )
        .withColumnRenamed("user_key", "user_id")
        .orderBy("user_id")
    )


@register_query(
    "events_did_readout",
    oracle="""
    WITH span AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events WHERE value IS NOT NULL
    ), midc AS (
        SELECT lo + CAST(date_diff('day', lo, hi) // 2 AS INT) AS mid
        FROM span
    ), pts AS (
        SELECT (user_id % 2 = 1) AS t, (CAST(ts AS DATE) >= mid) AS p,
               CAST(floor(value * 1000000) AS BIGINT)
                 + CASE WHEN user_id % 2 = 1 AND CAST(ts AS DATE) >= mid
                        THEN 2500000 ELSE 0 END AS y
        FROM events, midc WHERE value IS NOT NULL
    ), cells AS (
        SELECT
          CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
          CAST(sum(CASE WHEN t AND p THEN y ELSE 0 END) AS BIGINT) AS s_tp,
          CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_tq,
          CAST(sum(CASE WHEN t AND NOT p THEN y ELSE 0 END) AS BIGINT) AS s_tq,
          CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
          CAST(sum(CASE WHEN NOT t AND p THEN y ELSE 0 END) AS BIGINT) AS s_cp,
          CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cq,
          CAST(sum(CASE WHEN NOT t AND NOT p THEN y ELSE 0 END) AS BIGINT)
            AS s_cq
        FROM pts
    )
    SELECT n_tp AS n_treat_post, n_tq AS n_treat_pre,
           n_cp AS n_ctrl_post, n_cq AS n_ctrl_pre,
           s_tp // n_tp AS mean_treat_post_ppm,
           s_tq // n_tq AS mean_treat_pre_ppm,
           s_cp // n_cp AS mean_ctrl_post_ppm,
           s_cq // n_cq AS mean_ctrl_pre_ppm,
           (s_tp // n_tp - s_tq // n_tq) - (s_cp // n_cp - s_cq // n_cq)
             AS did_ppm
    FROM cells
    """,
)
def events_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (operators/evals.did_readout): odd
    users are "treated", the post period starts at the corpus
    midpoint, and a planted +2.5 lift rides treated-post outcomes —
    DiD nets out the group baseline gap and the common time trend and
    recovers the lift up to sampling noise (exact recovery is pinned
    by the noise-free planted unit test). Outcomes are quantized per row
    (floor(value*10^6) — identical IEEE op both engines) so cell sums
    are exact integers; the whole readout is one conditional 1-row
    aggregate after a 1-row midpoint broadcast."""
    from ..operators.evals import did_readout

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    day = F.to_date("ts")
    span = ev.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    ).select(
        F.expr("date_add(lo, cast((datediff(hi, lo) div 2) as int))").alias(
            "mid"
        )
    )
    staged = ev.join(F.broadcast(span)).select(
        (F.col("user_id") % 2 == 1).alias("treat"),
        (day >= F.col("mid")).alias("post"),
        (
            F.floor(F.col("value") * 1000000).cast("long")
            + F.when(
                (F.col("user_id") % 2 == 1) & (day >= F.col("mid")),
                2500000,
            ).otherwise(0)
        ).alias("y_q"),
    )
    return did_readout(
        staged, treat_col="treat", post_col="post", outcome_q_col="y_q"
    )


@register_query(
    "customers_k_anonymize",
    oracle="""
    WITH banded AS (
        SELECT j.j, c_nationkey,
               floor((c_acctbal + 1000.0) / (1 << j.j)) AS band
        FROM customer, generate_series(0, 20) j(j)
    ), classes AS (
        SELECT j, c_nationkey, band, count(*) AS n
        FROM banded GROUP BY 1, 2, 3
    ), per_j AS (
        SELECT j, CAST(min(n) AS BIGINT) AS min_class_size,
               CAST(max(n) AS BIGINT) AS max_class_size,
               CAST(count(*) AS BIGINT) AS n_classes
        FROM classes GROUP BY j
    )
    SELECT CAST(10 AS INT) AS k, CAST(j AS INT) AS j_star,
           CAST(1 << j AS BIGINT) AS width,
           n_classes, min_class_size, max_class_size
    FROM per_j WHERE min_class_size >= 10
    ORDER BY j LIMIT 1
    """,
)
def customers_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal-generalization k-anonymity ENFORCEMENT
    (operators/quality_checks.k_anonymize_ladder): smallest power-of-
    two account-balance band width making every (nation, band) class
    hold >= 10 customers — the mutation counterpart to the
    k_anonymity_report audit. The width ladder is monotone (doubling
    only merges classes), evaluated for ALL widths in ONE scan via a
    21-way narrow explode (no join, no iteration); floor on the IEEE
    double quotient is bit-identical cross-engine. Balances are
    shifted by the +1000 schema floor first: the ladder needs
    non-negative values (a negative floor-band never merges with band
    0, so mixed-sign input has no fully-collapsed rung)."""
    from ..operators.quality_checks import k_anonymize_ladder

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "acctbal_nn", F.col("c_acctbal") + 1000.0
    )
    return k_anonymize_ladder(
        cust, group_cols=["c_nationkey"], numeric_col="acctbal_nn",
        k=10, max_j=20,
    )


@register_query(
    "embedding_isotropy",
    oracle="""
    WITH ex AS (
        SELECT generate_subscripts(embedding, 1) AS d,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS HUGEINT) AS xq,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                          * CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS HUGEINT) AS sq
        FROM embeddings WHERE embedding IS NOT NULL
    ), byd AS (
        SELECT d, sum(xq) AS s_x, sum(sq) AS s_sq, count(*) AS n
        FROM ex GROUP BY d
    ), tot AS (
        SELECT CAST(max(n) AS HUGEINT) AS n,
               CAST(count(*) AS INT) AS dim,
               sum(s_sq) AS s2, sum(s_x * s_x) AS num
        FROM byd
    )
    SELECT CAST(n AS BIGINT) AS n_vectors, dim,
           CAST(s2 // n AS BIGINT) AS mean_sq_norm_q,
           CAST(num * 1000000000 // (n * s2 * 1000000) AS BIGINT)
             AS isotropy_ppb
    FROM tot
    """,
)
def embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy health check (operators/pca
    .isotropy_report): ||mean vec||^2 / mean(||v||^2) in parts-per-
    billion — ~0 healthy, ~10^9 collapsed (Ethayarajh 2019 anisotropy).
    Pure-JVM exact-integer moments (one posexplode + d-row aggregate,
    DECIMAL sums, driver fold over d bounded rows — the pca.py
    contract); the oracle replays the identical quantized fold on
    HUGEINTs."""
    from ..operators.pca import isotropy_report

    emb = load_table(spark, sf_dir, "embeddings")
    return isotropy_report(emb, "embedding")


@register_query(
    "events_session_paths",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_id, event_type,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS sid
        FROM flagged
    ), stepped AS (
        SELECT user_id, sid, event_type,
               row_number() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS step
        FROM sess
    ), per_session AS (
        SELECT user_id, sid,
               max(CASE WHEN step = 1 THEN event_type END) AS s1,
               max(CASE WHEN step = 2 THEN event_type END) AS s2,
               max(CASE WHEN step = 3 THEN event_type END) AS s3
        FROM stepped WHERE step <= 3 GROUP BY user_id, sid
    )
    SELECT concat_ws('>', s1, s2, s3) AS path,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM per_session GROUP BY 1
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session-opening journeys (operators/funnel.session_paths):
    30-min gaps-and-islands sessionization, first 3 event types per
    session joined '>'-wise, exact session counts — the multi-step
    complement to the 1-step transition_matrix. One user-key shuffle
    covers sessionization and the per-session pivot; the path table is
    |types|^3-bounded."""
    from ..operators.funnel import session_paths

    ev = load_table(spark, sf_dir, "events")
    return session_paths(
        ev, user_col="user_id", ts_col="ts", type_col="event_type",
        tiebreak="event_id", gap_seconds=1800, depth=3, top_k=10,
    )


@register_query(
    "events_ewma_incremental",
    oracle="""
    WITH daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), lagged AS (
        SELECT g, cnt,
               lag(cnt, 1) OVER w AS l1, lag(cnt, 2) OVER w AS l2,
               lag(cnt, 3) OVER w AS l3, lag(cnt, 4) OVER w AS l4,
               lag(cnt, 5) OVER w AS l5, lag(cnt, 6) OVER w AS l6,
               lag(cnt, 7) OVER w AS l7, lag(cnt, 8) OVER w AS l8
        FROM daily WINDOW w AS (PARTITION BY g ORDER BY day)
    ), scored AS (
        SELECT g, cnt,
               (l1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL
                AND l4 IS NOT NULL AND l5 IS NOT NULL AND l6 IS NOT NULL
                AND l7 IS NOT NULL AND l8 IS NOT NULL) AS ok,
               abs(255 * cnt - (coalesce(l1,0)*128 + coalesce(l2,0)*64
                 + coalesce(l3,0)*32 + coalesce(l4,0)*16 + coalesce(l5,0)*8
                 + coalesce(l6,0)*4 + coalesce(l7,0)*2 + coalesce(l8,0)))
                 AS err_num
        FROM lagged
    )
    SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_forecasts,
           CAST(1000000 * sum(CASE WHEN ok THEN err_num ELSE 0 END)
             // (255 * sum(CASE WHEN ok THEN 1 ELSE 0 END)) AS BIGINT)
             AS mae_ppm
    FROM scored GROUP BY g
    HAVING sum(CASE WHEN ok THEN 1 ELSE 0 END) > 0
    ORDER BY event_type
    """,
)
def events_ewma_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run daily-count accumulation feeding the forecast readout
    (streaming/forecast_stream — the TIME-SERIES member of the
    sketch-store family): events arrive as three batches (event_id mod
    3), each folding a (type, day) count delta into a batch-partitioned
    store with the crash-replay-safe overwrite contract; the backtest is
    answered from the summed store. Integer count addition is
    associative, so the merged frame is bit-identical to a single-pass
    daily count — which is exactly what the oracle computes, making the
    equality hash-verified. `run_count_stream` drives the same update
    from foreachBatch; unit tests cover the stream path + compaction."""
    import shutil
    import tempfile

    from ..streaming.forecast_stream import (
        count_batch_update,
        count_store_forecast,
    )

    ev = load_table(spark, sf_dir, "events")
    store = tempfile.mkdtemp(prefix="cnt_store_")
    shutil.rmtree(store, ignore_errors=True)
    for b in range(3):
        count_batch_update(
            ev.filter(F.col("event_id") % 3 == b),
            b,
            store_dir=store,
            group_col="event_type",
            ts_col="ts",
        )
    return (
        count_store_forecast(spark, store, window=8)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")
    )


@register_query(
    "doc_length_auc",
    oracle="""
    WITH ranked AS (
        SELECT (lang = 'en') AS y,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
               n_chars
        FROM documents
    ), tied AS (
        SELECT y,
               min(rn) OVER (PARTITION BY n_chars)
                 + max(rn) OVER (PARTITION BY n_chars) AS r2
        FROM ranked
    ), agg AS (
        SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
               CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS nn,
               CAST(sum(CASE WHEN y THEN r2 ELSE 0 END) AS BIGINT) AS rsum2
        FROM tied
    )
    SELECT np AS n_pos, nn AS n_neg,
           CAST((rsum2 - np * (np + 1)) * 1000000
                // (2 * np * nn) AS BIGINT) AS auc_ppm
    FROM agg
    """,
)
def doc_length_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC (operators/evals.roc_auc): how well raw
    document length separates English from non-English docs — the
    discrimination readout that completes the eval battery next to
    ECE/calibration (is the score CALIBRATED) and the classification
    report (is the THRESHOLD right); AUC asks if the ORDERING is
    informative at all. Average ranks for tied scores ride doubled so
    everything stays integer; the oracle replays rank, tie-block
    min+max, and the rank-sum identity bit-for-bit."""
    from ..operators.evals import roc_auc

    d = load_table(spark, sf_dir, "documents")
    return roc_auc(
        d.withColumn("is_en", F.col("lang") == "en"),
        score_col="n_chars",
        label_col="is_en",
        tiebreak="doc_id",
    )


@register_query(
    "orders_logrank_ab",
    oracle="""
    WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
               CAST(o_custkey % 2 AS INT) AS grp
        FROM orders
    ), nxt AS (
        SELECT d, grp,
               lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
                 AS nd
        FROM o
    ), subj AS (
        SELECT CASE WHEN nd IS NOT NULL THEN date_diff('day', d, nd)
                    ELSE date_diff('day', d, (SELECT max(d) FROM o))
               END AS duration,
               CASE WHEN nd IS NOT NULL THEN 1 ELSE 0 END AS observed,
               grp
        FROM nxt
    ), by_t AS (
        SELECT duration AS t, CAST(sum(observed) AS BIGINT) AS d,
               CAST(sum(observed * grp) AS BIGINT) AS d1,
               CAST(count(*) AS BIGINT) AS leaving,
               CAST(sum(grp) AS BIGINT) AS leaving1
        FROM subj GROUP BY duration
    ), life AS (
        SELECT t, d, d1,
               CAST((SELECT count(*) FROM subj)
                 - coalesce(sum(leaving) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n,
               CAST((SELECT sum(grp) FROM subj)
                 - coalesce(sum(leaving1) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n1
        FROM by_t
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_event_times,
               CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(CAST(d AS HUGEINT) * n1 * 1000000 // n) AS BIGINT)
                 AS e1_q,
               CAST(sum(CASE WHEN n > 1 THEN
                        CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d)
                          * 1000000 // (n * n * (n - 1))
                        ELSE 0 END) AS BIGINT) AS v_q
        FROM life WHERE d > 0
    )
    SELECT n_event_times, o1, e1_q, v_q,
           CASE WHEN v_q > 0 THEN
                CAST((CAST(o1 AS HUGEINT) * 1000000 - e1_q)
                     * (CAST(o1 AS HUGEINT) * 1000000 - e1_q)
                     // v_q AS BIGINT)
           END AS logrank_x2_ppm
    FROM agg
    """,
)
def orders_logrank_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank survival comparison (operators/survival
    .log_rank): do odd- and even-keyed customer segments differ in
    repeat-purchase hazard — the Mantel-Cox χ²(1) readout that
    completes the survival family next to the K-M curve (and the
    causal battery next to DiD/CUPED, for time-to-event outcomes).
    Per-event-time hypergeometric terms quantize independently at
    scale 10^6 (order-independent integer sums); the day-span-bounded
    life table folds on the driver with Python bignums while the
    oracle replays the identical divisions on HUGEINTs."""
    from ..operators.survival import log_rank, subject_durations

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "grp", (F.col("o_custkey") % 2).cast("int")
    )
    subj = subject_durations(
        orders, key="o_custkey", date_col="o_orderdate",
        tiebreak="o_orderkey", extra_cols=["grp"],
    )
    return log_rank(subj, "grp")
