"""Per-group schema drift reporting over a JSON column.

The reference infers ONE schema per flowfile (CreateHQL.scala:12-20);
a production pipeline wants the per-source/per-day view: which fields
does this partition add, miss, or type-conflict relative to the corpus?
``schema_drift_report`` reuses the engine's keyed reference-lattice
inference (operators.infer.infer_schema_by_key — one scan, one
``groupBy`` aggregate whose shuffle carries only per-partition partial
schemas) and diffs every group's top-level fields against the merge of
all groups.

Type classes are the lattice universe at the top level: STRUCT (JSON
object), ARRAY, STRING (every scalar, every conflict — the demotion rule
of CreateHQL.scala:63-64); JSON null absorbs (an all-null field renders
STRING). The report is driver-built from the tiny per-group raw shapes
(``plans.lattice``) — record bodies never leave executors. Groups are
reported in key order, a NULL key (records without the group field)
first.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .infer import _shapes_by_key
from ..plans.lattice import merge_raw

__all__ = [
    "schema_drift_report",
    "distribution_drift",
    "categorical_drift",
    "cusum_changepoints",
]


def field_classes(shape: Any) -> dict[str, str]:
    """Top-level field of a raw shape → lattice class: STRUCT, ARRAY or
    STRING (scalars, conflicts and bottom, since an all-null field renders
    STRING). A non-object shape has no fields."""
    if not isinstance(shape, dict):
        return {}
    return {
        k: "STRUCT" if isinstance(v, dict) else "ARRAY" if isinstance(v, list)
        else "STRING"
        for k, v in shape.items()
    }


def _null_first(key: str | None) -> tuple:
    """Sort key for group keys: a NULL group first, then by value."""
    return (key is not None, key)


def schema_drift_report(
    spark: SparkSession,
    df: DataFrame,
    json_col: str,
    key_col: str,
) -> DataFrame:
    """(group, field, group_class, global_class, drift) for every
    top-level field in the merged schema × every group.

    drift ∈ {'same', 'retyped', 'absent'}: 'absent' = no record of the
    group has the key at all; 'retyped' = the group's lattice class
    differs from the corpus-wide class (after conflict demotion).
    Non-object group schemas (e.g. a group whose rows are top-level
    arrays — the reference's "ERROR" case, CreateHQL.scala:91) report
    every field 'absent'.
    """
    per_key = _shapes_by_key(df, json_col, key_col)
    # Global view = merge over the groups whose root is an object only. A
    # merge over every group would let one non-object group demote the
    # entire corpus schema to STRING (the reference's "ERROR" case) and
    # erase the field-level report — the report instead keeps field
    # resolution and shows such groups as all-'absent'. Merging structs
    # applies the full conflict lattice per field, and matches a
    # per-record class derivation (merge is associative).
    merged: dict = {}
    for shape in per_key.values():
        if isinstance(shape, dict):
            merged = merge_raw(merged, shape)
    global_fields = field_classes(merged)

    rows = []
    for key in sorted(per_key, key=_null_first):
        group_fields = field_classes(per_key[key])
        for field in sorted(global_fields):
            gcls = global_fields[field]
            if field not in group_fields:
                rows.append((key, field, "ABSENT", gcls, "absent"))
            elif group_fields[field] != gcls:
                rows.append((key, field, group_fields[field], gcls, "retyped"))
            else:
                rows.append((key, field, gcls, gcls, "same"))
    return spark.createDataFrame(
        rows,
        "group_key string, field string, group_class string, "
        "global_class string, drift string",
    )


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    *,
    bins: int = 10,
    lo: float,
    hi: float,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index per bucket between a reference and a
    current snapshot of a numeric column — the VALUE-distribution half
    of drift monitoring (``schema_drift_report`` is the structural
    half): PSI < 0.1 is stable, 0.1-0.25 drifting, > 0.25 shifted, the
    standard model-monitoring thresholds.

    Binning is ``value_histogram`` with a PINNED [lo, hi] — mandatory
    here, because drift is only meaningful against fixed bucket edges
    (and the pinned form skips the min/max scan: one pass per
    snapshot, counts shuffle as |bins| rows, bodies never move).
    Empty buckets participate through Laplace smoothing (``smoothing``
    pseudo-count per bucket) so a bucket present in one snapshot and
    absent in the other contributes finite, not infinite, PSI.

    Returns (bucket, bucket_lo, n_ref, n_cur, psi_contrib) — one row
    per bucket including empty ones; total PSI = sum(psi_contrib).
    ``psi_contrib`` is rounded to 6 decimals (the engine's float
    oracle-parity convention).
    """
    from pyspark.sql import Window, functions as F

    from .profile import value_histogram

    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (it guards empty buckets)")
    spark = ref.sparkSession
    w = (float(hi) - float(lo)) / bins
    spine = spark.range(bins).select(F.col("id").cast("int").alias("bucket"))
    hr = value_histogram(ref, col, bins=bins, lo=lo, hi=hi).select(
        "bucket", F.col("n").alias("n_ref")
    )
    hc = value_histogram(cur, col, bins=bins, lo=lo, hi=hi).select(
        "bucket", F.col("n").alias("n_cur")
    )
    j = (
        spine.join(hr, "bucket", "left")
        .join(hc, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    # totals over the |bins|-row frame: a window on a handful of rows,
    # not a data-side shuffle
    everything = Window.partitionBy(F.lit(1))
    s = float(smoothing)
    p = (F.col("n_ref") + F.lit(s)) / (
        F.sum("n_ref").over(everything) + F.lit(s * bins)
    )
    q = (F.col("n_cur") + F.lit(s)) / (
        F.sum("n_cur").over(everything) + F.lit(s * bins)
    )
    return j.select(
        "bucket",
        F.round(F.lit(float(lo)) + F.col("bucket") * F.lit(w), 6).alias(
            "bucket_lo"
        ),
        "n_ref",
        "n_cur",
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


def categorical_drift(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    *,
    smoothing: float = 0.5,
) -> DataFrame:
    """PSI over a categorical column (language mix, source mix, label
    mix — the usual "did this crawl's composition shift" check),
    completing ``distribution_drift``'s numeric half. Categories are the
    union observed in either snapshot (NULLs excluded, matching the
    numeric form); a category present on one side only still gets a
    finite contribution through the same Laplace smoothing.

    Scale shape: one count-aggregate per snapshot (shuffle payload =
    |categories| rows), a full-outer join of the two count tables, and
    the two totals ride a 1-row broadcast (the scalar cross-join
    pattern) — deliberately NOT a single-partition window, so a
    high-cardinality column doesn't serialize on one task. Returns
    (value, n_ref, n_cur, psi_contrib); total PSI = sum.
    """
    from pyspark.sql import functions as F

    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (it guards one-sided categories)")
    c = F.col(col)
    nr = (
        ref.filter(c.isNotNull())
        .groupBy(c.cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    nc = (
        cur.filter(c.isNotNull())
        .groupBy(c.cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    j = (
        nr.join(nc, "value", "full_outer")
        .select(
            "value",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    totals = j.agg(
        F.sum("n_ref").cast("double").alias("__tr"),
        F.sum("n_cur").cast("double").alias("__tc"),
        F.count(F.lit(1)).cast("double").alias("__k"),
    )
    s = float(smoothing)
    p = (F.col("n_ref") + F.lit(s)) / (F.col("__tr") + F.lit(s) * F.col("__k"))
    q = (F.col("n_cur") + F.lit(s)) / (F.col("__tc") + F.lit(s) * F.col("__k"))
    return j.crossJoin(F.broadcast(totals)).select(
        "value",
        "n_ref",
        "n_cur",
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


def cusum_changepoints(
    df: DataFrame,
    time_col: str,
    val_col: str,
    *,
    group_cols: list[str] | None = None,
    baseline_periods: int = 14,
    k_sigmas: float = 0.5,
    h_sigmas: float = 5.0,
    quantize_scale: int = 6,
) -> DataFrame:
    """Two-sided CUSUM changepoint detection over a per-period series
    (Page 1954): per group and period, the cumulative positive/negative
    deviation statistics and an alarm flag when either crosses the
    decision band — the sequential sibling of the point-wise z-score
    monitors in `functions/timeseries.py`: a 0.8σ mean shift never
    trips a 3σ z-score but accumulates in CUSUM within days.

    The recursion ``S⁺_t = max(0, S⁺_{t−1} + (x_t − μ₀ − kσ₀))`` looks
    sequential, but has the classic prefix-min closed form
    ``S⁺_t = P_t − min_{j ≤ t} P_j`` over the drift-adjusted prefix sum
    ``P`` (a reset-at-zero running sum is a running sum re-based at its
    running minimum) — so the whole statistic is two window passes, no
    recursion, no Python, and it scales like any other window op
    (partition by group, order by period).

    Determinism (gate discipline): per-period means are exact-DECIMAL;
    μ₀/σ₀ from the first ``baseline_periods`` periods and the running
    sums all operate on values quantized to ``10^-quantize_scale`` —
    integer arithmetic end to end except σ₀'s one sqrt and the final
    re-scaling, each a single IEEE op on exact inputs. An engine
    replaying the same windows is bit-equal.

    Returns (group…, period, mean_val, s_pos, s_neg, alarm) where
    s_pos/s_neg are in σ₀ units. Groups with fewer than
    ``baseline_periods`` periods or σ₀ = 0 report NULL statistics
    (no scale to detect against). Scale: one groupBy (period means,
    map-side combinable) then windows over PERIODS per group —
    dimension-bounded, never row-bounded."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    group_cols = group_cols or []
    u = 10**quantize_scale
    # per-period exact-integer mean floor(Σ⌊v·u⌋ / n): decimal `/`
    # rounds at its result scale (floor-after-round ≠ true floor on
    # boundary quotients), so shift every term positive by B and use
    # integral division, where truncation == floor —
    # floor(Σ(vᵢ+B)/n) − B == floor(Σvᵢ/n) exactly
    shift = 10 ** (quantize_scale + 6)  # > any |v| ≤ 10^6 after scaling
    per = (
        df.filter(F.col(val_col).isNotNull())
        .select(
            *group_cols,
            F.col(time_col).alias("period"),
            (F.floor(F.col(val_col) * u).cast("long") + F.lit(shift)).alias(
                "__v"
            ),
        )
        .groupBy(*group_cols, "period")
        .agg(
            (
                F.expr(
                    "CAST(sum(CAST(__v AS DECIMAL(38,0))) div "
                    "count(1) AS LONG)"
                )
                - F.lit(shift)
            ).alias("__m")
        )
    )
    wo = Window.partitionBy(*group_cols).orderBy("period")
    base_w = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = per.withColumn("__rn", F.row_number().over(wo))
    # baseline μ₀, σ₀ from the first N periods (integer sums; σ via the
    # computational formula on exact integers, one sqrt at the end)
    base = (
        ranked.filter(F.col("__rn") <= baseline_periods)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("__bn"),
            F.sum(F.col("__m").cast("decimal(38,0)")).alias("__bs"),
            F.sum(
                (F.col("__m").cast("decimal(38,0)"))
                * F.col("__m").cast("decimal(38,0)")
            ).alias("__bss"),
        )
        .filter(F.col("__bn") >= baseline_periods)
        .withColumn(
            "__mu0",
            F.floor(F.col("__bs") / F.col("__bn")).cast("long"),
        )
        .withColumn(
            "__var",
            (
                F.col("__bss").cast("double")
                - (
                    F.col("__bs").cast("double")
                    * F.col("__bs").cast("double")
                )
                / F.col("__bn")
            )
            / F.col("__bn"),
        )
        .withColumn("__sigma0", F.sqrt(F.greatest("__var", F.lit(0.0))))
    )
    j = ranked.join(base, group_cols) if group_cols else ranked.crossJoin(
        F.broadcast(base)
    )
    # drift-adjusted deltas, still integer: kσ₀ quantized once per group
    ks = F.floor(F.lit(k_sigmas) * F.col("__sigma0")).cast("long")
    d_pos = F.col("__m") - F.col("__mu0") - ks
    d_neg = -(F.col("__m") - F.col("__mu0")) - ks
    j = j.withColumn("__pp", F.sum(d_pos).over(base_w)).withColumn(
        "__pn", F.sum(d_neg).over(base_w)
    )
    # prefix-min INCLUDING the virtual P_0 = 0 (the statistic starts at
    # zero): min(0, running min of prefixes)
    run_min_p = F.least(F.lit(0), F.min("__pp").over(base_w))
    run_min_n = F.least(F.lit(0), F.min("__pn").over(base_w))
    s_pos_i = F.col("__pp") - run_min_p
    s_neg_i = F.col("__pn") - run_min_n
    sigma_ok = F.col("__sigma0") > 0
    s_pos = F.when(sigma_ok, s_pos_i / F.col("__sigma0"))
    s_neg = F.when(sigma_ok, s_neg_i / F.col("__sigma0"))
    return j.select(
        *group_cols,
        "period",
        (F.col("__m") / F.lit(float(u))).alias("mean_val"),
        s_pos.alias("s_pos"),
        s_neg.alias("s_neg"),
        F.when(
            sigma_ok,
            (s_pos_i / F.col("__sigma0") > h_sigmas)
            | (s_neg_i / F.col("__sigma0") > h_sigmas),
        ).alias("alarm"),
    )
