"""Command-line surface: ``python -m nifi_hive_schema_generator_bundle_spark <cmd>``.

The processor's one pipeline plus its pieces (SURVEY §7 "small PySpark
library + CLI"):

    infer   NDJSON -> inferred Hive DDL on stdout (optionally executed)
    route   NDJSON -> valid/invalid counts (optionally write quarantine)
    group   NDJSON with a routing column -> one DDL per table value
    convert data in one format -> another (schema-preserving, partitionable)
    sample  deterministic md5 train/holdout split or downsample -> output dir
    dedup   exact or near-dup (minhash/simhash) dedup of a text column,
            keep the min-id representative per duplicate group -> output dir
    profile one-scan column statistics (count/null/distinct/min/max)
    fit-classifier  train the linear quality classifier -> model JSON
    dsir    DSIR importance weights vs a --target slice -> parquet
    compact rewrite a small-files directory to ~target-size files
    sql     ad-hoc SQL over a directory of parquet tables (one view per file)
    prep    composed training-data pipeline: optional blocklist ->
            quality filter -> dedup -> optional benchmark
            decontamination -> train/holdout split
    explain print the physical plan of any registered query
    stream  drain an NDJSON directory through streaming inference, print
            the DDL and any drift ALTERs
    htmlextract  HTML column -> visible text (WET-style extraction)
"""

from __future__ import annotations

import argparse
import sys


def _session(args):
    from .session import get_session

    return get_session(
        "nifi-hive-schema-generator-cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_infer(args) -> int:
    from .catalog import register_table
    from .operators.infer import _read_lines, infer_schema_df
    from .plans.render import render_hive_ddl

    spark = _session(args)
    # infer ONCE, then render and (optionally) register from the same
    # schema — rendering and registration are driver-side string work
    schema = infer_schema_df(_read_lines(spark, args.input))
    print(
        render_hive_ddl(
            schema, args.table, args.location, drop_if_exists=args.drop_if_exists
        )
    )
    if args.register:
        register_table(spark, schema, args.table, args.location)
        print(f"-- registered {args.table} in the session catalog", file=sys.stderr)
    return 0


def cmd_route(args) -> int:
    from pyspark.sql import functions as F

    from .operators.infer import _read_lines
    from .operators.routing import is_valid_json, split_valid

    spark = _session(args)
    lines = _read_lines(spark, args.input)
    if args.quarantine:
        lines = lines.cache()
        _, bad = split_valid(lines, "value")
        bad.write.mode("overwrite").text(args.quarantine)
    valid = is_valid_json("value").cast("long")
    counts = lines.agg(
        F.sum(valid).alias("v"), F.sum(F.lit(1) - valid).alias("i")
    ).collect()[0]
    if args.quarantine:
        lines.unpersist()
    print(f"valid={counts['v'] or 0} invalid={counts['i'] or 0}")
    return 0


def cmd_group(args) -> int:
    from pyspark.sql import functions as F

    from .catalog import ddl_per_group
    from .operators.infer import _read_lines

    spark = _session(args)
    # raw lines, NOT spark.read.json: a file-wide json read would unify
    # schemas across all groups before the per-group fold ever runs,
    # demoting group-local ARRAY/STRUCT columns to STRING. The routing
    # column stays part of each record (the NiFi-EL use-case routes on an
    # attribute of the record itself).
    lines = _read_lines(spark, args.input)
    df = lines.select(
        F.get_json_object("value", f"$.{args.table_col}").alias("__tbl"),
        F.col("value").alias("__payload"),
    )
    for table, ddl in ddl_per_group(
        df, "__payload", "__tbl", location_fmt=args.location_fmt
    ).items():
        print(ddl)
        print()
    return 0


def cmd_convert(args) -> int:
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.from_fmt)
    convert(
        df,
        args.output,
        args.to_fmt,
        mode=args.mode,
        partition_by=args.partition_by.split(",") if args.partition_by else None,
        compression=args.compression,
    )
    print(f"wrote {args.output} as {args.to_fmt}", file=sys.stderr)
    return 0


def cmd_sample(args) -> int:
    from .functions.sampling import hash_sample, hash_split
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    if args.mode == "split":
        out = hash_split(df, args.key, holdout_sixteenths=args.sixteenths)
        convert(out, args.output, args.fmt, mode="overwrite", partition_by=["split"])
    else:
        out = hash_sample(df, args.key, sixteenths=args.sixteenths)
        convert(out, args.output, args.fmt, mode="overwrite")
    print(f"wrote {args.output} ({args.mode}, {args.sixteenths}/16)", file=sys.stderr)
    return 0


def cmd_dedup(args) -> int:
    from .operators import dedup as dd
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    if args.method == "exact":
        keep = dd.exact_dedup(df, args.text_col, args.key).select(args.key)
        out = df.join(keep, args.key, "left_semi")
    elif args.method in ("paragraph", "sentence"):
        # inner-document granularities: rows survive, text is rewritten
        if args.method == "paragraph":
            deduped = dd.paragraph_dedup(
                df, text_col=args.text_col, id_col=args.key
            )
        else:
            from .operators.text import sentence_dedup

            deduped = sentence_dedup(df, id_col=args.key, text_col=args.text_col)
        out = df.drop(args.text_col).join(
            deduped.select(args.key, args.text_col), args.key, "left"
        )
    else:
        if args.method == "minhash":
            pairs = dd.minhash_lsh_pairs(
                df, args.text_col, args.key, threshold=args.threshold
            )
        else:
            pairs = dd.simhash_pairs(
                df, args.text_col, args.key, max_hamming=args.max_hamming
            )
        out = dd.dedup_keep_min(df, pairs, args.key)
    convert(out, args.output, args.fmt, mode="overwrite")
    # count the WRITTEN output, not the plan: out.count() would re-run
    # the whole dedup (LSH included) a second time
    n_in = df.count()
    n_out = read_any(spark, args.output, args.fmt).count()
    print(f"kept {n_out}/{n_in} ({args.method})", file=sys.stderr)
    return 0


def cmd_mixture(args) -> int:
    from .functions.sampling import mixture_sample, temperature_sample
    from .sources.formats import convert, read_any

    if (args.targets is None) == (args.alpha is None):
        print("pass exactly one of --targets / --alpha", file=sys.stderr)
        return 2
    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    if args.alpha is not None:
        out = temperature_sample(
            df, args.strata_col, alpha=args.alpha, key=args.key
        )
    else:
        targets = {}
        for part in args.targets.split(","):
            k, _, v = part.partition("=")
            targets[k.strip()] = float(v)
        out = mixture_sample(df, args.strata_col, targets, key=args.key)
    convert(out, args.output, args.fmt, mode="overwrite")
    got = dict(
        read_any(spark, args.output, args.fmt)
        .groupBy(args.strata_col)
        .count()
        .rdd.map(lambda r: (r[0], r[1]))
        .collect()
    )
    total = sum(got.values()) or 1
    mix = ", ".join(f"{k}={v} ({v / total:.1%})" for k, v in sorted(got.items()))
    print(f"kept {total}: {mix}", file=sys.stderr)
    return 0


def cmd_select(args) -> int:
    from .operators.selection import token_budget_select
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    sel = token_budget_select(
        df, args.budget, text_col=args.text_col, id_col=args.key
    ).select(args.key)
    out = df.join(sel, args.key, "left_semi")
    convert(out, args.output, args.fmt, mode="overwrite")
    n = read_any(spark, args.output, args.fmt).count()
    print(f"selected {n} docs within {args.budget} tokens", file=sys.stderr)
    return 0


def cmd_spans(args) -> int:
    from .operators.dedup import duplicate_span_stats, remove_duplicate_spans
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    if args.remove:
        out = remove_duplicate_spans(
            df, k=args.k, min_count=args.min_count,
            text_col=args.text_col, id_col=args.key,
        )
        convert(out, args.output, args.fmt, mode="overwrite")
        import pyspark.sql.functions as F

        row = (
            read_any(spark, args.output, args.fmt)
            .agg(F.sum("n_tokens").alias("t"), F.sum("n_kept").alias("k"))
            .collect()[0]
        )
        print(
            f"kept {row['k']}/{row['t']} tokens after span removal",
            file=sys.stderr,
        )
    else:
        out = duplicate_span_stats(
            df, k=args.k, min_count=args.min_count,
            text_col=args.text_col, id_col=args.key,
        )
        convert(out, args.output, args.fmt, mode="overwrite")
        import pyspark.sql.functions as F

        row = (
            read_any(spark, args.output, args.fmt)
            .agg(
                F.sum("dup_tokens").alias("d"),
                F.sum("n_tokens").alias("t"),
            )
            .collect()[0]
        )
        frac = (row["d"] or 0) / (row["t"] or 1)
        print(
            f"duplicated-span coverage: {row['d']}/{row['t']} tokens ({frac:.1%})",
            file=sys.stderr,
        )
    return 0


def cmd_wsample(args) -> int:
    from .functions.sampling import weighted_sample
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    out = weighted_sample(df, args.n, weight_col=args.weight_col, key=args.key)
    convert(out, args.output, args.fmt, mode="overwrite")
    n = read_any(spark, args.output, args.fmt).count()
    print(f"sampled {n} rows (weight: {args.weight_col})", file=sys.stderr)
    return 0


def cmd_scrub(args) -> int:
    from .functions.textfns import REDACT_PATTERNS, pattern_count, redact
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    kinds = [k.strip() for k in args.kinds.split(",") if k.strip()]
    unknown = [k for k in kinds if k not in REDACT_PATTERNS]
    if unknown:
        print(f"unknown pattern kinds: {unknown}", file=sys.stderr)
        return 2
    from pyspark.sql import functions as F

    out = df.withColumn(args.text_col, redact(args.text_col, kinds))
    convert(out, args.output, args.fmt, mode="overwrite")
    counts = df.agg(
        *[F.sum(pattern_count(args.text_col, k)).alias(k) for k in kinds]
    ).collect()[0]
    stats = ", ".join(f"{k}={counts[k] or 0}" for k in kinds)
    print(f"scrubbed {args.output} ({stats})", file=sys.stderr)
    return 0


def cmd_clean(args) -> int:
    from pyspark.sql import functions as F

    from .functions.textfns import clean_text
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    out = df.withColumn(args.text_col, clean_text(args.text_col))
    if args.unicode_form:
        from .functions.textfns import unicode_normalize

        out = out.withColumn(
            args.text_col, unicode_normalize(args.text_col, args.unicode_form)
        )
    convert(out, args.output, args.fmt, mode="overwrite")
    changed = (
        df.select(
            F.sum(
                (F.col(args.text_col) != clean_text(args.text_col)).cast("int")
            ).alias("n")
        ).collect()[0]["n"]
        or 0
    )
    print(f"cleaned {args.output} ({changed} rows changed)", file=sys.stderr)
    return 0


def cmd_htmlextract(args) -> int:
    from pyspark.sql import functions as F

    from .functions.textfns import html_to_text
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    out = df.withColumn(args.text_col, html_to_text(args.text_col))
    convert(out, args.output, args.fmt, mode="overwrite")
    n = out.count()
    print(f"extracted {args.output} ({n} rows)", file=sys.stderr)
    return 0


def cmd_urls(args) -> int:
    from .functions.urls import registrable_domain, url_host, url_normalize
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    out = df.withColumn(args.url_col, url_normalize(args.url_col))
    if args.host_col:
        out = out.withColumn(args.host_col, url_host(args.url_col))
    if args.domain_col:
        out = out.withColumn(args.domain_col, registrable_domain(args.url_col))
    convert(out, args.output, args.fmt, mode="overwrite")
    print(f"normalized URLs -> {args.output}", file=sys.stderr)
    return 0


def cmd_impute(args) -> int:
    from pyspark.sql import functions as F

    from .operators.impute import impute_mean, impute_mode
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    cols = [c.strip() for c in args.cols.split(",") if c.strip()]
    gcols = (
        [c.strip() for c in args.group_cols.split(",") if c.strip()]
        if args.group_cols
        else None
    )
    if args.strategy == "mean":
        out = impute_mean(df, cols, group_cols=gcols)
    else:
        out = df
        for c in cols:
            out = impute_mode(out, c, group_cols=gcols)
    convert(out, args.output, args.fmt, mode="overwrite")
    filled = out.agg(
        *[F.sum(F.col(c + "_was_null").cast("int")).alias(c) for c in cols]
    ).collect()[0]
    stats = ", ".join(f"{c}={filled[c] or 0}" for c in cols)
    print(f"imputed {args.output} ({stats} filled)", file=sys.stderr)
    return 0


def cmd_bpe_train(args) -> int:
    from .functions.bpe import bpe_train
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    merges = bpe_train(
        df, n_merges=args.n_merges, text_col=args.text_col,
        min_freq=args.min_freq,
    )
    with open(args.output, "w", encoding="utf-8") as fh:
        fh.write("# learned by bpe-train; rank = line order\n")
        for left, right, _ in merges:
            fh.write(f"{left} {right}\n")
    print(f"wrote {len(merges)} merges to {args.output}", file=sys.stderr)
    return 0


def cmd_bloomdedup(args) -> int:
    from pyspark.sql import functions as F

    from .functions.bloom import bloom_prefiltered_anti_join
    from .sources.formats import convert, read_any

    spark = _session(args)
    new = read_any(spark, args.input, args.fmt)
    old = read_any(spark, args.reference, args.fmt)
    key = "__key"
    new_k = new.withColumn(key, F.md5(F.col(args.text_col)))
    old_k = old.select(F.md5(F.col(args.text_col)).alias(key))
    out = bloom_prefiltered_anti_join(
        new_k, old_k, key, n_bits=args.n_bits
    ).drop(key)
    convert(out, args.output, args.fmt, mode="overwrite")
    n_in = new.count()
    n_out = read_any(spark, args.output, args.fmt).count()
    print(f"kept {n_out}/{n_in} not in reference", file=sys.stderr)
    return 0


def cmd_upsample(args) -> int:
    from .functions.sampling import epoch_upsample
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    factors = {}
    for spec in args.factor:
        name, _, val = spec.partition(":")
        factors[name] = float(val)
    out = epoch_upsample(df, args.strata_col, factors, key=args.key)
    convert(out, args.output, args.fmt, mode="overwrite")
    n_in = df.count()
    n_out = read_any(spark, args.output, args.fmt).count()
    print(f"emitted {n_out} rows from {n_in} ({factors})", file=sys.stderr)
    return 0


def cmd_drift(args) -> int:
    from .operators.drift import schema_drift_report
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    rows = (
        schema_drift_report(spark, df, args.json_col, args.group_col)
        .orderBy("group_key", "field")
        .collect()
    )
    for r in rows:
        flag = "" if r["drift"] == "same" else f"  <-- {r['drift']}"
        print(
            f"{r['group_key']}\t{r['field']}\t{r['group_class']}"
            f" (global {r['global_class']}){flag}"
        )
    return 0


def cmd_profile(args) -> int:
    from .operators.profile import profile
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    cols = args.columns.split(",") if args.columns else None
    rows = profile(df, cols, approx=args.approx).collect()
    w = max(len(r["column"]) for r in rows)
    for r in rows:
        print(
            f"{r['column']:<{w}}  n={r['n']}  null={r['n_null']}  "
            f"distinct={r['n_distinct']}  min={r['min_s']}  max={r['max_s']}"
        )
    return 0



def cmd_concentration(args) -> int:
    """Lorenz bands + Gini over a grouping key — the "top 10% of
    domains produce X% of the corpus" curation diagnostic."""
    from .operators.profile import concentration_report
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    rows = concentration_report(
        df, args.group_col, weight_col=args.weight_col, n_bands=args.bands
    ).collect()
    for r in rows:
        print(
            f"band={r['band']:<3} groups={r['n_groups']:<8} "
            f"share={r['band_share']:<9} cum={r['cum_share']}"
        )
    if rows:
        print(f"gini: {rows[0]['gini']}")
    return 0


def cmd_dpcounts(args) -> int:
    """Differentially-private group-count release (Laplace, seeded)."""
    from .operators.quality_checks import dp_noisy_counts
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    rows = (
        dp_noisy_counts(
            df,
            args.group_cols.split(","),
            epsilon=args.epsilon,
            sensitivity=args.sensitivity,
            seed=args.seed,
        )
        .orderBy(*args.group_cols.split(","))
        .collect()
    )
    for r in rows:
        d = r.asDict()
        keys = " ".join(
            f"{c}={d[c]}" for c in args.group_cols.split(",")
        )
        print(f"{keys}  noisy_count={d['noisy_count']}")
    return 0


def cmd_leakage(args) -> int:
    """Train/holdout leakage gate: exit non-zero when any exact-content
    fingerprint straddles the split boundary (the eval-hygiene sibling
    of ``check``)."""
    from .operators.quality_checks import split_leakage_report
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    leaked = (
        split_leakage_report(
            df,
            split_col=args.split_col,
            content_col=args.content_col,
            holdout_value=args.holdout_value,
        )
        .orderBy("fingerprint")
        .collect()
    )
    for r in leaked[: args.show]:
        print(f"{r['fingerprint']}  train={r['n_train']}  holdout={r['n_holdout']}")
    print(f"leaked fingerprints: {len(leaked)}")
    return 1 if leaked else 0


def cmd_check(args) -> int:
    """Data-quality gate: evaluate declarative constraints and exit
    non-zero if any rule fails — the promotion-gate contract (wire it
    into the job that publishes a table)."""
    from .operators.quality_checks import (
        partition_completeness,
        quality_report,
        ref_integrity_violations,
    )
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    ranges = {}
    for spec in args.range or []:
        col, lo, hi = spec.split(":")
        ranges[col] = (float(lo), float(hi))
    accepted = {}
    for spec in args.accepted or []:
        col, vals = spec.split(":", 1)
        accepted[col] = vals.split("|")
    report = None
    if args.not_null or args.unique or ranges or accepted:
        report = quality_report(
            df,
            not_null=args.not_null.split(",") if args.not_null else None,
            unique=args.unique.split(",") if args.unique else None,
            accepted_values=accepted or None,
            ranges=ranges or None,
        )
    if args.ref:
        child_key, parent_path, parent_key = args.ref.split(":")
        ri = ref_integrity_violations(
            df, child_key, read_any(spark, parent_path, args.fmt), parent_key
        )
        report = ri if report is None else report.unionByName(ri)
    if report is None:
        print("declare at least one rule", file=sys.stderr)
        return 2
    rows = report.orderBy("rule", "column").collect()
    failed = 0
    for r in rows:
        mark = "PASS" if r["passed"] else "FAIL"
        failed += 0 if r["passed"] else 1
        print(
            f"{mark}  {r['rule']:<16} {r['column']:<20} "
            f"violations={r['violations']}/{r['n_rows']}"
        )
    if args.completeness:
        gaps = partition_completeness(df, args.completeness).collect()
        for g in gaps:
            print(f"FAIL  completeness      {args.completeness:<20} "
                  f"missing={g['missing_day']}")
        failed += len(gaps)
        if not gaps:
            print(f"PASS  completeness      {args.completeness:<20} no gaps")
    return 1 if failed else 0


def cmd_classify(args) -> int:
    """Score documents with a linear bag-of-words model (JSON file:
    {"bias": float, "weights": {token: weight}}) and write the scored
    table; prints the score distribution to stderr."""
    import json as _json

    from .operators.classify import linear_text_score
    from .sources.formats import read_any

    spark = _session(args)
    model = _json.loads(open(args.model).read())
    df = read_any(spark, args.input, args.fmt)
    scored = linear_text_score(
        df,
        model["weights"],
        bias=float(model.get("bias", 0.0)),
        text_col=args.text_col,
        how=args.how,
    )
    scored.write.mode("overwrite").parquet(args.output)
    from pyspark.sql import functions as F

    stats = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("quality_prob"), 4).alias("mean"),
        F.round(F.min("quality_prob"), 4).alias("min"),
        F.round(F.max("quality_prob"), 4).alias("max"),
    ).collect()[0]
    print(
        f"scored {stats['n']} docs -> {args.output} "
        f"(mean={stats['mean']} min={stats['min']} max={stats['max']})",
        file=sys.stderr,
    )
    return 0


def cmd_fit_classifier(args) -> int:
    """Train the linear quality classifier on labeled docs and write the
    model JSON `classify` consumes ({"bias": b, "weights": {tok: w}})."""
    import json as _json

    from .operators.classify import fit_linear_classifier
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    model = fit_linear_classifier(
        df,
        args.label_col,
        text_col=args.text_col,
        vocab_size=args.vocab_size,
        lr=args.lr,
        iters=args.iters,
        l2=args.l2,
    )
    with open(args.model, "w") as fh:
        _json.dump(
            {"bias": model["bias"], "weights": model["weights"]},
            fh,
            indent=1,
            sort_keys=True,
        )
    print(
        f"fit {len(model['weights'])}-token model on {model['n_docs']} docs "
        f"(log_loss={model['log_loss']:.4f}) -> {args.model}",
        file=sys.stderr,
    )
    return 0


def cmd_dsir(args) -> int:
    """DSIR importance weights: score every doc by hashed-bigram
    similarity to a target slice (--target is a SQL boolean over the
    input's columns) vs the raw corpus; writes (id, n_bigrams,
    dsir_weight) parquet."""
    from pyspark.sql import functions as F

    from .operators.selection import dsir_importance_weights
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    out = dsir_importance_weights(
        df,
        F.expr(args.target),
        text_col=args.text_col,
        id_col=args.key,
        n_buckets=args.buckets,
        alpha=args.alpha,
    )
    out.write.mode("overwrite").parquet(args.output)
    stats = (
        spark.read.parquet(args.output)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("dsir_weight"), 4).alias("mean"),
            F.round(F.min("dsir_weight"), 4).alias("min"),
            F.round(F.max("dsir_weight"), 4).alias("max"),
        )
        .collect()[0]
    )
    print(
        f"weighted {stats['n']} docs -> {args.output} "
        f"(mean={stats['mean']} min={stats['min']} max={stats['max']})",
        file=sys.stderr,
    )
    return 0


def cmd_compact(args) -> int:
    from .sources.formats import compact

    spark = _session(args)
    n = compact(
        spark,
        args.path,
        fmt=args.fmt,
        target_file_mb=args.target_file_mb,
        sort_by=args.sort_by.split(",") if args.sort_by else None,
    )
    print(f"compacted {args.path} -> {n} file(s)", file=sys.stderr)
    return 0


def cmd_prep(args) -> int:
    """The composed training-data prep pipeline as one command:
    quality filter → exact dedup (keep min id) → optional benchmark
    decontamination → deterministic train/holdout split → partitioned
    write. Per-stage counts go to stderr."""
    from pyspark.sql import functions as F

    from .functions.sampling import hash_split
    from .operators.dedup import decontaminate, exact_dedup
    from .operators.text import quality_score
    from .sources.formats import convert, read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    stages = [("input", df.count())]

    # persist each stage: the per-stage counts and the final write must
    # not re-execute the whole upstream chain once per action
    if args.blocklist:
        from .operators.text import blocklist_filter

        with open(args.blocklist) as fh:
            words = [w.strip() for w in fh if w.strip()]
        df = blocklist_filter(
            df, words, text_col=args.text_col, action="drop"
        ).persist()
        stages.append(("blocklist", df.count()))

    scored = quality_score(df, args.text_col)
    df = scored.filter(F.col("quality") >= args.quality_min).drop(
        "len_score", "punct_score", "stop_score", "rep_score", "quality"
    ).persist()
    stages.append(("quality", df.count()))

    keep = exact_dedup(df, args.text_col, args.key).select(args.key)
    df = df.join(keep, args.key, "left_semi").persist()
    stages.append(("dedup", df.count()))

    if args.eval_dir:
        ev = read_any(spark, args.eval_dir, args.fmt)
        df = decontaminate(
            df, ev, args.text_col, args.key, k=args.decontam_k
        ).persist()
        stages.append(("decontam", df.count()))

    out = hash_split(df, args.key, holdout_sixteenths=args.holdout_sixteenths)
    convert(out, args.output, args.fmt, mode="overwrite", partition_by=["split"])
    for name, n in stages:
        print(f"{name}: {n}", file=sys.stderr)
    return 0


def cmd_benford(args) -> int:
    """Benford first-digit forensic audit of a numeric column."""
    from .operators.profile import benford_report
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    for r in benford_report(df, args.column).collect():
        print(
            f"digit={r['digit']} n={r['n_obs']:<10} obs_ppm={r['obs_ppm']:<8} "
            f"expected_ppm={r['expected_ppm']:<8} dev_ppm={r['dev_ppm']}"
        )
    return 0


def cmd_survival(args) -> int:
    """Kaplan-Meier / Nelson-Aalen repeat-event survival curve."""
    from .operators.survival import kaplan_meier, subject_durations
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    subj = subject_durations(
        df, key=args.key, date_col=args.date_col, tiebreak=args.tiebreak
    )
    rows = kaplan_meier(subj).collect()
    for r in rows[: args.show]:
        print(
            f"t={r['t_day']:<6} at_risk={r['n_risk']:<8} events={r['d']:<6} "
            f"S(t)={r['survival_q'] / 1e12:.6f} H(t)={r['hazard_q'] / 1e12:.6f}"
        )
    if len(rows) > args.show:
        print(f"... {len(rows) - args.show} more event times")
    return 0


def cmd_kanon(args) -> int:
    """Minimal-generalization k-anonymity enforcement ladder."""
    from .operators.quality_checks import k_anonymize_ladder
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    rows = k_anonymize_ladder(
        df,
        group_cols=args.group_cols.split(","),
        numeric_col=args.numeric_col,
        k=args.k,
        max_j=args.max_j,
    ).collect()
    if not rows:
        print(
            f"INFEASIBLE: no band width <= 2^{args.max_j} reaches k={args.k} "
            "(generalize the group columns too)"
        )
        return 1
    r = rows[0]
    print(
        f"width={r['width']} (j={r['j_star']}) classes={r['n_classes']} "
        f"min_class={r['min_class_size']} max_class={r['max_class_size']}"
    )
    return 0


def cmd_forecast(args) -> int:
    """Walk-forward EWMA daily-volume backtest per group."""
    from .operators.forecast import ewma_backtest
    from .sources.formats import read_any

    spark = _session(args)
    df = read_any(spark, args.input, args.fmt)
    for r in ewma_backtest(
        df, group_col=args.group_col, ts_col=args.ts_col, window=args.window
    ).orderBy("g").collect():
        print(
            f"{r['g']}: days={r['n_days']} forecasts={r['n_forecasts']} "
            f"mae={r['mae_ppm'] / 1e6:.3f}"
        )
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL over a directory of parquet tables: every
    ``<name>.parquet`` in --tables-dir is registered as a temp view
    ``<name>``, then the statement runs and prints (or writes)."""
    import glob
    import os as _os

    from .plans.queries import load_table

    spark = _session(args)
    names = [
        _os.path.basename(p)[: -len(".parquet")]
        for p in glob.glob(_os.path.join(args.tables_dir, "*.parquet"))
    ]
    if not names:
        print(f"no *.parquet tables in {args.tables_dir}", file=sys.stderr)
        return 2
    for name in sorted(names):
        load_table(spark, args.tables_dir, name).createOrReplaceTempView(name)
    df = spark.sql(args.statement)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}", file=sys.stderr)
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_shard(args) -> int:
    """Export a parquet table as deterministic training shards +
    manifest (sources/shards.write_training_shards)."""
    from .sources.shards import write_training_shards

    spark = _session(args)
    df = spark.read.parquet(args.input)
    manifest = write_training_shards(
        df,
        args.output,
        key=args.key,
        n_shards=args.n_shards,
        seed=args.seed,
        token_col=args.token_col,
    )
    for r in manifest.collect():
        print(f"shard={r['shard']} rows={r['n_rows']} tokens={r['n_tokens']}")
    return 0


def cmd_chatcheck(args) -> int:
    """Validate a chat NDJSON corpus (sources/chat.py): counts per
    channel, violation breakdown, optional quarantine writes."""
    from pyspark.sql import functions as F

    from .sources.chat import read_chat_ndjson, split_chat_validity

    spark = _session(args)
    good, bad_json, invalid = split_chat_validity(
        read_chat_ndjson(spark, args.input)
    )
    invalid = invalid.cache()
    n_good, n_bad, n_inv = good.count(), bad_json.count(), invalid.count()
    print(f"good={n_good} bad_json={n_bad} invalid={n_inv}")
    for r in (
        invalid.groupBy("violation").count().orderBy(F.desc("count")).collect()
    ):
        print(f"  violation={r['violation']} n={r['count']}")
    if args.quarantine:
        bad_json.write.mode("overwrite").json(f"{args.quarantine}/bad_json")
        invalid.drop("turns").write.mode("overwrite").json(
            f"{args.quarantine}/invalid"
        )
        print(f"-- quarantined under {args.quarantine}", file=sys.stderr)
    invalid.unpersist()
    return 0


def cmd_explain(args) -> int:
    from .plans.queries import QUERIES

    spark = _session(args)
    if args.query not in QUERIES:
        print(f"unknown query {args.query!r}; one of: "
              f"{', '.join(sorted(QUERIES))}", file=sys.stderr)
        return 2
    df = QUERIES[args.query](spark, args.sf_dir)
    df.explain(mode=args.mode)
    return 0


def cmd_stream(args) -> int:
    from .streaming.infer_stream import run_inference_stream

    spark = _session(args)
    q, state = run_inference_stream(
        spark,
        args.input,
        args.table,
        args.location,
        checkpoint_dir=args.checkpoint,
        quarantine_path=args.quarantine,
        available_now=True,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    finished = q.awaitTermination(args.timeout)
    if not finished:
        # the availableNow drain outran --timeout: stop the query instead
        # of abandoning it, flag the partial state, and exit non-zero so
        # callers don't mistake a truncated drain for a completed one
        q.stop()
        print(
            f"warning: stream did not drain within {args.timeout}s; "
            f"state below is partial",
            file=sys.stderr,
        )
    if state.current_ddl is not None:
        print(state.current_ddl)
    for alter in state.alter_history:
        print(alter)
    print(
        f"good={state.good_rows} bad={state.bad_rows} "
        f"batches={state.batches}",
        file=sys.stderr,
    )
    return 0 if finished else 3


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="nifi_hive_schema_generator_bundle_spark")
    p.add_argument("--master", default=None, help="Spark master (default: env/local[*])")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("infer", help="infer Hive DDL from NDJSON")
    pi.add_argument("input")
    pi.add_argument("--table", required=True)
    pi.add_argument("--location", required=True)
    pi.add_argument("--register", action="store_true", help="also execute the DDL against the session catalog")
    pi.add_argument("--drop-if-exists", action="store_true")
    pi.set_defaults(fn=cmd_infer)

    pr = sub.add_parser("route", help="valid/invalid routing counts")
    pr.add_argument("input")
    pr.add_argument("--quarantine", default=None, help="write invalid lines here")
    pr.set_defaults(fn=cmd_route)

    pg = sub.add_parser("group", help="one DDL per value of a routing column")
    pg.add_argument("input")
    pg.add_argument("--table-col", required=True)
    pg.add_argument("--location-fmt", default="/warehouse/{table}")
    pg.set_defaults(fn=cmd_group)

    pc = sub.add_parser("convert", help="re-materialize data in another format")
    pc.add_argument("input")
    pc.add_argument("output")
    pc.add_argument("--from-fmt", required=True)
    pc.add_argument("--to-fmt", required=True)
    pc.add_argument("--mode", default="error")
    pc.add_argument("--partition-by", default=None, help="comma-separated columns")
    pc.add_argument("--compression", default=None)
    pc.set_defaults(fn=cmd_convert)

    ps = sub.add_parser("sample", help="deterministic hash split/sample")
    ps.add_argument("input")
    ps.add_argument("output")
    ps.add_argument("--fmt", default="parquet")
    ps.add_argument("--key", required=True, help="stable id column to hash")
    ps.add_argument("--mode", choices=["split", "sample"], default="split")
    ps.add_argument("--sixteenths", type=int, default=2,
                    help="holdout (split) or keep (sample) fraction, n/16")
    ps.set_defaults(fn=cmd_sample)

    pd_ = sub.add_parser("dedup", help="exact/near-dup text dedup, keep min-id doc")
    pd_.add_argument("input")
    pd_.add_argument("output")
    pd_.add_argument("--fmt", default="parquet")
    pd_.add_argument("--key", default="doc_id", help="stable id column")
    pd_.add_argument("--text-col", default="text")
    pd_.add_argument("--method",
                     choices=["exact", "minhash", "simhash",
                              "paragraph", "sentence"],
                     default="exact")
    pd_.add_argument("--threshold", type=float, default=0.5,
                     help="minhash: estimated-Jaccard cutoff")
    pd_.add_argument("--max-hamming", type=int, default=3,
                     help="simhash: Hamming radius (<=3 complete)")
    pd_.set_defaults(fn=cmd_dedup)

    pm = sub.add_parser("mixture", help="reweight corpus to target strata mix")
    pm.add_argument("input")
    pm.add_argument("output")
    pm.add_argument("--targets", help="e.g. en=0.6,fr=0.2,de=0.2")
    pm.add_argument("--alpha", type=float, default=None,
                    help="temperature sampling instead of explicit targets: "
                         "shares proportional to count^alpha (0.5 = mC4-style)")
    pm.add_argument("--strata-col", default="lang")
    pm.add_argument("--key", default="doc_id")
    pm.add_argument("--fmt", default="parquet")
    pm.set_defaults(fn=cmd_mixture)

    pts = sub.add_parser("select", help="best docs under a token budget")
    pts.add_argument("input")
    pts.add_argument("output")
    pts.add_argument("--budget", type=int, required=True)
    pts.add_argument("--text-col", default="text")
    pts.add_argument("--key", default="doc_id")
    pts.add_argument("--fmt", default="parquet")
    pts.set_defaults(fn=cmd_select)

    psp = sub.add_parser("spans", help="exact-substring duplicated-span stats/removal")
    psp.add_argument("input")
    psp.add_argument("output")
    psp.add_argument("--fmt", default="parquet")
    psp.add_argument("--key", default="doc_id")
    psp.add_argument("--text-col", default="text")
    psp.add_argument("--k", type=int, default=5, help="token k-gram span length")
    psp.add_argument("--min-count", type=int, default=2,
                     help="corpus occurrences for a gram to count as duplicated")
    psp.add_argument("--remove", action="store_true",
                     help="excise all-but-first occurrences instead of reporting stats")
    psp.set_defaults(fn=cmd_spans)

    pws = sub.add_parser("wsample", help="weighted sample without replacement (ES keys)")
    pws.add_argument("input")
    pws.add_argument("output")
    pws.add_argument("--n", type=int, required=True)
    pws.add_argument("--weight-col", required=True)
    pws.add_argument("--key", default="doc_id")
    pws.add_argument("--fmt", default="parquet")
    pws.set_defaults(fn=cmd_wsample)

    psc = sub.add_parser("scrub", help="PII/pattern redaction (email/url/phone/ip/number)")
    psc.add_argument("input")
    psc.add_argument("output")
    psc.add_argument("--fmt", default="parquet")
    psc.add_argument("--text-col", default="text")
    psc.add_argument("--kinds", default="email,url,phone,ip",
                     help="comma-separated pattern kinds, applied in order")
    psc.set_defaults(fn=cmd_scrub)

    pcl = sub.add_parser("clean", help="scraped-text cleanup (controls/zero-width/whitespace)")
    pcl.add_argument("input")
    pcl.add_argument("output")
    pcl.add_argument("--fmt", default="parquet")
    pcl.add_argument("--text-col", default="text")
    pcl.add_argument("--unicode-form", default="",
                     help="also Unicode-normalize (NFC/NFKC/NFD/NFKD)")
    pcl.set_defaults(fn=cmd_clean)

    phx = sub.add_parser(
        "htmlextract", help="HTML -> visible text (WET-style extraction)"
    )
    phx.add_argument("input")
    phx.add_argument("output")
    phx.add_argument("--fmt", default="parquet")
    phx.add_argument("--text-col", default="text")
    phx.set_defaults(fn=cmd_htmlextract)

    pur = sub.add_parser("urls", help="canonicalize URL column (+host/domain columns)")
    pur.add_argument("input")
    pur.add_argument("output")
    pur.add_argument("--fmt", default="parquet")
    pur.add_argument("--url-col", default="url")
    pur.add_argument("--host-col", default="")
    pur.add_argument("--domain-col", default="")
    pur.set_defaults(fn=cmd_urls)

    pim = sub.add_parser("impute", help="fill nulls with per-group mean/mode")
    pim.add_argument("input")
    pim.add_argument("output")
    pim.add_argument("--fmt", default="parquet")
    pim.add_argument("--cols", required=True,
                     help="comma-separated columns to fill")
    pim.add_argument("--group-cols", default=None,
                     help="comma-separated group keys (default: global)")
    pim.add_argument("--strategy", choices=["mean", "mode"], default="mean")
    pim.set_defaults(fn=cmd_impute)

    pbt = sub.add_parser("bpe-train", help="learn a BPE merge table from a corpus")
    pbt.add_argument("input")
    pbt.add_argument("output", help="merges file (one 'left right' pair per line)")
    pbt.add_argument("--fmt", default="parquet")
    pbt.add_argument("--text-col", default="text")
    pbt.add_argument("--n-merges", type=int, default=50)
    pbt.add_argument("--min-freq", type=int, default=1)
    pbt.set_defaults(fn=cmd_bpe_train)

    pbd = sub.add_parser("bloomdedup",
                         help="keep rows whose text is absent from a reference corpus")
    pbd.add_argument("input")
    pbd.add_argument("reference")
    pbd.add_argument("output")
    pbd.add_argument("--fmt", default="parquet")
    pbd.add_argument("--text-col", default="text")
    pbd.add_argument("--n-bits", type=int, default=1 << 20)
    pbd.set_defaults(fn=cmd_bloomdedup)

    pup = sub.add_parser("upsample", help="fractional epoch repeat factors per stratum")
    pup.add_argument("input")
    pup.add_argument("output")
    pup.add_argument("--fmt", default="parquet")
    pup.add_argument("--strata-col", default="lang")
    pup.add_argument("--key", default="doc_id")
    pup.add_argument("--factor", action="append", required=True,
                     metavar="STRATUM:F", help="repeatable, e.g. --factor en:1.0")
    pup.set_defaults(fn=cmd_upsample)

    pdr = sub.add_parser("drift", help="per-group schema drift over a JSON column")
    pdr.add_argument("input")
    pdr.add_argument("--json-col", required=True)
    pdr.add_argument("--group-col", required=True)
    pdr.add_argument("--fmt", default="parquet")
    pdr.set_defaults(fn=cmd_drift)

    pp = sub.add_parser("profile", help="one-scan column statistics")
    pp.add_argument("input")
    pp.add_argument("--fmt", default="parquet")
    pp.add_argument("--columns", default=None, help="comma-separated subset")
    pp.add_argument("--approx", action="store_true",
                    help="approx_count_distinct (HLL) instead of exact")
    pp.set_defaults(fn=cmd_profile)

    pcon = sub.add_parser(
        "concentration", help="Lorenz bands + Gini over a grouping key"
    )
    pcon.add_argument("input")
    pcon.add_argument("group_col")
    pcon.add_argument("--fmt", default="parquet")
    pcon.add_argument("--weight-col", default=None,
                      help="sum this column instead of counting rows")
    pcon.add_argument("--bands", type=int, default=10)
    pcon.set_defaults(fn=cmd_concentration)

    pdp = sub.add_parser(
        "dpcounts", help="differentially-private group counts (Laplace)"
    )
    pdp.add_argument("input")
    pdp.add_argument("group_cols", help="comma-separated group columns")
    pdp.add_argument("--fmt", default="parquet")
    pdp.add_argument("--epsilon", type=float, default=1.0)
    pdp.add_argument("--sensitivity", type=int, default=1)
    pdp.add_argument("--seed", default="dp")
    pdp.set_defaults(fn=cmd_dpcounts)

    pbf = sub.add_parser("benford", help="Benford first-digit forensic audit")
    pbf.add_argument("input")
    pbf.add_argument("column")
    pbf.add_argument("--fmt", default="parquet")
    pbf.set_defaults(fn=cmd_benford)

    psv = sub.add_parser(
        "survival", help="Kaplan-Meier repeat-event survival curve"
    )
    psv.add_argument("input")
    psv.add_argument("--key", required=True, help="subject key column")
    psv.add_argument("--date-col", required=True)
    psv.add_argument("--tiebreak", required=True,
                     help="unique column making the within-key order total")
    psv.add_argument("--fmt", default="parquet")
    psv.add_argument("--show", type=int, default=20)
    psv.set_defaults(fn=cmd_survival)

    pka = sub.add_parser(
        "kanon", help="minimal-generalization k-anonymity enforcement"
    )
    pka.add_argument("input")
    pka.add_argument("group_cols", help="comma-separated quasi-identifier columns")
    pka.add_argument("numeric_col", help="NON-NEGATIVE numeric column to band")
    pka.add_argument("--k", type=int, default=10)
    pka.add_argument("--max-j", type=int, default=20, dest="max_j")
    pka.add_argument("--fmt", default="parquet")
    pka.set_defaults(fn=cmd_kanon)

    pfo = sub.add_parser("forecast", help="EWMA daily-volume backtest per group")
    pfo.add_argument("input")
    pfo.add_argument("--group-col", required=True)
    pfo.add_argument("--ts-col", required=True)
    pfo.add_argument("--window", type=int, default=8)
    pfo.add_argument("--fmt", default="parquet")
    pfo.set_defaults(fn=cmd_forecast)

    pck = sub.add_parser("check", help="data-quality gate (non-zero exit on failure)")
    pck.add_argument("input")
    pck.add_argument("--fmt", default="parquet")
    pck.add_argument("--not-null", default=None, help="comma-separated columns")
    pck.add_argument("--unique", default=None, help="comma-separated columns")
    pck.add_argument("--range", action="append", default=None,
                     metavar="COL:LO:HI", help="repeatable numeric range rule")
    pck.add_argument("--accepted", action="append", default=None,
                     metavar="COL:V1|V2", help="repeatable accepted-values rule")
    pck.add_argument("--ref", default=None, metavar="KEY:PARENT_PATH:PARENT_KEY",
                     help="referential-integrity rule against a parent table")
    pck.add_argument("--completeness", default=None, metavar="TS_COL",
                     help="flag calendar-day gaps in this timestamp column")
    pck.set_defaults(fn=cmd_check)

    plk = sub.add_parser(
        "leakage", help="train/holdout exact-content leakage gate"
    )
    plk.add_argument("input")
    plk.add_argument("--fmt", default="parquet")
    plk.add_argument("--split-col", default="split")
    plk.add_argument("--content-col", default="text")
    plk.add_argument("--holdout-value", default="holdout")
    plk.add_argument("--show", type=int, default=10,
                     help="print at most this many leaked fingerprints")
    plk.set_defaults(fn=cmd_leakage)

    pcl = sub.add_parser("classify", help="linear bag-of-words quality scoring")
    pcl.add_argument("input")
    pcl.add_argument("output")
    pcl.add_argument("--model", required=True,
                     help='JSON file: {"bias": b, "weights": {token: w}}')
    pcl.add_argument("--fmt", default="parquet")
    pcl.add_argument("--text-col", default="text")
    pcl.add_argument("--how", default="map", choices=["map", "join"])
    pcl.set_defaults(fn=cmd_classify)

    pfc = sub.add_parser(
        "fit-classifier", help="train the linear quality classifier"
    )
    pfc.add_argument("input")
    pfc.add_argument("--model", required=True, help="output model JSON path")
    pfc.add_argument("--label-col", required=True,
                     help="boolean-castable label column (NULLs excluded)")
    pfc.add_argument("--fmt", default="parquet")
    pfc.add_argument("--text-col", default="text")
    pfc.add_argument("--vocab-size", type=int, default=2000)
    pfc.add_argument("--lr", type=float, default=1.0)
    pfc.add_argument("--iters", type=int, default=20)
    pfc.add_argument("--l2", type=float, default=0.0)
    pfc.set_defaults(fn=cmd_fit_classifier)

    pdw = sub.add_parser(
        "dsir", help="DSIR importance weights vs a target slice"
    )
    pdw.add_argument("input")
    pdw.add_argument("output")
    pdw.add_argument("--target", required=True,
                     help="SQL boolean marking target rows, e.g. \"source = 'wiki'\"")
    pdw.add_argument("--fmt", default="parquet")
    pdw.add_argument("--key", default="doc_id")
    pdw.add_argument("--text-col", default="text")
    pdw.add_argument("--buckets", type=int, default=1024)
    pdw.add_argument("--alpha", type=float, default=1.0)
    pdw.set_defaults(fn=cmd_dsir)

    pk = sub.add_parser("compact", help="rewrite small files to ~target size")
    pk.add_argument("path")
    pk.add_argument("--fmt", default="parquet")
    pk.add_argument("--target-file-mb", type=float, default=256)
    pk.add_argument("--sort-by", default=None,
                    help="comma-separated clustering columns (e.g. a z-order key)")
    pk.set_defaults(fn=cmd_compact)

    pq = sub.add_parser("prep", help="composed training-data prep pipeline")
    pq.add_argument("input")
    pq.add_argument("output")
    pq.add_argument("--fmt", default="parquet")
    pq.add_argument("--key", default="doc_id")
    pq.add_argument("--text-col", default="text")
    pq.add_argument("--quality-min", type=float, default=0.5)
    pq.add_argument("--blocklist", default=None,
                    help="file of banned tokens (one per line); drops docs "
                         "containing any, before the quality stage")
    pq.add_argument("--eval-dir", default=None,
                    help="benchmark dir; drops docs sharing k-grams with it")
    pq.add_argument("--decontam-k", type=int, default=8)
    pq.add_argument("--holdout-sixteenths", type=int, default=2)
    pq.set_defaults(fn=cmd_prep)

    psh = sub.add_parser(
        "shard", help="export parquet as deterministic training shards"
    )
    psh.add_argument("input")
    psh.add_argument("output")
    psh.add_argument("--key", required=True, help="id column the md5 shuffle keys on")
    psh.add_argument("--n-shards", type=int, required=True)
    psh.add_argument("--seed", default="")
    psh.add_argument("--token-col", default=None)
    psh.set_defaults(fn=cmd_shard)

    pcc = sub.add_parser(
        "chatcheck", help="validate a chat NDJSON corpus (messages layout)"
    )
    pcc.add_argument("input")
    pcc.add_argument("--quarantine", default=None,
                     help="write bad_json/ and invalid/ under this dir")
    pcc.set_defaults(fn=cmd_chatcheck)

    psql = sub.add_parser("sql", help="ad-hoc SQL over a dir of parquet tables")
    psql.add_argument("statement")
    psql.add_argument("--tables-dir", default="/root/testdata/sf0.001",
                      help="dir whose <name>.parquet files become views")
    psql.add_argument("--output", default=None, help="write parquet here instead of printing")
    psql.add_argument("--limit", type=int, default=20, help="rows to print")
    psql.set_defaults(fn=cmd_sql)

    pe = sub.add_parser("explain", help="print a registered query's physical plan")
    pe.add_argument("query", help="a queries() registry name")
    pe.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pe.add_argument("--mode", default="formatted",
                    choices=["simple", "extended", "codegen", "cost", "formatted"])
    pe.set_defaults(fn=cmd_explain)

    pst = sub.add_parser("stream", help="streaming inference over an NDJSON dir")
    pst.add_argument("input")
    pst.add_argument("--table", required=True)
    pst.add_argument("--location", required=True)
    pst.add_argument("--checkpoint", required=True)
    pst.add_argument("--quarantine", default=None)
    pst.add_argument("--timeout", type=int, default=300, help="drain timeout sec")
    pst.add_argument("--max-files-per-trigger", type=int, default=None,
                     help="micro-batch size throttle for large backlogs")
    pst.set_defaults(fn=cmd_stream)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
