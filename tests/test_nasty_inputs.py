"""Robustness sweep: every text-path operator must survive NULL text,
empty strings, whitespace-only docs, unicode (CJK/emoji/RTL), and a
pathologically long document — no exceptions, no dropped ids unless the
operator's contract says so. At 100 TB every one of these rows exists."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

NASTY_ROWS = [
    (0, "normal english text with the usual words", "en"),
    (1, None, "en"),
    (2, "", "fr"),
    (3, "   \t  \n ", "fr"),
    (4, "漢字テキスト 中文 日本語", "zh"),
    (5, "🚀🚀🚀 emoji only 🎉", "de"),
    (6, "مرحبا بالعالم نص عربي", "de"),
    (7, "x " * 20000, "es"),  # 40 K chars, 20 K identical tokens
    (8, "single", "es"),
]


@pytest.fixture(scope="module")
def nasty(spark):
    return spark.createDataFrame(
        NASTY_ROWS, "doc_id long, text string, lang string"
    ).cache()


def test_token_and_quality_ops_cover_all_rows(nasty):
    from nifi_hive_schema_generator_bundle_spark.operators.text import (
        quality_score,
        token_stats,
    )

    ts = token_stats(nasty)
    assert ts.count() == len(NASTY_ROWS)
    got = {r["doc_id"]: r["ws_token_count"] for r in ts.collect()}
    assert got[2] == 0 and got[3] == 0 and got[7] == 20000
    assert got[1] is None  # NULL text propagates NULL counts, no crash

    qs = quality_score(nasty)
    assert qs.count() == len(NASTY_ROWS)
    q = {r["doc_id"]: r["quality"] for r in qs.collect()}
    assert q[0] is not None and 0.0 <= q[0] <= 1.0
    assert q[7] is not None  # repetition-heavy doc scores, not crashes


def test_fingerprint_and_dedup_handle_nulls(nasty):
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        exact_dedup,
    )
    from nifi_hive_schema_generator_bundle_spark.operators.text import (
        fingerprint,
    )

    fp = fingerprint(nasty)
    assert fp.count() == len(NASTY_ROWS)
    # exact dedup keeps one doc per distinct normalized text; nulls survive
    kept = exact_dedup(nasty, "text", "doc_id")
    assert 0 < kept.count() <= len(NASTY_ROWS)


def test_language_id_defaults_und(nasty):
    from nifi_hive_schema_generator_bundle_spark.operators.text import (
        language_id,
    )

    out = {r["doc_id"]: r["pred_lang"] for r in language_id(nasty).collect()}
    assert out[4] == "und"  # no stopword hits → undetermined
    assert out[0] == "en"


def test_unigram_logprob_skips_tokenless_docs(nasty):
    from nifi_hive_schema_generator_bundle_spark.operators.text import (
        unigram_logprob_score,
    )

    out = {r["doc_id"]: r["lm_score"] for r in unigram_logprob_score(nasty).collect()}
    # docs with no tokens (null/empty/ws-only) simply have no row
    assert set(out) == {0, 4, 5, 6, 7, 8}
    assert all(v < 0 for v in out.values())


def test_selection_and_chunking_survive(nasty):
    from nifi_hive_schema_generator_bundle_spark.operators.packing import (
        chunk_documents,
    )
    from nifi_hive_schema_generator_bundle_spark.operators.selection import (
        token_budget_select,
    )

    sel = token_budget_select(nasty, 100_000)
    assert sel.count() >= 1  # no crash on null/empty text
    chunks = chunk_documents(nasty, chunk_tokens=64, overlap=16)
    n = chunks.count()
    assert n >= 20000 // 48  # the long doc chunks fully


def test_decontamination_with_nasty_eval(nasty):
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        contaminated_ids,
    )

    ev = nasty.filter(F.col("doc_id").isin(0, 1, 2))
    flagged = {r["doc_id"] for r in contaminated_ids(nasty, ev, k=3).collect()}
    assert 0 in flagged  # real overlap found despite null/empty eval rows


def test_drift_report_on_garbage_json_column(spark, nasty):
    from nifi_hive_schema_generator_bundle_spark.operators.drift import (
        schema_drift_report,
    )

    tagged = nasty.select("lang", F.col("text").alias("payload"))
    rep = schema_drift_report(spark, tagged, "payload", "lang")
    # nothing parses as a JSON object → empty report, no exception
    assert rep.count() == 0


# keys from ``_keys`` in tests/test_lattice_properties.py plus a backtick
# inside a name; case pairs (a/A) and names that sanitize onto each other
# (x.y/x-y) are left out, since Spark and Hive column names are
# case-insensitive and ``render_spark_ddl`` rejects them
AWKWARD_KEYS = ["`", "``", "a`b", ":", ",", ">", "<", " ", "", "OBJECT<",
                "ARRAY<", "a b", "x: y, z", "DECIMAL(38,0)"]


def test_awkward_keys_register(spark, tmp_path):
    import json

    from nifi_hive_schema_generator_bundle_spark.catalog import (
        infer_and_register,
    )
    from nifi_hive_schema_generator_bundle_spark.operators.infer import (
        infer_schema_df,
    )
    from nifi_hive_schema_generator_bundle_spark.plans.lattice import (
        finalize_type,
        type_to_dict,
    )
    from nifi_hive_schema_generator_bundle_spark.plans.render import (
        sanitize_schema,
    )

    path = tmp_path / "awkward.ndjson"
    path.write_text(
        json.dumps({k: {j: [{j: 1}] for j in AWKWARD_KEYS} for k in AWKWARD_KEYS})
        + "\n"
        + json.dumps({k: None for k in AWKWARD_KEYS})
        + "\n"
    )
    res = infer_and_register(spark, str(path), "awkward_keys", str(tmp_path / "loc"))
    try:
        assert (res["good_count"], res["bad_count"]) == (2, 0)
        want = sanitize_schema(finalize_type(infer_schema_df(spark.read.text(str(path)))))
        assert type_to_dict(spark.table("awkward_keys").schema) == type_to_dict(want)
    finally:
        spark.sql("DROP TABLE IF EXISTS awkward_keys")
