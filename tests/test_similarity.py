"""ANN search tests on the driver-generated embeddings table."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)


@pytest.fixture(scope="module")
def emb(spark, sf_smoke_dir):
    return spark.read.parquet(os.path.join(sf_smoke_dir, "embeddings.parquet"))


@pytest.fixture(scope="module")
def queries(spark, emb):
    return (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def test_brute_force_self_is_top1(spark, emb, queries):
    res = brute_force_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert rows[0].vec_id == qid          # self-match first
        assert rows[0].cosine == pytest.approx(1.0, abs=1e-4)
        assert len(rows) == 5
        assert all(rows[i].cosine >= rows[i + 1].cosine for i in range(4))


def test_brute_force_matches_numpy(spark, emb, queries):
    import numpy as np

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    q0 = vecs[0]
    sims = {
        vid: float(v @ q0 / (np.linalg.norm(v) * np.linalg.norm(q0)))
        for vid, v in vecs.items()
    }
    expected = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = (
        brute_force_topk(emb, queries.filter("query_id = 0"), k=5)
        .orderBy("rank")
        .collect()
    )
    for (evid, esim), r in zip(expected, got):
        assert r.vec_id == evid
        assert r.cosine == pytest.approx(esim, abs=1e-4)


def test_lsh_topk_recall(spark, emb, queries):
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = lsh_topk(emb, queries, k=5, n_planes=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    # self-match always survives LSH (identical bucket), recall is approximate
    recalls = []
    for qid, want in exact_sets.items():
        got = approx_sets.get(qid, set())
        assert qid in got
        recalls.append(len(got & want) / len(want))
    assert sum(recalls) / len(recalls) >= 0.2  # sanity floor for 8 planes


def test_broadcast_in_brute_force_plan(spark, emb, queries):
    plan = (
        brute_force_topk(emb, queries, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_full_probe_equals_brute_force(spark, sf_smoke_dir):
    from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_smoke_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    full_probe = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(emb, q, k=5, n_centroids=8, nprobe=8).collect()
    }
    assert exact == full_probe


def test_ivf_partial_probe_subset_and_shape(spark, sf_smoke_dir):
    from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_smoke_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = ivf_topk(emb, q, k=5, n_centroids=8, nprobe=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert len(rs) <= 5
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # a query's own vector is in its probed cell -> always rank 1
        assert rs[0]["vec_id"] == qid or any(r["vec_id"] == qid for r in rs)


class TestQuantization:
    def test_roundtrip_error_within_half_step(self, spark, sf_smoke_dir):
        from nifi_hive_schema_generator_bundle_spark.functions.vectors import (
            dequantize_int8,
            quantize_int8,
        )
        from nifi_hive_schema_generator_bundle_spark.plans.queries import (
            load_table,
        )
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_smoke_dir, "embeddings").limit(100)
        q = emb.withColumn("qz", quantize_int8("embedding"))
        checked = q.select(
            F.array_max(
                F.zip_with(
                    F.transform("embedding", lambda x: x.cast("double")),
                    dequantize_int8("qz"),
                    lambda a, b: F.abs(a - b),
                )
            ).alias("max_err"),
            (F.col("qz.scale") / 254.0 + 1e-12).alias("bound"),
        ).collect()
        assert checked and all(r.max_err <= r.bound for r in checked)

    def test_zero_vector_safe(self, spark):
        from nifi_hive_schema_generator_bundle_spark.functions.vectors import (
            dequantize_int8,
            quantize_int8,
        )
        from pyspark.sql import functions as F

        row = (
            spark.createDataFrame([([0.0, 0.0, 0.0],)], "embedding array<float>")
            .select(dequantize_int8(quantize_int8("embedding")).alias("d"))
            .collect()[0]
        )
        assert row.d == [0.0, 0.0, 0.0]

    def test_codes_are_int8_bounded(self, spark, sf_smoke_dir):
        from nifi_hive_schema_generator_bundle_spark.functions.vectors import (
            quantize_int8,
        )
        from nifi_hive_schema_generator_bundle_spark.plans.queries import (
            load_table,
        )
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_smoke_dir, "embeddings").limit(50)
        mx = (
            emb.select(quantize_int8("embedding").alias("qz"))
            .select(F.array_max(F.transform("qz.q", F.abs)).alias("m"))
            .agg(F.max("m"))
            .collect()[0][0]
        )
        assert mx <= 127


def test_freq_items_surfaces_planted_heavy_hitter(spark):
    from pyspark.sql import functions as F

    # 500 distinct singletons + one user with 100 events (~17% support)
    base = spark.range(500).select(F.col("id").alias("user_id"))
    heavy = spark.range(100).select(F.lit(99999).alias("user_id"))
    df = base.union(heavy)
    out = df.freqItems(["user_id"], support=0.1).collect()[0][0]
    assert 99999 in out


class TestQuantizedRerank:
    def _frames(self, spark, sf_smoke_dir, nq=5):
        from nifi_hive_schema_generator_bundle_spark.plans.queries import (
            load_table,
        )

        emb = load_table(spark, sf_smoke_dir, "embeddings")
        queries = (
            emb.limit(nq)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        return emb, queries

    def test_full_candidates_equals_brute_force(self, spark, sf_smoke_dir):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            brute_force_topk,
            quantized_rerank_topk,
        )

        emb, queries = self._frames(spark, sf_smoke_dir, nq=3)
        n = emb.count()
        exact = {
            (r.query_id, r.vec_id, r.rank)
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        full = {
            (r.query_id, r.vec_id, r.rank)
            for r in quantized_rerank_topk(
                emb, queries, k=5, candidate_k=n
            ).collect()
        }
        assert full == exact  # re-rank is exact cosine; full probe == brute force

    def test_default_candidates_high_recall(self, spark, sf_smoke_dir):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            brute_force_topk,
            quantized_rerank_topk,
        )

        emb, queries = self._frames(spark, sf_smoke_dir, nq=5)
        k = 10
        exact = {
            (r.query_id, r.vec_id)
            for r in brute_force_topk(emb, queries, k=k).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in quantized_rerank_topk(emb, queries, k=k).collect()
        }
        recall = len(exact & approx) / len(exact)
        # int8 on normalized vectors loses <1% cosine resolution; with a
        # 4k candidate margin recall should be near-perfect
        assert recall >= 0.9, recall


def test_ivf_index_roundtrip_matches_inline(spark, sf_smoke_dir, tmp_path):
    """build_ivf_index + ivf_search == ivf_topk with the same params/seed
    (same fit sample, same Lloyd iterations, same probes)."""
    from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_smoke_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in ivf_search(spark, path, q, k=5, nprobe=2).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in ivf_topk(emb, q, k=5, n_centroids=8, nprobe=2).collect()
    }
    assert got == want


def test_ivf_search_prunes_partitions(spark, sf_smoke_dir, tmp_path):
    """The postings scan must carry a static cell IN (...) partition
    filter — the probed-cells-only read is the whole point of the
    on-disk inverted file."""
    from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_smoke_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    plan = (
        ivf_search(spark, path, q, k=3, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re as _re

    # FileScan over postings must carry the static cell IN (...) filter
    # (plan prints attributes with an id suffix: "cell#33 IN (0,5)")
    assert _re.search(r"PartitionFilters: \[cell#\d+ IN \(", plan), plan[:2000]


def test_ivf_index_build_rejects_empty_corpus(spark, tmp_path):
    import pytest as _pytest

    from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
        build_ivf_index,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError):
        build_ivf_index(empty, str(tmp_path / "ivf"))


def test_ivf_topk_empty_corpus(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
        ivf_topk,
    )

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(1, [1.0] * 8)], "query_id long, embedding array<double>"
    )
    out = ivf_topk(df, q, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "cosine", "rank",
    ]


# ---------------------------------------------------------------------------
# ranking_metrics (MRR@k / nDCG@k)
# ---------------------------------------------------------------------------

def test_ranking_metrics_hand_computed(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
        ranking_metrics,
    )

    # q1: judged A=3, B=2, C=1; served [B, D, A] -> first rel at rank 1,
    # DCG = 2/log2(2) + 0 + 3/log2(4);  IDCG = 3/1 + 2/log2(3) + 1/log2(4)
    # q2: only zero-relevance judgments -> all metrics 0
    # q3: judged E=1 but nothing served -> mrr 0, ndcg 0, n_rel 1
    results = spark.createDataFrame(
        [("q1", "B", 1), ("q1", "D", 2), ("q1", "A", 3), ("q2", "A", 1)],
        "query_id string, vec_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [
            ("q1", "A", 3.0), ("q1", "B", 2.0), ("q1", "C", 1.0),
            ("q2", "A", 0.0),
            ("q3", "E", 1.0),
        ],
        "query_id string, vec_id string, rel double",
    )
    got = {
        r.query_id: r
        for r in ranking_metrics(results, qrels, k=3).collect()
    }
    assert set(got) == {"q1", "q2", "q3"}
    dcg = 2.0 / math.log2(2) + 3.0 / math.log2(4)
    idcg = 3.0 + 2.0 / math.log2(3) + 1.0 / math.log2(4)
    assert got["q1"].n_rel == 3
    assert got["q1"].mrr == 1.0
    assert got["q1"].ndcg == pytest.approx(round(dcg / idcg, 6), abs=1e-9)
    assert (got["q2"].n_rel, got["q2"].mrr, got["q2"].ndcg) == (0, 0.0, 0.0)
    assert (got["q3"].n_rel, got["q3"].mrr, got["q3"].ndcg) == (1, 0.0, 0.0)


def test_ranking_metrics_rank_beyond_k_ignored(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
        ranking_metrics,
    )

    results = spark.createDataFrame(
        [("q", "A", 5)], "query_id string, vec_id string, rank int"
    )
    qrels = spark.createDataFrame(
        [("q", "A", 2.0)], "query_id string, vec_id string, rel double"
    )
    r = ranking_metrics(results, qrels, k=3).collect()[0]
    assert (r.mrr, r.ndcg, r.n_rel) == (0.0, 0.0, 1)
    # with k covering it: mrr = 1/5; ndcg discounts the position —
    # served-at-5 vs ideal-at-1 gives (2/log2(6)) / (2/log2(2))
    r2 = ranking_metrics(results, qrels, k=5).collect()[0]
    assert r2.mrr == 0.2
    assert r2.ndcg == pytest.approx(round(1.0 / math.log2(6), 6), abs=1e-9)


def test_ranking_metrics_rejects_bad_k(spark):
    import pytest as _pytest

    from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
        ranking_metrics,
    )

    d = spark.createDataFrame([], "query_id string, vec_id string, rank int")
    with _pytest.raises(ValueError):
        ranking_metrics(d, d, k=0)


class TestProductQuantization:
    def test_full_candidates_equals_brute_force(self, spark, sf_smoke_dir):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            pq_topk,
        )

        emb = spark.read.parquet(
            os.path.join(sf_smoke_dir, "embeddings.parquet")
        )
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        n = emb.count()
        exact = sorted(
            (r.query_id, r.vec_id, r.cosine, r.rank)
            for r in brute_force_topk(emb, q, k=10).collect()
        )
        # candidate_k >= corpus size: ADC only orders the candidate cut,
        # the exact-cosine re-rank sees every row -> identical output
        full = sorted(
            (r.query_id, r.vec_id, r.cosine, r.rank)
            for r in pq_topk(emb, q, k=10, candidate_k=n).collect()
        )
        assert full == exact

    def test_default_candidates_high_recall(self, spark, sf_smoke_dir):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            pq_topk,
        )

        emb = spark.read.parquet(
            os.path.join(sf_smoke_dir, "embeddings.parquet")
        )
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r.query_id, r.vec_id)
            for r in brute_force_topk(emb, q, k=10).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in pq_topk(emb, q, k=10, candidate_k=40).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, recall

    def test_self_match_and_contract(self, spark, sf_smoke_dir):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            pq_topk,
        )

        emb = spark.read.parquet(
            os.path.join(sf_smoke_dir, "embeddings.parquet")
        )
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        res = pq_topk(emb, q, k=5).collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r.query_id, []).append(r)
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r.rank)
            assert len(rows) == 5
            assert rows[0].vec_id == qid  # ADC keeps the exact self-match
            assert rows[0].cosine == pytest.approx(1.0, abs=1e-4)

    def test_dim_not_divisible_raises(self, spark):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            pq_topk,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
        )
        q = df.select(F.col("vec_id").alias("query_id"), "embedding")
        with pytest.raises(ValueError, match="not divisible"):
            pq_topk(df, q, k=1, m=2).collect()

    def test_empty_corpus(self, spark):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            pq_topk,
        )

        df = spark.createDataFrame(
            [], "vec_id long, embedding array<double>"
        )
        q = spark.createDataFrame(
            [(1, [1.0] * 8)], "query_id long, embedding array<double>"
        )
        out = pq_topk(df, q, k=3)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "query_id", "vec_id", "cosine", "rank",
        ]

    def test_adc_scan_is_jvm_side(self, spark, sf_smoke_dir):
        # the encode pass is the single declared Arrow stage; everything
        # from the LUT join to the final rank must be JVM expressions,
        # i.e. exactly one Python node in the whole plan
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            pq_topk,
        )

        # prior pq_topk calls leave the encoded corpus cached; a cache hit
        # renders as InMemoryTableScan and hides the MapInPandas child
        spark.catalog.clearCache()
        emb = spark.read.parquet(
            os.path.join(sf_smoke_dir, "embeddings.parquet")
        )
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        plan = pq_topk(emb, q, k=5)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestIvfIndexAppend:
    def test_appended_vectors_found_and_equal_to_rebuild(self, spark, sf_smoke_dir, tmp_path):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            build_ivf_index,
            ivf_index_append,
            ivf_search,
        )

        emb = spark.read.parquet(
            os.path.join(sf_smoke_dir, "embeddings.parquet")
        )
        first = emb.filter(F.col("vec_id") < 400)
        rest = emb.filter(F.col("vec_id") >= 400)
        path = str(tmp_path / "ivf")
        build_ivf_index(first, path, n_centroids=8, fit_sample=1000)
        n = ivf_index_append(spark, path, rest)
        assert n == rest.count()

        # searching for an appended vector's own id returns it at rank 1
        q = rest.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = {
            (r.query_id, r.rank): r.vec_id
            for r in ivf_search(spark, path, q, k=3, nprobe=8).collect()
        }
        for (qid, rank), vid in got.items():
            if rank == 1:
                assert vid == qid

        # full-probe search over the appended index == the same search
        # over an index built from all vectors with the SAME quantizer
        # (fit on `first` both times, so assignments are identical)
        res_appended = sorted(
            tuple(r) for r in ivf_search(spark, path, q, k=5, nprobe=8).collect()
        )
        path2 = str(tmp_path / "ivf2")
        build_ivf_index(first, path2, n_centroids=8, fit_sample=1000)
        ivf_index_append(spark, path2, rest)
        res_rebuilt = sorted(
            tuple(r) for r in ivf_search(spark, path2, q, k=5, nprobe=8).collect()
        )
        assert res_appended == res_rebuilt

    def test_append_assigns_each_vector_once(self, spark, tmp_path):
        """The appended-row count rides the write: every new vector passes
        through the assignment once (a separate count() ran it twice)."""
        from pyspark.sql.types import ArrayType, DoubleType

        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            build_ivf_index,
            ivf_index_append,
        )

        schema = "vec_id long, embedding array<double>"
        base = spark.createDataFrame(
            [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(40)], schema
        )
        path = str(tmp_path / "ivf")
        build_ivf_index(base, path, n_centroids=4)

        reads = spark.sparkContext.accumulator(0)

        @F.udf(ArrayType(DoubleType()))
        def tap(v):
            reads.add(1)
            return v

        new = spark.createDataFrame(
            [(100 + i, [1.0, float(i), 0.5]) for i in range(10)], schema
        ).withColumn("embedding", tap("embedding"))
        assert ivf_index_append(spark, path, new) == 10
        assert reads.value == 10
        assert spark.read.parquet(f"{path}/postings").count() == 50

    def test_missing_index_raises(self, spark, tmp_path):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            ivf_index_append,
        )

        df = spark.createDataFrame(
            [(1, [0.0] * 8)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception):
            ivf_index_append(spark, str(tmp_path / "nope"), df)


class TestPqIndex:
    def test_persisted_search_matches_inline(self, spark, sf_smoke_dir, tmp_path):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            build_pq_index,
            pq_search,
            pq_topk,
        )

        emb = spark.read.parquet(
            os.path.join(sf_smoke_dir, "embeddings.parquet")
        )
        q = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        path = str(tmp_path / "pq")
        build_pq_index(emb, path, m=8, ks=64, fit_sample=1000, seed=7)
        persisted = sorted(
            tuple(r)
            for r in pq_search(
                spark, path, q, emb, k=5, candidate_k=40
            ).collect()
        )
        inline = sorted(
            tuple(r)
            for r in pq_topk(
                emb, q, k=5, m=8, ks=64, candidate_k=40,
                fit_sample=1000, seed=7,
            ).collect()
        )
        assert persisted == inline

    def test_codes_are_compact(self, spark, sf_smoke_dir, tmp_path):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            build_pq_index,
        )

        emb = spark.read.parquet(
            os.path.join(sf_smoke_dir, "embeddings.parquet")
        )
        path = str(tmp_path / "pq2")
        build_pq_index(emb, path, m=8, ks=16, fit_sample=1000)
        codes = spark.read.parquet(f"{path}/codes")
        assert codes.columns == ["c_id", "codes"]
        row = codes.limit(1).collect()[0]
        assert len(row.codes) == 8
        assert all(0 <= c < 16 for c in row.codes)

    def test_empty_corpus_build_raises(self, spark, tmp_path):
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            build_pq_index,
        )

        df = spark.createDataFrame([], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="empty"):
            build_pq_index(df, str(tmp_path / "pq3"))


class TestRandomProjection:
    def test_signs_match_md5_convention(self):
        import hashlib
        from nifi_hive_schema_generator_bundle_spark.functions.vectors import (
            random_projection_signs,
        )

        signs = random_projection_signs(5, 3, seed_tag="rp")
        assert len(signs) == 3 and all(len(r) == 5 for r in signs)
        for j in (0, 2):
            for i in (0, 4):
                nib = hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0]
                want = 1.0 if nib in "01234567" else -1.0
                assert signs[j][i] == want

    def test_projection_values_and_determinism(self, spark):
        from nifi_hive_schema_generator_bundle_spark.functions.vectors import (
            random_projection,
            random_projection_signs,
        )

        vecs = [(0, [1.0, 2.0, -3.0, 0.5]), (1, [0.0, 0.0, 1.0, 1.0])]
        df = spark.createDataFrame(vecs, "id int, v array<double>")
        expr = random_projection("v", in_dims=4, out_dims=2)
        got = {r["id"]: r["p"] for r in df.select("id", expr.alias("p")).collect()}
        signs = random_projection_signs(4, 2)
        import math

        for rid, v in vecs:
            want = [
                sum(x * s for x, s in zip(v, signs[j])) / math.sqrt(2)
                for j in range(2)
            ]
            assert got[rid] == pytest.approx(want, abs=1e-12)
        got2 = {r["id"]: r["p"] for r in df.select("id", expr.alias("p")).collect()}
        assert got == got2

    def test_pairwise_distances_roughly_preserved(self, spark):
        import math
        import random

        from nifi_hive_schema_generator_bundle_spark.functions.vectors import (
            random_projection,
        )

        rng = random.Random(7)
        rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(12)]
        df = spark.createDataFrame(rows, "id int, v array<double>")
        proj = {
            r["id"]: r["p"]
            for r in df.select(
                "id", random_projection("v", in_dims=64, out_dims=32).alias("p")
            ).collect()
        }

        def d2(a, b):
            return sum((x - y) ** 2 for x, y in zip(a, b))

        orig = dict(zip((r[0] for r in rows), (r[1] for r in rows)))
        ratios = [
            d2(proj[a], proj[b]) / d2(orig[a], orig[b])
            for a in orig
            for b in orig
            if a < b
        ]
        # JL with 32 dims: distortion concentrated near 1; the loose
        # envelope below fails loudly if the sign matrix or scaling broke
        assert all(0.25 < r < 4.0 for r in ratios)
        assert 0.6 < sum(ratios) / len(ratios) < 1.7

    def test_short_vector_yields_null_components(self, spark):
        from nifi_hive_schema_generator_bundle_spark.functions.vectors import (
            random_projection,
        )

        df = spark.createDataFrame([(0, [1.0, 2.0])], "id int, v array<double>")
        out = df.select(
            random_projection("v", in_dims=4, out_dims=3).alias("p")
        ).collect()[0]["p"]
        assert out == [None, None, None]


class TestIvfIndexDriftStats:
    def test_fresh_low_appended_shift_raises_drift(self, spark, sf_smoke_dir, tmp_path):
        """A fresh index reads small drift (centroids ARE fit means);
        appending a constant-shifted copy of the corpus moves every
        cell's posting mean, so max drift_ratio_ppm must rise — the
        rebuild trigger ivf_index_append's docstring promises."""
        from nifi_hive_schema_generator_bundle_spark.operators.similarity import (
            build_ivf_index,
            ivf_index_append,
            ivf_index_drift_stats,
        )

        emb = spark.read.parquet(
            os.path.join(sf_smoke_dir, "embeddings.parquet")
        )
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, n_centroids=8, fit_sample=10_000)
        fresh = ivf_index_drift_stats(spark, path).collect()
        assert {r.cell for r in fresh} == set(range(8))
        assert sum(r.n_rows for r in fresh) == emb.count()
        fresh_max = max(r.drift_ratio_ppm for r in fresh)

        shifted = emb.select(
            (F.col("vec_id") + 10_000).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(0.3)).alias(
                "embedding"
            ),
        )
        ivf_index_append(spark, path, shifted)
        after = ivf_index_drift_stats(spark, path).collect()
        assert sum(r.n_rows for r in after) == 2 * emb.count()
        after_max = max(r.drift_ratio_ppm for r in after)
        assert after_max > fresh_max
        assert after_max > 50_000  # the 0.3-shift is a >5% drift somewhere


# ---------------------------------------------------------------------------
# the shared output contract of the seven top-k searches
# ---------------------------------------------------------------------------

# (doc, v): docs 3/7 and 2/9 carry identical vectors, so their cosines
# tie for every query; ids are out of order so insertion order can't
# pass for the ascending-id tie-break
_CONTRACT_CORPUS = [
    (7, [1.0, 0.0, 0.0, 0.0]),
    (3, [1.0, 0.0, 0.0, 0.0]),
    (5, [0.9, 0.1, 0.0, 0.0]),
    (9, [0.0, 1.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (8, [0.5, 0.5, 0.1, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
    (6, [0.0, 0.0, 0.0, 1.0]),
    (1, [-1.0, 0.0, 0.0, 0.0]),
]
_CONTRACT_QUERIES = [(100, [1.0, 0.05, 0.0, 0.0]), (200, [0.05, 1.0, 0.0, 0.0])]


def _contract_search(name, spark, corpus, queries, path):
    """Run search ``name`` with parameters that make it exact on the
    contract corpus (every bucket/cell probed, candidate_k = corpus)."""
    from nifi_hive_schema_generator_bundle_spark.operators import similarity as s

    cols = dict(vec_col="v", id_col="doc")
    kw = dict(k=3, query_id_col="qid", **cols)
    n = len(_CONTRACT_CORPUS)
    if name == "brute_force_topk":
        return s.brute_force_topk(corpus, queries, **kw)
    if name == "lsh_topk":
        return s.lsh_topk(corpus, queries, n_planes=1, **kw)
    if name == "ivf_topk":
        return s.ivf_topk(corpus, queries, n_centroids=2, nprobe=2, **kw)
    if name == "ivf_search":
        s.build_ivf_index(corpus, path, n_centroids=2, **cols)
        return s.ivf_search(spark, path, queries, nprobe=2, **kw)
    if name == "quantized_rerank_topk":
        return s.quantized_rerank_topk(corpus, queries, candidate_k=n, **kw)
    if name == "pq_topk":
        return s.pq_topk(corpus, queries, m=2, ks=4, candidate_k=n, **kw)
    s.build_pq_index(corpus, path, m=2, ks=4, **cols)
    return s.pq_search(spark, path, queries, corpus, candidate_k=n, **kw)


@pytest.mark.parametrize(
    "name",
    [
        "brute_force_topk",
        "lsh_topk",
        "ivf_topk",
        "ivf_search",
        "quantized_rerank_topk",
        "pq_topk",
        "pq_search",
    ],
)
def test_topk_contract_with_custom_columns(spark, tmp_path, name):
    import numpy as np

    corpus = spark.createDataFrame(_CONTRACT_CORPUS, "doc long, v array<double>")
    queries = spark.createDataFrame(_CONTRACT_QUERIES, "qid long, v array<double>")
    out = _contract_search(name, spark, corpus, queries, str(tmp_path / "idx"))
    assert out.columns == ["qid", "doc", "cosine", "rank"]

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    want = {}
    for qid, qv in _CONTRACT_QUERIES:
        top = sorted(_CONTRACT_CORPUS, key=lambda r: (-cos(qv, r[1]), r[0]))[:3]
        want[qid] = [(doc, cos(qv, v)) for doc, v in top]
        # the top 3 hold a tie, so the id order below is the tie-break
        assert want[qid][0][1] == want[qid][1][1]
    got = {}
    for r in sorted(out.collect(), key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["doc"], r["cosine"], r["rank"]))
    for qid, rows in got.items():
        assert [rank for _, _, rank in rows] == [1, 2, 3]
        assert [doc for doc, _, _ in rows] == [doc for doc, _ in want[qid]]
        assert [cos for _, cos, _ in rows] == pytest.approx(
            [cos for _, cos in want[qid]], abs=1e-6
        )
    assert set(got) == set(want)
