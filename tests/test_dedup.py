"""Dedup operator tests: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding near-dup, connected components."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
    connected_components,
    dedup_keep_min,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun near the garden"
)
NEAR = BASE.replace("afternoon", "evening")  # one token differs
OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats for large scale analytics workloads today"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                      # exact dup of 1
        (3, "  " + BASE.upper() + " "),  # normalized dup of 1
        (4, NEAR),                      # near dup of 1
        (5, OTHER),
        (6, OTHER + " v2 with a small suffix appended here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    kept = exact_dedup(docs).orderBy("doc_id").collect()
    assert [(r.doc_id, r.n_copies) for r in kept] == [(1, 3), (4, 1), (5, 1), (6, 1)]


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got and (1, 3) in got  # exact dups: jaccard 1.0
    assert (1, 4) in got                    # near dup crosses 0.5
    assert (1, 5) not in got and (4, 5) not in got
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert est[(1, 2)] == 1.0


def test_ngram_jaccard_verifies_candidates(spark, docs):
    cand = minhash_lsh_pairs(docs, threshold=0.3)
    verified = ngram_jaccard_pairs(docs, threshold=0.5, candidates=cand).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in verified}
    assert got[(1, 2)] == 1.0
    assert 0.5 <= got[(1, 4)] < 1.0
    assert (1, 5) not in got


def test_ngram_jaccard_full_selfjoin(spark, docs):
    verified = ngram_jaccard_pairs(docs, threshold=0.9).collect()
    got = {(r.id_a, r.id_b) for r in verified}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_simhash_near_dup(spark):
    # simhash needs realistic feature counts: on a 200-distinct-token doc
    # a one-token flip is 1% feature churn (Hamming 3, inside the 4-chunk
    # pigeonhole guarantee); on the 19-token fixture above it is 10%
    # churn (Hamming 7 — correctly NOT a simhash near-dup)
    base = [f"tok{i}" for i in range(200)]
    near = list(base)
    near[100] = "flipped"
    rows = [
        (1, " ".join(base)),
        (2, " ".join(base)),                     # exact dup
        (3, "  " + " ".join(base).upper() + " "),  # normalized dup
        (4, " ".join(near)),                     # one token flipped
        (5, " ".join(f"other{i}" for i in range(200))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_pairs(df, max_hamming=3).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got[(1, 2)] == 0       # identical text → identical simhash
    assert got[(1, 3)] == 0       # case/ws-normalized
    assert got[(1, 4)] == 3       # one token flip → few bits
    assert (1, 5) not in got


def test_simhash_immune_to_token_frequency_bias(spark):
    # a boilerplate token interleaved at 33% frequency must not drag
    # unrelated documents' signatures together (the occurrence-voting
    # failure mode: measured 65x blowup on a salted 10x corpus)
    import itertools

    def salt(words):
        out = []
        for j, w in enumerate(words):
            if j % 2 == 0:
                out.append("salttok")
            out.append(w)
        return " ".join(out)

    a = [f"alpha{i}" for i in range(200)]
    b = [f"beta{i}" for i in range(200)]
    df = spark.createDataFrame(
        [(1, salt(a)), (2, salt(b))], "doc_id long, text string"
    )
    assert simhash_pairs(df, max_hamming=10).count() == 0


def test_simhash_degenerate_bucket_cap(spark):
    # 60 identical docs: bucket cap 10 drops the degenerate buckets
    # entirely instead of emitting C(60,2) pairs
    rows = [(i, " ".join(f"tok{j}" for j in range(50))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert simhash_pairs(df, max_bucket=10).count() == 0
    assert simhash_pairs(df, max_bucket=1000).count() == 60 * 59 // 2


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),   # ~cos 0.999
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (4, [2.0, 0.0, 0.0, 0.0]),      # same direction as 1, scaled
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dup_pairs(df, threshold=0.95).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got and (1, 4) in got and (2, 4) in got
    assert not any(3 in p for p in got)


def test_connected_components_and_keep_min(spark, docs):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    kept = sorted(r.doc_id for r in dedup_keep_min(docs, pairs).collect())
    assert kept == [1, 4, 5]


def test_connected_components_chain_deeper_than_max_iter(spark):
    """Labels propagate one hop per round, so a path graph of depth ≥
    max_iter pins both behaviors: capped rounds give the deterministic
    partial labeling (min over the max_iter-hop neighborhood), enough
    rounds give full convergence."""
    depth = 25
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(depth)], "id_a long, id_b long"
    )
    # enough rounds: every node joins component 0
    full = {
        r.id: r.component
        for r in connected_components(chain, max_iter=depth + 2).collect()
    }
    assert full == {i: 0 for i in range(depth + 1)}
    # capped rounds: node i sees min(0, i - max_iter) — deterministic,
    # not fully converged
    capped = {
        r.id: r.component
        for r in connected_components(chain, max_iter=5).collect()
    }
    assert capped[depth] == depth - 5
    assert capped[3] == 0


def test_connected_components_reliable_checkpoint_dir(spark, tmp_path):
    """The checkpoint_dir path must produce identical results while
    writing lineage-truncation state under the given reliable location
    (what a real cluster needs to survive executor loss)."""
    import os

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    ckdir = str(tmp_path / "cc_ck")
    comp = {
        r.id: r.component
        for r in connected_components(pairs, checkpoint_dir=ckdir).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    rounds = sorted(os.listdir(ckdir))
    # only the LAST round's checkpoint survives — earlier rounds are
    # deleted as the loop advances (Spark never cleans these itself;
    # leaving one copy per round would fill the checkpoint filesystem)
    assert len(rounds) == 1 and rounds[0].startswith("round")
    # the process-global checkpoint dir the caller had set is restored
    spark.sparkContext.setCheckpointDir(str(tmp_path / "mine"))
    connected_components(pairs, checkpoint_dir=ckdir).collect()
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert opt.isDefined() and "mine" in opt.get()


def test_lsh_plans_stay_jvm_side(spark, docs):
    plan = minhash_lsh_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontamination_flags_overlap_and_keeps_rest(spark, docs):
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        contaminated_ids,
        decontaminate,
    )

    # eval set = doc 1's text; docs 1/2/3 share all 8-grams with it, doc 4
    # differs by one token mid-string but still shares the 8-grams at the
    # edges; 5/6 share none
    ev = spark.createDataFrame([(99, BASE)], "doc_id long, text string")
    flagged = {
        r.doc_id for r in contaminated_ids(docs, ev, k=8).collect()
    }
    assert {1, 2, 3, 4} <= flagged
    assert 5 not in flagged and 6 not in flagged
    kept = {r.doc_id for r in decontaminate(docs, ev, k=8).collect()}
    assert kept == {5, 6}


def test_decontamination_semi_join_on_hashed_grams(spark, docs):
    """Default plan: LEFT SEMI with NO forced broadcast hint (AQE picks
    the strategy at runtime — the forced hint measured bimodal at sf0.1),
    joining on xxhash64 gram hashes, not gram strings."""
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        contaminated_ids,
    )

    ev = spark.createDataFrame([(99, BASE)], "doc_id long, text string")
    out = contaminated_ids(docs, ev)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in executed
    assert "xxhash64" in optimized
    # no forced hint in the logical plan (AQE may still *choose* broadcast)
    assert "UnresolvedHint" not in optimized and "hint" not in optimized.lower()


def test_decontamination_forced_broadcast_opt_in(spark, docs):
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        contaminated_ids,
    )

    ev = spark.createDataFrame([(99, BASE)], "doc_id long, text string")
    plan = (
        contaminated_ids(docs, ev, broadcast_eval=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


# --------------------------------------------------------------------------
# paragraph-level dedup
# --------------------------------------------------------------------------

def test_paragraph_dedup_removes_repeated_boilerplate(spark):
    """The C4-style planted case: a licence header repeated across every
    doc survives only at its first (doc_id, position) occurrence; unique
    body paragraphs are untouched; order inside each doc is preserved."""
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        paragraph_dedup,
    )

    boiler = "copyright notice all rights reserved"
    rows = [
        (1, f"{boiler}\n\nunique body one\n\n{boiler}"),
        (2, f"{boiler}\n\nunique body two"),
        (3, "unique body three"),
    ]
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    # doc 1 keeps its first boiler copy, drops the inner repeat
    assert out[1]["text"] == f"{boiler}\n\nunique body one"
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (3, 2)
    # doc 2's boiler already occurred in doc 1
    assert out[2]["text"] == "unique body two"
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (2, 1)
    # doc 3 untouched
    assert out[3]["text"] == "unique body three"
    assert (out[3]["n_paras"], out[3]["n_kept"]) == (1, 1)


def test_paragraph_dedup_normalizes_and_keeps_empty_docs(spark):
    """Matching is on the normalized form (case/whitespace-insensitive)
    but the KEPT text is verbatim; a fully-boilerplate doc keeps its row
    with empty text so corpus row counts are stable."""
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        paragraph_dedup,
    )

    rows = [
        (1, "Hello   World"),
        (2, "hello world"),  # same normalized paragraph -> fully dropped
    ]
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1]["text"] == "Hello   World"  # verbatim, not normalized
    assert out[2]["text"] == "" and out[2]["n_kept"] == 0
    assert set(out) == {1, 2}


def test_paragraph_dedup_winner_election_shuffles_keys_only(spark):
    """Scale contract: the row_number winner election must partition on
    the md5 fingerprint with no paragraph body in its exchange. The body
    column reaches only the post-election join/groupBy exchanges."""
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        paragraph_dedup,
    )

    df = spark.createDataFrame(
        [(1, "a\n\nb"), (2, "b\n\nc")], "doc_id long, text string"
    )
    plan = paragraph_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "md5" in plan and "row_number" in plan


def test_simhash_portable_planted_dups_and_model(spark):
    """The md5 bit-list variant: planted dups found, and the signature
    matches a pure-Python model of the same bit derivation."""
    import hashlib

    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        simhash_bits_portable,
        simhash_pairs_portable,
    )
    from pyspark.sql import functions as F

    base = [f"tok{i}" for i in range(200)]
    near = list(base)
    near[100] = "flipped"
    rows = [
        (1, " ".join(base)),
        (2, " ".join(base)),
        (3, "  " + " ".join(base).upper() + " "),
        (4, " ".join(near)),
        (5, " ".join(f"other{i}" for i in range(200))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_portable(df, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 0
    assert got[(1, 4)] <= 3 and (1, 4) in got
    assert (1, 5) not in got

    def model_bits(text):
        toks = sorted(set(text.lower().split()))
        votes = [0] * 64
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            for b in range(64):
                bit = (int(h[b // 4], 16) >> (b % 4)) & 1
                votes[b] += 2 * bit - 1
        return [1 if v > 0 else 0 for v in votes]

    spark_bits = (
        df.filter("doc_id = 1")
        .select(simhash_bits_portable(F.col("text")).alias("b"))
        .collect()[0]["b"]
    )
    assert spark_bits == model_bits(rows[0][1])


class TestUrlDedup:
    def test_recrawl_collapse_keep_best(self, spark):
        from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
            url_dedup,
        )

        rows = [
            # three crawls of the same page, cosmetically different URLs
            (1, "HTTP://WWW.Site.COM/page", "short"),
            (2, "http://www.site.com/page?utm_source=x#top", "the longest text"),
            (3, "http://user@www.site.com:80/page", "mid text"),
            # a different page on the same host
            (4, "http://www.site.com/other", "x"),
            # quality tie -> lowest id wins
            (5, "http://t.com/a", "same"),
            (6, "http://t.com/a?fbclid=1", "same"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, url string, text string")
        from pyspark.sql import functions as F

        out = url_dedup(
            df.withColumn("q", F.length("text")), quality_col="q"
        )
        got = {r.doc_id: r for r in out.collect()}
        assert set(got) == {2, 4, 5}
        assert got[2].url_canon == "http://www.site.com/page"
        assert got[2].n_crawls == 3
        assert got[4].n_crawls == 1
        assert got[5].n_crawls == 2  # tie broken to lowest id

    def test_no_quality_col_keeps_lowest_id(self, spark):
        from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
            url_dedup,
        )

        df = spark.createDataFrame(
            [(7, "http://a.com/x"), (3, "http://A.COM/x"), (9, "http://a.com/y")],
            "doc_id int, url string",
        )
        got = sorted(r.doc_id for r in url_dedup(df).collect())
        assert got == [3, 9]


# ---------------------------------------------------------------------------
# jaccard_threshold_join (prefix filtering)
# ---------------------------------------------------------------------------


def _jac(a, b):
    sa, sb = set(a.lower().split()), set(b.lower().split())
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def _brute_pairs(rows, threshold):
    out = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1:]:
            if not set(ta.split()) or not set(tb.split()):
                continue
            j = _jac(ta, tb)
            if j >= threshold:
                out[(min(ia, ib), max(ia, ib))] = round(j, 6)
    return out


def test_jaccard_threshold_join_equals_brute_force(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.sample(vocab, rng.randint(3, 12))))
        for i in range(60)
    ]
    rows.append((60, ""))  # empty set never pairs
    rows.append((61, rows[0][1]))  # exact duplicate: J = 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for threshold in (0.3, 0.5, 0.8):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_threshold_join(
                df, threshold=threshold
            ).collect()
        }
        assert got == _brute_pairs(rows, threshold), f"θ={threshold}"


def test_jaccard_threshold_join_repeated_tokens_are_set_semantics(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b b b")],  # sets both {a, b}: J = 1
        ["doc_id", "text"],
    )
    got = jaccard_threshold_join(df, threshold=0.9).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 1.0)]


def test_jaccard_threshold_join_bad_threshold(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    import pytest as _pytest

    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        jaccard_threshold_join(df, threshold=0.0)


def test_jaccard_threshold_join_shingle_mode_equals_brute_force(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15))))
        for i in range(40)
    ]

    def sh(text, k=3):
        t = text.lower().split()
        if len(t) < k:
            return {" ".join(t)}
        return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}

    def brute(th):
        out = {}
        for i, (ia, ta) in enumerate(rows):
            for ib, tb in rows[i + 1:]:
                a, b = sh(ta), sh(tb)
                j = len(a & b) / len(a | b)
                if j >= th:
                    out[(ia, ib)] = round(j, 6)
        return out

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for th in (0.4, 0.7):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_threshold_join(df, threshold=th, k=3).collect()
        }
        assert got == brute(th), f"θ={th}"


def test_jaccard_threshold_join_duplicate_groups_expand_exactly(spark):
    """Exact-duplicate cliques collapse to representatives for the join,
    then re-expand: within-group pairs at J=1, cross-group pairs inherit
    the representative J — equal to brute force over the full corpus."""
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    rows = (
        [(i, "alpha beta gamma delta") for i in range(0, 4)]  # group A ×4
        + [(i, "alpha beta gamma epsilon") for i in range(10, 13)]  # B ×3
        + [(20, "zeta eta theta")]  # unrelated
        + [(21, "")]  # empty: never pairs (unigram mode)
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_threshold_join(df, threshold=0.5).collect()
    }
    assert got == _brute_pairs(rows, 0.5)
    # and the collapsed mode returns representative pairs only
    reps = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_threshold_join(
            df, threshold=0.5, expand_duplicates=False
        ).collect()
    }
    assert reps == {(0, 10): 0.6}  # min-id representatives, J = 3/5


def test_jaccard_threshold_join_degenerate_corpus_bounded(spark):
    """10 K identical short docs: the candidate join sees ONE node after
    duplicate collapse — representative output is empty and fast; the
    expanded output is the true quadratic clique, checked by count."""
    import time

    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("spam spam offer now").alias("text")
    )
    t0 = time.monotonic()
    reps = jaccard_threshold_join(
        df, threshold=0.5, expand_duplicates=False
    ).collect()
    elapsed = time.monotonic() - t0
    assert reps == []  # one group, no cross-representative pairs
    assert elapsed < 60  # the pre-fix prefix join was ~10^8 candidates
    # expansion on a small clique is the full n·(n−1)/2 at J = 1
    small = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("spam spam offer now").alias("text")
    )
    out = jaccard_threshold_join(small, threshold=0.5)
    assert out.count() == 50 * 49 // 2
    assert out.agg(F.min("jaccard"), F.max("jaccard")).collect()[0] == (
        1.0,
        1.0,
    )


def test_jaccard_threshold_join_bucket_cap_drops_only_when_capped(spark):
    """max_bucket guards the prefix join against >cap genuinely distinct
    sets sharing one prefix token; None restores the provably-exact mode."""
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        jaccard_threshold_join,
    )

    # 30 distinct 2-token sets {rare, common_i}: the rarest-first prefix
    # of every doc is its unique rare token EXCEPT the shared one
    rows = [(i, f"shared w{i}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = jaccard_threshold_join(df, threshold=0.5, max_bucket=None)
    capped = jaccard_threshold_join(df, threshold=0.5, max_bucket=5)
    n_exact, n_capped = exact.count(), capped.count()
    assert n_exact == 0  # J({shared,wi},{shared,wj}) = 1/3 < 0.5
    assert n_capped == 0
    # now a threshold where sharing one of two tokens qualifies
    exact2 = jaccard_threshold_join(df, threshold=1 / 3, max_bucket=None)
    capped2 = jaccard_threshold_join(df, threshold=1 / 3, max_bucket=5)
    assert exact2.count() == 30 * 29 // 2  # all pairs share 'shared'
    assert capped2.count() < exact2.count()  # cap trades exactness, loudly


def test_cross_doc_spans_ignore_self_repetition(spark):
    """A doc repeating ITSELF trips the corpus-wide count but not the
    cross-doc variant; a passage shared by two docs trips both."""
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        cross_doc_span_stats,
        duplicate_span_stats,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            # doc 0: repeats its own 5-gram twice, shares nothing
            (0, "alpha beta gamma delta epsilon zeta "
                "alpha beta gamma delta epsilon zeta"),
            # docs 1+2: share a passage
            (1, shared + " one unique tail here indeed"),
            (2, shared + " another different ending entirely now"),
        ],
        "doc_id long, text string",
    )
    corpus = {
        r.doc_id: r.dup_tokens
        for r in duplicate_span_stats(docs, k=5, min_count=2).collect()
    }
    cross = {
        r.doc_id: r.dup_tokens
        for r in cross_doc_span_stats(docs, k=5, min_docs=2).collect()
    }
    assert corpus[0] > 0      # self-repetition counts corpus-wide
    assert cross[0] == 0      # ...but not cross-doc
    assert cross[1] > 0 and cross[2] > 0  # the shared passage counts


def test_top_shared_spans_report_text_and_counts(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        top_shared_spans,
    )

    banner = "copyright two thousand twenty six example"
    docs = spark.createDataFrame(
        [(i, banner + f" body text number {i} words") for i in range(4)]
        + [(99, "totally unrelated content with no shared grams at all")],
        "doc_id long, text string",
    )
    rows = top_shared_spans(docs, k=5, min_docs=2, top_n=5).collect()
    assert rows, "banner grams not surfaced"
    top = rows[0]
    assert top.n_docs == 4 and top.n_occurrences == 4
    assert top.gram.split(" ")[0] == "copyright" or "copyright" in top.gram
    # determinism: re-run returns the identical ordered set
    again = top_shared_spans(docs, k=5, min_docs=2, top_n=5).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_connected_components_unpersists_edge_cache(spark):
    """r8 optimization pin: connected_components caches the loop-invariant
    edge frame (every round's join re-reads it) but must release it
    before returning — even though the returned labels frame is
    checkpoint-materialized and safe to consume afterwards."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    comp = connected_components(pairs)
    roots = {r["id"]: r["component"] for r in comp.collect()}
    # the CacheManager must be empty again: the edge persist is the only
    # registered cache and the finally block releases it (localCheckpoint
    # blocks live outside the CacheManager and are ContextCleaner-owned)
    assert cache_mgr.isEmpty(), "connected_components leaked its edge cache"
    assert roots["a"] == roots["b"] == roots["c"] == "a"
    assert roots["x"] == roots["y"] == "x"


def _brute_jaccard_pairs(rows, k=3, threshold=0.5):
    """Reference exact n-gram jaccard in plain Python (lowercased
    whitespace tokens, distinct k-gram shingles, whole-text shingle for
    sub-k docs — the shingles_from_tokens contract)."""

    def sh(text):
        toks = [t for t in text.lower().split() if t]
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = [(i, sh(t)) for i, t in rows]
    out = {}
    for x in range(len(sets)):
        for y in range(x + 1, len(sets)):
            ia, sa = sets[x]
            ib, sb = sets[y]
            a, b = (ia, ib) if ia < ib else (ib, ia)
            u = len(sa | sb)
            j = round(len(sa & sb) / u, 6) if u else 0.0
            if j >= threshold:
                out[(a, b)] = j
    return out


def test_ngram_jaccard_fallback_survives_planted_hot_gram(spark):
    """VERDICT r8 #5: one shingle planted in 10% of docs must not
    square the candidate join (prefix filtering keeps globally-frequent
    grams out of short prefixes), and the surfaced pairs + jaccard
    values must equal the brute-force exact computation."""
    boiler = "shared legal banner text"  # one hot 3-gram region
    rows = []
    for i in range(200):
        body = f"unique body {i} with tokens alpha{i} beta{i} gamma{i} delta{i}"
        if i % 10 == 0:  # 10% of docs carry the hot grams
            body = boiler + " " + body
        rows.append((i, body))
    # two planted near-dup pairs
    rows.append((500, "unique body 3 with tokens alpha3 beta3 gamma3 delta3 tail"))
    rows.append((501, boiler + " unique body 30 with tokens alpha30 beta30 gamma30 delta30 tail"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    expected = _brute_jaccard_pairs(rows, k=3, threshold=0.5)
    assert got == pytest.approx(expected)
    assert (3, 500) in got and (30, 501) in got
    # the fallback must stay an equi-join pipeline: no nested-loop /
    # cartesian stage anywhere in the plan
    plan = ngram_jaccard_pairs(df, threshold=0.5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_fallback_matches_bruteforce_on_threshold_grid(spark, docs):
    """Prefix-filter completeness across thresholds (the rounding
    cushion included): surfaced pairs and values equal brute force."""
    rows = [(r.doc_id, r.text) for r in docs.orderBy("doc_id").collect()]
    for t in (0.1, 0.5, 0.9, 1.0):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        assert got == pytest.approx(_brute_jaccard_pairs(rows, threshold=t)), t


def test_packed_hamming_persists_signature_frame(spark):
    """r9 optimization pin: packed_hamming_pairs has FOUR consumers of
    the signature frame (both self-join sides + both bucket-cap
    aggregates). Unpersisted, each consumer replays the whole upstream
    signature computation — for the media callers that is the full
    Arrow payload decode ×4. The persist must collapse the plan to ONE
    upstream computation, served from the cache to every consumer."""
    from pyspark import StorageLevel

    from nifi_hive_schema_generator_bundle_spark.operators.dedup import (
        packed_hamming_pairs,
    )

    base = spark.createDataFrame(
        [(i, i % 7, i % 5) for i in range(50)], "id long, lo long, hi long"
    )
    # stand-in for the expensive upstream (media Arrow decode / portable
    # simhash): an opaque mapInPandas stage the optimizer cannot dedupe,
    # counting every partition it computes
    computed = spark.sparkContext.accumulator(0)

    def upstream(it):
        computed.add(1)
        yield from it

    sig = base.mapInPandas(upstream, "id long, lo long, hi long")
    out = packed_hamming_pairs(sig, max_hamming=3, max_bucket=1000)
    assert sig.storageLevel != StorageLevel.NONE, "signature frame not cached"
    # and the result itself is right: ids pair iff they agree on
    # (lo, hi) chunks within hamming 3 — brute-force the tiny grid
    rows = [(i, i % 7, i % 5) for i in range(50)]

    def ham(a, b):
        return bin((a[1] ^ b[1]) | ((a[2] ^ b[2]) << 32)).count("1")

    expect = {
        (a[0], b[0]): ham(a, b)
        for x, a in enumerate(rows)
        for b in rows[x + 1 :]
        if ham(a, b) <= 3
    }
    got = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert got == expect
    # the four consumers shared ONE upstream run per partition
    n_parts = base.rdd.getNumPartitions()
    assert computed.value == n_parts, (
        f"signature stage ran {computed.value}x over {n_parts} partitions"
    )
