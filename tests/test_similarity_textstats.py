"""Similarity-search and text-analysis operators vs numpy / hand
oracles, plus plan-shape assertions (broadcast, no cartesian)."""

import math

import pytest
from pyspark.sql import functions as F

from table_ocr_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
)
from table_ocr_spark.operators.textstats import fingerprint, lang_id, token_stats

VECS = [
    # (vec_id, embedding, label)
    (0, [1.0, 0.0, 0.0], 0),
    (1, [0.9, 0.1, 0.0], 0),
    (2, [0.0, 1.0, 0.0], 1),
    (3, [0.0, 0.95, 0.05], 1),
    (4, [0.0, 0.0, 1.0], 2),
    (5, [0.5, 0.5, 0.0], 0),
    (6, [1.0, 0.01, 0.0], 0),
]


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_matches_python(spark, emb):
    got = brute_force_topk(emb, [0], k=3).collect()
    vecs = {v[0]: v[1] for v in VECS}
    ranked = sorted(
        ((_cos(vecs[0], v), -i) for i, v in vecs.items() if i != 0), reverse=True
    )
    expect_ids = [-x[1] for x in ranked[:3]]
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] == expect_ids
    top = sorted(got, key=lambda r: r["rank"])[0]
    assert abs(top["score"] - round(_cos(vecs[0], vecs[top["neighbor_id"]]), 6)) < 1e-9


def test_ivf_topk_searches_own_cell_only(spark, emb):
    got = ivf_topk(emb, [0], k=5).collect()
    # label-0 cell has vec_ids {1, 5, 6} besides the query
    assert {r["neighbor_id"] for r in got} == {1, 5, 6}


def test_cosine_near_dup_blocked_by_label(spark, emb):
    dup = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0], 0)], "vec_id long, embedding array<float>, label int"
    )
    pairs = cosine_near_dup_pairs(emb.unionByName(dup), threshold=0.99).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 100) in got
    # cross-label true near-dups are invisible by design (documented
    # blocking tradeoff) — nothing with label!=label appears
    vecs = {v[0]: (v[1], v[2]) for v in VECS}
    for a, b in got:
        if a in vecs and b in vecs:
            assert vecs[a][1] == vecs[b][1]


def test_token_stats_formulas(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat, on the mat!")], "doc_id long, text string"
    )
    r = token_stats(df).collect()[0]
    assert r["n_tokens"] == 6
    assert r["n_chars_obs"] == 24
    # tokens: the cat sat, on the mat! -> lengths 3+3+4+2+3+4 = 19
    assert r["avg_token_len"] == round(19 / 6, 6)
    assert r["punct_ratio"] == round(2 / 24, 6)
    assert r["stopword_ratio"] == round(3 / 6, 6)  # the, on, the


def test_lang_id_argmax_and_tiebreak(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog"),          # en
            (2, "der Hund und die Katze ist"),   # de
            (3, "le chat et la porte est"),      # fr
            (4, "xyzzy plugh"),                  # none -> und
            (5, "the der"),                      # tie en/de -> en (pinned)
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und", 5: "en"}


def test_fingerprint_is_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert fps[1] == fps[3]
    assert fps[1] != fps[2]
    # mirror the pinned recurrence in python
    mod = 1_000_000_007
    acc = 0
    for w in "alpha beta gamma".split():
        acc = (acc * 131 + len(w) * 31 + ord(w[0])) % mod
    assert fps[1] == acc


def test_ann_uses_broadcast_not_shuffle(spark, emb):
    plan = brute_force_topk(emb, [0], k=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_gopher_quality_rules(spark):
    from table_ocr_spark.operators.textstats import gopher_quality

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today"),  # pass
            (2, "too short"),                                   # fails length
            (3, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) @@@"),  # fails symbol+avg? symbols
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert got[1]["quality_pass"] is True
    assert got[2]["passes_length"] is False and got[2]["quality_pass"] is False
    assert got[3]["passes_symbol"] is False


def test_repetition_stats(spark):
    from table_ocr_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # bigrams: ab,ba,ab,ba,ab -> top 'a b' 3/5
            (2, "x"),                # no bigrams
            (3, "p q r s"),          # all distinct
        ],
        "doc_id long, text string",
    )
    out = repetition_stats(df)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["n_bigrams"] == 5 and got[1]["top_bigram_share"] == 0.6
    assert got[1]["distinct_token_ratio"] == round(2 / 6, 6)
    assert got[2]["n_bigrams"] == 0 and got[2]["top_bigram_share"] == 0.0
    assert got[3]["top_bigram_share"] == round(1 / 3, 6)
    # a per-document statistic must be map-only: no Exchange anywhere
    # (the round-2 shape shuffled ~one row per corpus bigram)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_hyperplane_lsh_finds_exact_dups(spark, emb):
    from table_ocr_spark.operators.similarity import hyperplane_near_dup_pairs

    dup = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0], 0), (101, [0.0, 0.0, 1.0], 2)],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = hyperplane_near_dup_pairs(emb.unionByName(dup), threshold=0.999).collect()
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in pairs}
    # exact duplicates have identical signatures -> always candidates
    assert got[(0, 100)] == 1.0
    assert got[(4, 101)] == 1.0


def test_cosine_near_dup_cell_cap_guard(spark):
    from table_ocr_spark.operators.similarity import cosine_near_dup_pairs

    import pytest

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0], 0) for i in range(6)],
        "vec_id long, embedding array<double>, label int",
    )
    with pytest.raises(ValueError, match="max_cell_size"):
        cosine_near_dup_pairs(emb, max_cell_size=3).collect()
    # cap off or high enough: runs
    assert cosine_near_dup_pairs(emb, max_cell_size=None).count() == 15
    assert cosine_near_dup_pairs(emb, max_cell_size=10).count() == 15


def test_hyperplane_band_join_carries_ids_only(spark):
    from table_ocr_spark.operators.similarity import hyperplane_near_dup_pairs

    emb = spark.createDataFrame(
        [(i, [1.0 * i, 1.0], i % 2) for i in range(8)],
        "vec_id long, embedding array<double>, label int",
    )
    df = hyperplane_near_dup_pairs(emb, threshold=0.999)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the band-bucket exchanges must NOT carry the vector column: the
    # full vec may only appear in the verification re-join (round-1
    # verdict #1 — 8x vector duplication through the band shuffle)
    import re
    band_exchanges = [
        m.group(0) for m in re.finditer(r"Exchange hashpartitioning\([^\n]*", plan)
        if "band" in m.group(0) and "bkey" in m.group(0)
    ]
    assert band_exchanges, plan
    for ex in band_exchanges:
        assert "vec" not in ex.replace("vec_id", "id"), ex


def test_unigram_logprob_hand_values(spark):
    import math

    from table_ocr_spark.operators.textstats import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "")],
        "doc_id long, text string",
    )
    # corpus counts: a=3, b=1, c=1, total=5
    got = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    p = {"a": 3 / 5, "b": 1 / 5, "c": 1 / 5}
    want1 = -(2 * math.log(p["a"]) + math.log(p["b"])) / 3
    want2 = -(math.log(p["a"]) + math.log(p["c"])) / 2
    assert got[1]["n_tokens"] == 3 and abs(got[1]["avg_neg_logprob"] - want1) < 1e-6
    assert got[2]["n_tokens"] == 2 and abs(got[2]["avg_neg_logprob"] - want2) < 1e-6
    assert got[3]["n_tokens"] == 0 and got[3]["avg_neg_logprob"] == 0.0
    # rarer vocabulary scores higher
    assert got[2]["avg_neg_logprob"] > got[1]["avg_neg_logprob"] * 0.9


def test_hyperplane_label_free_and_null_vec_safe(spark):
    from table_ocr_spark.operators.similarity import hyperplane_near_dup_pairs

    # no label column at all — the advertised label-free path
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, None)],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             hyperplane_near_dup_pairs(emb, threshold=0.99).collect()}
    assert pairs == {(1, 2)}  # exact dup found; NULL vec row ignored


def test_textstats_null_text_pinned_zero_tokens(spark):
    from table_ocr_spark.operators.textstats import (
        gopher_quality,
        lang_id,
        token_stats,
        unigram_logprob,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "the cat sat on the mat with a hat")],
        "doc_id long, text string",
    )
    ts = {r["doc_id"]: r for r in token_stats(df).collect()}
    assert ts[1]["n_tokens"] == 0 and ts[1]["quality_score"] is not None
    gq = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert gq[1]["quality_pass"] is False  # fails length rule, not NULL
    li = {r["doc_id"]: r for r in lang_id(df).collect()}
    assert li[1]["lang_pred"] == "und" and li[2]["lang_pred"] == "en"
    ul = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert ul[1]["n_tokens"] == 0 and ul[1]["avg_neg_logprob"] == 0.0


def test_line_repetition_stats(spark):
    from table_ocr_spark.operators.textstats import line_repetition_stats

    df = spark.createDataFrame(
        [
            (1, "nav bar\ncontent one\nnav bar\n  \ncontent two"),
            (2, "only line"),
            (3, None),
            (4, "a\na\na\nb"),
        ],
        "doc_id long, text string",
    )
    out = line_repetition_stats(df)
    got = {r["doc_id"]: r for r in out.collect()}
    # doc 1: 4 non-empty lines, 'nav bar' x2 duplicated
    assert got[1]["n_lines"] == 4 and got[1]["dup_lines"] == 2
    assert got[1]["dup_line_frac"] == 0.5
    assert got[1]["dup_line_char_frac"] == round(14 / (7 + 11 + 7 + 11), 6)
    assert got[2]["dup_lines"] == 0 and got[2]["dup_line_frac"] == 0.0
    assert got[3]["n_lines"] == 0 and got[3]["dup_line_frac"] == 0.0
    assert got[4]["n_lines"] == 4 and got[4]["dup_lines"] == 3
    assert got[4]["dup_line_frac"] == 0.75
    # map-only: per-document statistic must not shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped embedding dedup (round 5)
# ---------------------------------------------------------------------------


def test_assign_clusters_cosine_argmax(spark):
    import numpy as np
    from table_ocr_spark.operators.similarity import assign_clusters

    cents = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    df = spark.createDataFrame(
        [
            (0, [0.9, 0.1, 0.0]),
            (1, [0.1, 0.9, 0.0]),
            (2, [0.0, 0.0, 0.0]),  # zero-norm -> NULL
            (3, None),             # NULL vec -> NULL
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in assign_clusters(df, cents).collect()}
    assert got[0]["cluster"] == 0 and got[1]["cluster"] == 1
    v = np.array([0.9, 0.1, 0.0], dtype=np.float32).astype(np.float64)
    expect = float(np.round(v[0] / np.linalg.norm(v), 6))
    assert abs(got[0]["centroid_sim"] - expect) < 1e-12
    assert got[2]["cluster"] is None and got[2]["centroid_sim"] is None
    assert got[3]["cluster"] is None
    # original columns ride through
    assert set(got[0].asDict()) == {
        "vec_id", "embedding", "cluster", "centroid_sim"
    }


def test_assign_clusters_ties_to_lowest_centroid_index(spark):
    import numpy as np
    from table_ocr_spark.operators.similarity import assign_clusters

    # both centroids at the same rounded similarity -> index 0 wins
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    df = spark.createDataFrame(
        [(0, [0.5, 0.5])], "vec_id long, embedding array<float>"
    )
    r = assign_clusters(df, cents).collect()[0]
    assert r["cluster"] == 0


def test_assign_clusters_dim_mismatch_fails_loud(spark):
    import numpy as np
    from table_ocr_spark.operators.similarity import assign_clusters

    cents = np.array([[1.0, 0.0, 0.0]])
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim"):
        assign_clusters(df, cents).collect()


def test_semantic_dedup_keeps_least_central_member(spark):
    import numpy as np
    from table_ocr_spark.operators.similarity import semantic_dedup

    cents = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    rows = [
        # cluster-0 dup group: 10 is closest to the centroid, 12 the
        # farthest -> SemDeDup keeps 12 (lowest centroid_sim)
        (10, [1.0, 0.0, 0.0]),
        (11, [0.995, 0.05, 0.0]),
        (12, [0.98, 0.12, 0.0]),
        # cluster-0 singleton (cosine to the group < threshold)
        (13, [0.5, 0.0, 0.5]),
        # cluster-1 exact twins: equal sims -> min id 20 survives
        (20, [0.0, 1.0, 0.0]),
        (21, [0.0, 1.0, 0.0]),
        # zero vector: NULL cluster, rides through kept
        (30, [0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, centroids=cents, threshold=0.95).collect()
    }
    assert len(out) == len(rows)
    # group structure: {10,11,12} one group labeled 10; twins {20,21}
    assert [out[i]["group_id"] for i in (10, 11, 12)] == [10, 10, 10]
    assert out[10]["group_size"] == 3 and out[13]["group_size"] == 1
    assert [out[i]["group_id"] for i in (20, 21)] == [20, 20]
    # survivor rule: least-central in the trio, min-id among twins
    assert [out[i]["keep"] for i in (10, 11, 12)] == [False, False, True]
    assert out[20]["keep"] is True and out[21]["keep"] is False
    # singletons and the zero vector always survive
    assert out[13]["keep"] is True and out[30]["keep"] is True
    assert out[30]["cluster"] is None
    # exactly one survivor per group
    kept = [r for r in out.values() if r["keep"]]
    assert len(kept) == len({r["group_id"] for r in out.values()})


def test_train_kmeans_deterministic_and_separating(spark):
    import numpy as np
    from table_ocr_spark.operators.similarity import (
        assign_clusters,
        train_kmeans,
    )

    rng = np.random.default_rng(5)
    blob_a = rng.normal([5.0, 0.0, 0.0], 0.05, (20, 3))
    blob_b = rng.normal([0.0, 5.0, 0.0], 0.05, (20, 3))
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([blob_a, blob_b]))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = train_kmeans(df, k=2, max_train=64)
    c2 = train_kmeans(df, k=2, max_train=64)
    assert c1.shape == (2, 3) and (c1 == c2).all()
    got = assign_clusters(df, c1).collect()
    a_clusters = {r["cluster"] for r in got if r["vec_id"] < 20}
    b_clusters = {r["cluster"] for r in got if r["vec_id"] >= 20}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters


def test_pinned_centroids_md5_rule(spark):
    import hashlib
    import numpy as np
    from table_ocr_spark.operators.similarity import pinned_centroids

    rows = [(i, [float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = pinned_centroids(df, k=3)
    order = sorted(range(10), key=lambda i: (
        hashlib.md5(str(i).encode()).hexdigest(), i
    ))[:3]
    expect = np.array([[float(i), 1.0] for i in order])
    assert (got == expect).all()
    with pytest.raises(ValueError, match="only"):
        pinned_centroids(df, k=99)


def test_assign_clusters_kernel_expr_differential(spark):
    """The matmul kernel (scale path) and the JVM-fold expression twin
    (oracle path) must agree on every (cluster, centroid_sim) over the
    REAL embeddings table — the guarantee that lets the contract row
    run expr while bench runs kernel."""
    import os
    from table_ocr_spark.operators.similarity import (
        assign_clusters,
        pinned_centroids,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = pinned_centroids(emb, k=4)
    a = assign_clusters(emb, cents, method="kernel")
    b = assign_clusters(emb, cents, method="expr")
    diff = (
        a.select("vec_id", "cluster", "centroid_sim")
        .exceptAll(b.select("vec_id", "cluster", "centroid_sim"))
        .count()
    )
    assert diff == 0
    with pytest.raises(ValueError, match="method"):
        assign_clusters(emb, cents, method="nope")


def test_cluster_pairs_kernel_matches_fold_join(spark):
    """The dense-matmul pair kernel and the JVM fold join must emit
    identical (id_a, id_b, cosine) rows over the real embeddings."""
    import os
    from table_ocr_spark.operators.similarity import (
        assign_clusters,
        cluster_pairs_kernel,
        cosine_near_dup_pairs,
        pinned_centroids,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # planted exact copies + a LOW threshold: random 64-dim cosines
    # cluster near 0, so 0.2 lets genuine (non-planted) pairs exercise
    # the rounding path too
    emb = base.unionByName(
        base.filter(F.col("vec_id") % 7 == 0).select(
            (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
        )
    )
    cents = pinned_centroids(emb, k=3)
    assigned = assign_clusters(emb, cents).cache()
    kern = cluster_pairs_kernel(
        assigned, threshold=0.2, cell_col="cluster", block_rows=7
    )
    fold = cosine_near_dup_pairs(
        assigned.select("vec_id", "embedding", F.col("cluster").alias("label")),
        threshold=0.2,
    )
    assert kern.count() > 0
    assert kern.exceptAll(fold).count() == 0
    assert fold.exceptAll(kern).count() == 0


def test_cluster_pairs_kernel_non_ascii_ids_match_fold_join(spark):
    """String ids past ASCII: the kernel orders id_a < id_b by Python
    code point, Spark by UTF-8 bytes — the same order, so every one of
    the 13 * 12 / 2 pairs must match the fold join row for row. U+FFFF
    vs an astral emoji is where UTF-16 order would flip."""
    from table_ocr_spark.operators.similarity import (
        cluster_pairs_kernel,
        cosine_near_dup_pairs,
    )

    ids = ["a", "z", "A", "é", "ÿ", "ā", "中", "\uffff", "😀",
           "a\u00e9", "ae", "\u00e9a", "€"]
    rows = [(v, [1.0, 0.1 * i + 0.05], 0) for i, v in enumerate(ids)]
    emb = spark.createDataFrame(
        rows, "vec_id string, embedding array<float>, cluster int"
    )
    kern = cluster_pairs_kernel(emb, threshold=0.0)
    fold = cosine_near_dup_pairs(
        emb.withColumnRenamed("cluster", "label"), threshold=0.0
    )
    got = sorted(map(tuple, kern.collect()))
    want = sorted(map(tuple, fold.collect()))
    assert len(want) == 78
    assert got == want


def test_cluster_pairs_kernel_cell_guard(spark):
    from table_ocr_spark.operators.similarity import cluster_pairs_kernel

    df = spark.createDataFrame(
        [(i, [1.0, 0.0], 0) for i in range(10)],
        "vec_id long, embedding array<float>, cluster int",
    )
    with pytest.raises(ValueError, match="max_cell_size"):
        cluster_pairs_kernel(df, max_cell_size=5)
    # NULL cells and zero vectors drop instead of pairing
    weird = spark.createDataFrame(
        [
            (1, [1.0, 0.0], None),
            (2, [1.0, 0.0], None),
            (3, [0.0, 0.0], 0),
            (4, [1.0, 0.0], 0),
        ],
        "vec_id long, embedding array<float>, cluster int",
    )
    assert cluster_pairs_kernel(weird, threshold=0.0).count() == 0


def test_semantic_dedup_kernel_expr_differential(spark):
    """Full-pipeline differential: semantic_dedup on the matmul kernel
    vs the expr oracle twin over the real embeddings — every output
    row (assignment, grouping, survivor) identical."""
    import os
    from table_ocr_spark.operators.similarity import (
        pinned_centroids,
        semantic_dedup,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dup)
    cents = pinned_centroids(corpus, k=3)
    a = semantic_dedup(corpus, centroids=cents, threshold=0.99, method="kernel")
    b = semantic_dedup(corpus, centroids=cents, threshold=0.99, method="expr")
    assert a.count() == corpus.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # the planted copies actually deduplicated
    assert a.filter(~F.col("keep")).count() > 0


# ---------------------------------------------------------------------------
# Stupid-backoff n-gram LM (round 5)
# ---------------------------------------------------------------------------


def _ngram_hand_oracle(corpus, n=3, mc=2, a1=0.4):
    import math
    from collections import Counter

    a2 = a1 * a1
    c1, c2, c3 = Counter(), Counter(), Counter()
    for toks in corpus.values():
        for i, w in enumerate(toks):
            c1[w] += 1
            if i >= 1:
                c2[(toks[i - 1], w)] += 1
            if n == 3 and i >= 2:
                c3[(toks[i - 2], toks[i - 1], w)] += 1
    T = sum(c1.values())
    out = {}
    for d, toks in corpus.items():
        nls, bos = [], []
        for i, w in enumerate(toks):
            if n == 3 and i >= 2 and c3[(toks[i - 2], toks[i - 1], w)] >= mc:
                r, bo = c3[(toks[i - 2], toks[i - 1], w)] / c2[(toks[i - 2], toks[i - 1])], 0
            elif i >= 1 and n == 3 and i >= 2 and c2[(toks[i - 1], w)] >= mc:
                r, bo = a1 * c2[(toks[i - 1], w)] / c1[toks[i - 1]], 1
            elif n == 3 and i >= 2:
                r, bo = a2 * c1[w] / T, 1
            elif i >= 1 and c2[(toks[i - 1], w)] >= mc:
                r, bo = c2[(toks[i - 1], w)] / c1[toks[i - 1]], 0
            elif i >= 1:
                r, bo = a1 * c1[w] / T, 1
            else:
                r, bo = c1[w] / T, 0
            nls.append(-math.log(r))
            bos.append(bo)
        out[d] = (
            len(toks),
            round(sum(nls) / len(nls), 6),
            round(sum(bos) / len(bos), 6),
        )
    return out


def test_ngram_logprob_matches_hand_oracle(spark):
    from table_ocr_spark.operators.textstats import ngram_logprob

    docs = [
        (1, "a b c a b c"),
        (2, "a b x"),
        (3, ""),
        (4, "z"),
        (5, "c a b c a"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    corpus = {d: t.split() for d, t in docs if t}
    expect = _ngram_hand_oracle(corpus)
    for n in (3, 2):
        got = {
            r["doc_id"]: (
                r["n_tokens"], r["avg_neg_logprob"], r["backoff_frac"]
            )
            for r in ngram_logprob(df, n=n, min_count=2).collect()
        }
        exp = expect if n == 3 else _ngram_hand_oracle(corpus, n=2)
        assert got[3] == (0, 0.0, 0.0)  # empty doc backfill
        for d in corpus:
            assert got[d] == exp[d], (n, d, got[d], exp[d])


def test_ngram_logprob_min_count_1_never_backs_off(spark):
    from table_ocr_spark.operators.textstats import ngram_logprob

    df = spark.createDataFrame(
        [(1, "p q r s t"), (2, "u v w")], "doc_id long, text string"
    )
    got = ngram_logprob(df, min_count=1).collect()
    assert all(r["backoff_frac"] == 0.0 for r in got)


def test_ngram_logprob_deterministic_across_runs_and_partitioning(spark):
    from table_ocr_spark.operators.textstats import ngram_logprob

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    runs = [
        sorted(
            ngram_logprob(df.repartition(p), min_count=2).collect(),
            key=lambda r: r["doc_id"],
        )
        for p in (2, 13, 2)
    ]
    assert runs[0] == runs[1] == runs[2]
    assert len(runs[0]) == df.count()


def test_ngram_logprob_validation(spark):
    from table_ocr_spark.operators.textstats import ngram_logprob

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n must"):
        ngram_logprob(df, n=4)
    with pytest.raises(ValueError, match="min_count"):
        ngram_logprob(df, min_count=0)
    with pytest.raises(ValueError, match="alpha"):
        ngram_logprob(df, alpha=0.0)


def test_assign_clusters_expr_dim_mismatch_fails_loud(spark):
    """The expr twin must refuse corrupt-width vectors like the kernel
    does — zip_with's null padding would otherwise silently shrink
    the dedup universe (review r5)."""
    import numpy as np
    from table_ocr_spark.operators.similarity import assign_clusters

    cents = np.array([[1.0, 0.0, 0.0]])
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim"):
        assign_clusters(df, cents, method="expr").collect()
    # NULL / empty vectors still pass through as NULL, not an error
    ok = spark.createDataFrame(
        [(0, None), (1, [])], "vec_id long, embedding array<float>"
    )
    got = assign_clusters(ok, cents, method="expr").collect()
    assert all(r["cluster"] is None for r in got)


def test_cluster_pairs_kernel_mixed_width_fails_loud(spark):
    from table_ocr_spark.operators.similarity import cluster_pairs_kernel

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.0, 0.0], 0)],
        "vec_id long, embedding array<float>, cluster int",
    )
    with pytest.raises(Exception, match="mixed vector widths"):
        cluster_pairs_kernel(df, threshold=0.0).count()


def test_train_kmeans_above_pq_byte_cap(spark):
    """k > 256 must train (the 256 cap is a PQ byte-code storage
    property, not a centroid-training one — review r5)."""
    import numpy as np
    from table_ocr_spark.operators.similarity import train_kmeans

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, 4)]) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c = train_kmeans(df, k=300, max_train=512)
    assert c.shape == (300, 4)
    with pytest.raises(ValueError, match="not in"):
        train_kmeans(df, k=1)


def test_ngram_logprob_null_text_backfilled(spark):
    from table_ocr_spark.operators.textstats import ngram_logprob

    df = spark.createDataFrame(
        [(1, "a b"), (2, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in ngram_logprob(df).collect()}
    assert got[2]["n_tokens"] == 0 and got[2]["avg_neg_logprob"] == 0.0


def test_ivf_index_with_trained_centroids(spark):
    """End-to-end real-IVF composition: train_kmeans -> ivf_index ->
    ivf_topk finds planted near-duplicates through the trained coarse
    quantizer (not the synthetic label column)."""
    import numpy as np
    from table_ocr_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
        train_kmeans,
    )

    rng = np.random.default_rng(3)
    blob_a = rng.normal([4.0, 0.0, 0.0], 0.2, (30, 3))
    blob_b = rng.normal([0.0, 4.0, 0.0], 0.2, (30, 3))
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([blob_a, blob_b]))
    ]
    # planted: vec 100 = copy of vec 0 (same blob/cell, cosine 1.0)
    rows.append((100, rows[0][1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_kmeans(df, k=2, max_train=64)
    indexed = ivf_index(df, cents)
    assert "label" in indexed.columns and "cluster" not in indexed.columns
    got = ivf_topk(indexed, [0], k=1).collect()
    assert got[0]["neighbor_id"] == 100 and got[0]["score"] == 1.0
    # the scan stayed cell-pruned: no blob-b vector in the candidates
    top30 = ivf_topk(indexed, [0], k=50).collect()
    assert all(r["neighbor_id"] < 30 or r["neighbor_id"] == 100 for r in top30)


def test_top_terms_tfidf_hand_check(spark):
    import math
    from table_ocr_spark.operators.textstats import top_terms

    docs = [
        (1, "apple apple banana shared"),
        (2, "cherry banana shared"),
        (3, "date shared"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in top_terms(df, k=2).collect():
        got.setdefault(r["doc_id"], []).append(r)
    # doc 1: apple tf=2 df=1 -> 2*ln(4); banana tf=1 df=2 -> ln(2)
    r1 = sorted(got[1], key=lambda r: r["rank"])
    assert [r["term"] for r in r1] == ["apple", "banana"]
    assert r1[0]["tfidf"] == round(2 * math.log(4), 6)
    assert (r1[0]["tf"], r1[0]["df"]) == (2, 1)
    # doc 3: date beats shared (df=3 vs df=1)
    r3 = sorted(got[3], key=lambda r: r["rank"])
    assert [r["term"] for r in r3] == ["date", "shared"]
    # empty doc: no rows at all
    assert 4 not in got
    # df == N scores exactly 0, still ranked (deliberately unfiltered)
    assert r3[1]["tfidf"] == round(1 * math.log(4 / 3), 6)
    with pytest.raises(ValueError, match="k must"):
        top_terms(df, k=0)


def test_top_terms_tie_breaks_by_term(spark):
    from table_ocr_spark.operators.textstats import top_terms

    # both terms appear once in every doc -> tfidf exactly 0.0 for
    # both -> rank order must be term-ascending in every engine
    df = spark.createDataFrame(
        [(1, "zz aa"), (2, "aa zz")], "doc_id long, text string"
    )
    got = {}
    for r in top_terms(df, k=2).collect():
        got.setdefault(r["doc_id"], []).append((r["rank"], r["term"]))
    assert sorted(got[1]) == [(1, "aa"), (2, "zz")]
    assert sorted(got[2]) == [(1, "aa"), (2, "zz")]


def test_ngram_logprob_randomized_differential(spark):
    """Randomized corpora (small alphabet, heavy collisions) vs the
    pure-python reference across n and min_count — the branch lattice
    under pressure, not just the one constructed corpus."""
    import random

    rng = random.Random(42)
    for trial in range(3):
        docs = []
        for d in range(1, 26):
            length = rng.randint(0, 8)
            docs.append(
                (d, " ".join(rng.choice("abc") for _ in range(length)))
            )
        df = spark.createDataFrame(docs, "doc_id long, text string")
        corpus = {d: t.split() for d, t in docs if t}
        from table_ocr_spark.operators.textstats import ngram_logprob

        for n, mc in ((3, 2), (3, 3), (2, 2)):
            exp = _ngram_hand_oracle(corpus, n=n, mc=mc)
            got = {
                r["doc_id"]: (
                    r["n_tokens"], r["avg_neg_logprob"], r["backoff_frac"]
                )
                for r in ngram_logprob(df, n=n, min_count=mc).collect()
            }
            for d, t in docs:
                if not t:
                    assert got[d] == (0, 0.0, 0.0)
                else:
                    assert got[d] == exp[d], (trial, n, mc, d)


def test_ivf_index_reindexing_is_clean(spark):
    """Re-indexing an already-indexed (or assigned) frame must not
    leave duplicate/ambiguous columns (review r5)."""
    import numpy as np
    from table_ocr_spark.operators.similarity import (
        assign_clusters,
        ivf_index,
        ivf_topk,
    )

    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    df = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [0.9, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    once = ivf_index(df, cents)
    twice = ivf_index(once, cents)
    assert twice.columns.count("label") == 1
    pre_assigned = assign_clusters(df, cents)
    idx = ivf_index(pre_assigned, cents)
    assert idx.columns.count("label") == 1
    assert "cluster" not in idx.columns
    # still queryable downstream
    assert ivf_topk(idx, [0], k=1).collect()[0]["neighbor_id"] == 1
    # a LONE user 'cluster' column (no centroid_sim pair) is NOT
    # assign_clusters output — refuse loudly instead of deleting it
    lone = df.withColumn("cluster", F.lit(7))
    with pytest.raises(ValueError, match="rename or drop"):
        ivf_index(lone, cents)


def test_semantic_dedup_randomized_vs_python_reference(spark):
    """Full-pipeline randomized differential: semantic_dedup (kernel
    engine) vs an independent pure-python implementation of the same
    pinned semantics (6-dp-rounded cosine argmax assignment, lowest
    centroid index on ties; within-cluster pairs at the unrounded
    threshold; connected components; least-central survivor, min id
    on ties) over random low-dimensional corpora where collisions and
    boundary cases occur constantly."""
    import math
    import random

    import numpy as np
    from table_ocr_spark.operators.similarity import semantic_dedup

    def py_ref(vecs, cents, threshold):
        def half_up6(x):
            return math.copysign(
                math.floor(abs(x) * 1e6 + 0.5) / 1e6, x
            )

        cu = [c / np.linalg.norm(c) for c in cents]
        assign, sim = {}, {}
        for i, v in vecs.items():
            nv = np.linalg.norm(v)
            if nv == 0:
                continue
            sims = [half_up6(float(np.dot(v / nv, c))) for c in cu]
            best = max(range(len(cu)), key=lambda j: (sims[j], -j))
            assign[i], sim[i] = best, sims[best]
        # within-cluster pairs on the unrounded cosine
        ids = sorted(vecs)
        adj = {i: set() for i in ids}
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                if assign.get(a) is None or assign.get(a) != assign.get(b):
                    continue
                va, vb = vecs[a], vecs[b]
                cos = float(
                    np.dot(va, vb)
                    / (np.linalg.norm(va) * np.linalg.norm(vb))
                )
                if cos >= threshold:
                    adj[a].add(b)
                    adj[b].add(a)
        # components + survivor
        seen, out = set(), {}
        for i in ids:
            if i in seen:
                continue
            comp, stack = [], [i]
            seen.add(i)
            while stack:
                u = stack.pop()
                comp.append(u)
                for w in adj[u]:
                    if w not in seen:
                        seen.add(w)
                        stack.append(w)
            gid = min(comp)
            surv = min(
                comp,
                key=lambda u: (sim.get(u, float("inf")), u),
            ) if any(u in sim for u in comp) else min(comp)
            for u in comp:
                out[u] = (gid, len(comp), u != gid, u == surv)
        return out

    rng = random.Random(99)
    for trial in range(3):
        npr = np.random.default_rng(1000 + trial)
        n = 40
        # low-dim quantized vectors -> frequent exact ties and
        # near-threshold pairs
        vecs = {
            i: np.round(npr.normal(0, 1, 3), 1) for i in range(n)
        }
        # planted exact copies
        for i in range(5):
            vecs[100 + i] = vecs[i].copy()
        cents = np.stack([vecs[rng.randrange(n)] + 0.05 for _ in range(3)])
        if (np.linalg.norm(cents, axis=1) == 0).any():
            continue
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vecs.items()],
            "vec_id long, embedding array<float>",
        )
        # float32 round-trip: python reference must see the same vecs
        vecs32 = {
            i: np.asarray(
                np.asarray(v, dtype=np.float32), dtype=np.float64
            )
            for i, v in vecs.items()
        }
        expect = py_ref(vecs32, cents, 0.95)
        got = {
            r["vec_id"]: (
                r["group_id"], r["group_size"], r["is_dup"], r["keep"]
            )
            for r in semantic_dedup(
                df, centroids=cents, threshold=0.95
            ).collect()
        }
        zero_norm = {i for i, v in vecs32.items() if np.linalg.norm(v) == 0}
        for i in vecs:
            if i in zero_norm:
                assert got[i][3] is True  # singleton pass-through
            else:
                assert got[i] == expect[i], (trial, i, got[i], expect[i])
