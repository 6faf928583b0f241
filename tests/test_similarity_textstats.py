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


# Boundary vectors, each found by bisecting one coordinate of a random
# 16-dim vector until the left-fold cosine sits on an edge where the
# normalize-then-matmul cosine lands on the other side:
# - every BOUNDARY_ROWS row's cosine to centroid 1 sits on a 6-dp
#   rounding edge about 1.5e-6 above its cosine to centroid 0, so the
#   side of the edge decides whether the two round apart or tie: it
#   decides both centroid_sim and cluster;
# - in BOUNDARY_CELL, pair (0, 1) sits on a 6-dp rounding edge, and
#   (0, 2) and (3, 4) on the BOUNDARY_T threshold edge, one on each side.
BOUNDARY_T = 0.5

BOUNDARY_CENTS = [
    [
        0.0012301533574825742, 0.2987455375084699, -0.2741378553622176,
        -0.8905918387572742, -0.45467078517172255, -0.9916465549964624,
        0.060143602597438485, 1.3402152455545335, -0.49220651855132963,
        -0.6204748998199404, 0.4898420501851982, 0.35688700816006075,
        0.10541424899789856, -0.9304680447082047, -0.02925182246327349,
        0.6953031944582878
    ],
    [
        -0.06598057400677153, 0.275864749456459, -0.3691989923522598,
        -0.955068725746523, -0.5467575370613091, -1.0034011115501964,
        -0.0032287214747466833, 1.3537784634956187, -0.4843689642201184,
        -0.6298214470514382, 0.36400406464417256, 0.32995236336772893,
        0.10298920172784495, -0.9248025954080393, -0.10575861073854317,
        0.6714155306565913
    ],
]

BOUNDARY_ROWS = [
    [
        3.2083126276958276, 0.9457951030876708, -0.36924928263865886,
        -2.422484577158035, -0.7350851450282283, -1.472055562213194,
        0.6849556282081609, 3.3299027288711582, -0.1768347268864079,
        -1.2756910478880692, -0.7786778901550615, 0.22941532575977602,
        -0.09246179431526898, -1.8958935952940354, 0.0929537777215654,
        -0.5946709657442314
    ],
    [
        0.32979763185887206, 0.7725306747560357, -1.80984683545569,
        0.374419984126535, -0.8926903698288082, -1.2603652902008489,
        1.7755436251651155, 1.9927308043243483, -0.7319507677839643,
        -2.352772060596405, 0.5535109107444247, 0.8241654283834408,
        0.0037958903521198156, -1.9904134952233994, -0.8140894233230834,
        -0.6989785504323759
    ],
    [
        2.5259492185922605, 1.0888894695416729, -1.6395420379939307,
        -0.7419700829368955, -0.27956651280898437, -0.0953640933393628,
        -0.19834464253780398, 0.4027715912093902, -0.8767843491520189,
        -2.300228023807776, 0.33971961927418903, -0.338517130947729,
        0.522665270162637, -1.7996258507650813, -0.4892141766296181,
        -0.4529965575203371
    ],
]

BOUNDARY_CELL = [
    [
        0.6002051789517008, 0.10952873030031034, -1.9678300933080035,
        -1.1153901137206008, 0.16403671220963315, 0.6565514614119844,
        -1.0293215812897065, -0.6185070470229277, 0.45181806089131993,
        -1.9023181109497542, -1.938689583088141, -0.2405169766673197,
        0.23658649075934055, -0.4867726271424162, -2.2824043645743286,
        0.010165667142568613
    ],
    [
        -0.3034819362390946, 0.3829096545033836, -1.2369624086653082,
        -0.5447032869206443, 0.4095056767060095, 0.12716514439419513,
        -0.21446344925761474, 0.23797564261345067, 0.461220033536236,
        -0.4894797667048898, -1.4794345779301594, 0.3029179841350127,
        0.2690963269227699, -0.7863926511362703, -1.4142203101534345,
        -0.2621866412499324
    ],
    [
        -1.2463068997624014, 0.06988951896177122, -0.07066377322770612,
        -0.4976246340076892, 0.10514656657422473, -0.5354600608519051,
        -0.26171167481990804, 0.3798035288940037, 0.5307923549397454,
        -0.34142920925606857, -0.8479769850827621, -0.5604063572764301,
        0.018849769443493043, -0.8141533668059329, -1.3012661094038123,
        0.4639378156037296
    ],
    [
        -0.9196489375247653, 1.7669664632882882, -1.4262682900146264,
        0.4145646536397024, -1.171543619517504, 0.1614869231873794,
        -1.0414280304834538, 0.029015909422147896, -0.16609241522145377,
        -0.4585038709805054, 0.4955278359337512, 1.4830445083360912,
        -0.5969783945493474, 0.8645401634857397, 0.07233358749960106,
        -0.04124659826311982
    ],
    [
        -0.4475522232126194, 0.12190426485917955, -0.2670202290849423,
        0.3887293553118878, -0.8125013532792065, -0.11771703642442971,
        -0.3793268913845123, -0.07241952886838267, 0.28751007775961396,
        -0.09109393334937699, 0.2245366144461633, -0.26252198699353074,
        -0.7075617931390991, 0.4121673460663863, -0.7750880609294835,
        0.11442429097533303
    ],
]


def test_kernels_match_duckdb_on_fold_boundaries(spark):
    """assign_clusters' (cluster, centroid_sim) and cluster_pairs_kernel's
    pairs and cosines equal DuckDB's round(list_dot_product(a, c) /
    (sqrt(list_dot_product(a, a)) * sqrt(list_dot_product(c, c))), 6) —
    the contract oracle's arithmetic — on vectors where the matmul
    cosine alone rounds (or thresholds) the other way."""
    import duckdb
    import numpy as np
    from table_ocr_spark.operators.similarity import (
        assign_clusters,
        cluster_pairs_kernel,
    )

    con = duckdb.connect()
    cos = (
        "list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a))"
        " * sqrt(list_dot_product($b, $b)))"
    )

    def duck(a, b):  # (rounded, unrounded) oracle cosine
        return con.execute(
            f"SELECT round({cos}, 6), {cos}", {"a": a, "b": b}
        ).fetchone()

    rows = spark.createDataFrame(
        list(enumerate(BOUNDARY_ROWS)), "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: (r["cluster"], r["centroid_sim"])
        for r in assign_clusters(rows, np.array(BOUNDARY_CENTS)).collect()
    }
    for i, v in enumerate(BOUNDARY_ROWS):
        sims = [duck(v, c)[0] for c in BOUNDARY_CENTS]
        assert got[i] == (sims.index(max(sims)), max(sims)), (i, sims)

    cell = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(BOUNDARY_CELL)],
        "vec_id long, embedding array<double>, cluster int",
    )
    got_pairs = sorted(
        map(tuple, cluster_pairs_kernel(cell, threshold=BOUNDARY_T).collect())
    )
    want = []
    for i in range(len(BOUNDARY_CELL)):
        for j in range(i + 1, len(BOUNDARY_CELL)):
            rounded, raw = duck(BOUNDARY_CELL[i], BOUNDARY_CELL[j])
            if raw >= BOUNDARY_T:
                want.append((i, j, rounded))
    assert got_pairs == want


def test_semantic_dedup_leaves_no_cache_entry(spark):
    import numpy as np
    from table_ocr_spark.operators.similarity import semantic_dedup

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in VECS], "vec_id long, embedding array<float>"
    )
    cents = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    assert semantic_dedup(df, centroids=cents, threshold=0.95).count() == 7
    assert cache.isEmpty()


def _dense_cell(n, d, seed):
    """n near-identical d-dim vectors (pairwise cosines about 0.997 at
    64 dims): one dense duplicate cell."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.normal(0, 1, d) + rng.normal(0, 0.05, (n, d))


def test_cluster_pairs_kernel_dense_cell_matches_duckdb(spark):
    """A cell of near-duplicates, thresholded exactly at the oracle
    cosine of a pair whose BLAS cosine falls below it: every pair,
    every 6-dp cosine and the pair ON the threshold equal DuckDB's."""
    import duckdb
    import numpy as np
    from table_ocr_spark.operators.similarity import cluster_pairs_kernel

    M = _dense_cell(150, 64, 5)
    U = M / np.linalg.norm(M, axis=1)[:, None]
    blas = U @ U.T
    V = M.tolist()
    con = duckdb.connect()
    con.execute("CREATE TABLE v (i BIGINT, e DOUBLE[])")
    con.executemany("INSERT INTO v VALUES (?, ?)", list(enumerate(V)))
    rows = con.execute(
        "SELECT a.i, b.i, list_dot_product(a.e, b.e)"
        " / (sqrt(list_dot_product(a.e, a.e))"
        " * sqrt(list_dot_product(b.e, b.e))) AS raw"
        " FROM v a JOIN v b ON a.i < b.i ORDER BY raw"
    ).fetchall()
    t = [raw for i, j, raw in rows if blas[i, j] < raw][len(rows) // 8]
    want = sorted(
        (i, j, con.execute("SELECT round(?, 6)", [raw]).fetchone()[0])
        for i, j, raw in rows
        if raw >= t
    )
    cell = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(V)],
        "vec_id long, embedding array<double>, cluster int",
    )
    got = sorted(map(tuple, cluster_pairs_kernel(cell, threshold=t).collect()))
    assert got == want


def test_cell_pairs_memory_does_not_scale_with_dimension():
    """Peak memory of one dense cell stays O(block_rows * |cell|): at
    1000 x 256 dims with 128-row blocks every pair is screened in, and
    gathering both sides of each block's pairs would need ~0.5 GB."""
    import tracemalloc

    import numpy as np
    from table_ocr_spark.operators.similarity import _cell_pairs

    V = _dense_cell(1000, 256, 6)
    tracemalloc.start()
    try:
        r, c, cos = _cell_pairs(V, 0.0, 128)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(r) == 1000 * 999 // 2 and (r < c).all()
    assert (cos > 0.99).all() and np.isfinite(cos).all()
    assert peak < 64 * 2**20, peak


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

        def fold_cos(a, b):  # left folds, as the SQL oracle
            ab = aa = bb = 0.0
            for x, y in zip(map(float, a), map(float, b)):
                ab += x * y
                aa += x * x
                bb += y * y
            return ab / (math.sqrt(aa) * math.sqrt(bb))

        assign, sim = {}, {}
        for i, v in vecs.items():
            if not any(v):
                continue
            sims = [half_up6(fold_cos(v, c)) for c in cents]
            best = max(range(len(cents)), key=lambda j: (sims[j], -j))
            assign[i], sim[i] = best, sims[best]
        # within-cluster pairs on the unrounded cosine
        ids = sorted(vecs)
        adj = {i: set() for i in ids}
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                if assign.get(a) is None or assign.get(a) != assign.get(b):
                    continue
                if fold_cos(vecs[a], vecs[b]) >= threshold:
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


def test_round6_twins_match_duckdb_on_half_edges(spark):
    # the numpy rule and its Spark-expression twin round like DuckDB's
    # round(x, 6) on doubles at and one ulp either side of .5e-6 edges;
    # Spark's own round(x, 6) rounds the two named values the other way
    import duckdb
    import numpy as np

    from table_ocr_spark.local_frames import local_frame
    from table_ocr_spark.operators.similarity import _round6, _round6_col

    edges = (np.arange(1, 1001) * 997 + 0.5) / 1e6
    sweep = np.concatenate(
        [np.nextafter(edges, 0), edges, np.nextafter(edges, 1)]
    ).tolist()
    vals = [0.2600975, 0.38331149999999997, *sweep, *(-x for x in sweep)]
    (want,) = duckdb.connect().execute(
        "select list_transform(?::double[], x -> round(x, 6))", [vals]
    ).fetchone()
    assert want[:2] == [0.260097, 0.383312]
    assert _round6(np.array(vals)).tolist() == want
    got = (
        local_frame(spark, list(enumerate(vals)), "i long, x double")
        .select("i", _round6_col("x").alias("r"))
        .collect()
    )
    assert [r.r for r in sorted(got)] == want
