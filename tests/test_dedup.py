"""Deduplication operators vs hand-computed expectations: exact
clusters, n-gram Jaccard pairs, MinHash+LSH == ground truth, SimHash
band-join == all-pairs (pigeonhole exactness)."""

import pytest
from pyspark.sql import functions as F

from table_ocr_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash16,
    simhash_pairs,
)

DOCS = [
    # (doc_id, text)
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "The   quick brown fox jumps over the lazy dog near the river bank"),  # case/ws dup of 1
    (4, "the quick brown fox jumps over the lazy dog near the river"),  # near dup (1 word less)
    (5, "completely different words about table extraction engines and spark"),
    (6, "another unrelated document mentioning parquet files and arrow batches"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_clusters(spark, docs):
    rows = {r["doc_id"]: r for r in exact_dedup(docs).collect()}
    assert rows[1]["canonical_id"] == 1 and not rows[1]["is_dup"]
    assert rows[2]["canonical_id"] == 1 and rows[2]["is_dup"]
    # normalization folds case + whitespace runs
    assert rows[3]["canonical_id"] == 1 and rows[3]["is_dup"]
    assert rows[1]["n_copies"] == 3
    # near-dup is NOT an exact dup
    assert rows[4]["canonical_id"] == 4 and rows[4]["n_copies"] == 1


def test_ngram_jaccard_pairs_exact_math(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # doc1 vs doc2: identical shingle sets -> J = 1.0
    assert pairs[(1, 2)]["jaccard"] == 1.0
    # doc1 (13 tokens -> 11 shingles, 10 distinct: "the quick brown"... wait
    # compute: doc1 tokens=13, shingles=11, all distinct) vs doc4
    # (12 tokens -> 10 shingles, shared = 10) -> J = 10/11
    assert pairs[(1, 4)]["jaccard"] == round(10 / 11, 6)
    # unrelated docs share nothing
    assert (1, 5) not in pairs and (5, 6) not in pairs


def test_minhash_lsh_equals_ground_truth(spark, docs):
    truth = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert lsh == truth
    assert len(lsh) >= 3  # (1,2),(1,3)? no — 3 normalizes differently


def test_simhash_band_join_equals_all_pairs(spark, docs):
    sig = {r["id"]: r["simhash"] for r in simhash16(docs).collect()}
    # identical docs -> identical signatures
    assert sig[1] == sig[2]
    expected = set()
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sig[a] ^ sig[b]).count("1")
            if h <= 3:
                expected.add((a, b, h))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert got == expected
    assert (1, 2, 0) in got


def test_dedup_plans_are_equi_joins(spark, docs):
    # the LSH candidate join must be an equi-join (hash-partitionable),
    # never a cartesian product
    plan = minhash_lsh_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_dedup_normalized_groups(spark):
    from table_ocr_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "hello world"),      # dup of 1 after normalization
            (3, "different text"),
            (4, "HELLO WORLD  "),    # dup of 1
            (5, "different  TEXT"),  # dup of 3
        ],
        "doc_id long, text string",
    )
    want = {
        (1, 1, 3, False), (2, 1, 3, True), (4, 1, 3, True),
        (3, 3, 2, False), (5, 3, 2, True),
    }
    got = {
        (r["doc_id"], r["canonical_id"], r["n_copies"], r["is_dup"])
        for r in exact_dedup(df).collect()
    }
    assert got == want
    # the corpus builder's window form keeps exactly the is_dup=False
    # rows, through one exchange keyed on the content hashes
    from table_ocr_spark.operators.dedup import _exact_dedup_survivors

    survivors = _exact_dedup_survivors(df)
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(_h64") == 1, plan
    assert sorted(map(tuple, survivors.collect())) == [
        (1, "Hello   World"), (3, "different text"),
    ]


def test_exact_dedup_hash_path_shuffles_narrow_keys(spark):
    from table_ocr_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(1, "some text")], "doc_id long, text string")
    plan = exact_dedup(df)._jdf.queryExecution().executedPlan().toString()
    # the exchanges must be keyed on the hash columns, not _norm
    assert "_h64" in plan and "_h128" in plan
    import re
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "_norm" not in m.group(1), m.group(0)


def test_exact_dedup_audit_catches_weak_key_merges(spark):
    from pyspark.sql import functions as F

    from table_ocr_spark.operators.dedup import exact_dedup_audit, normalized_text

    df = spark.createDataFrame(
        [(1, "abcd"), (2, "wxyz"), (3, "abcd"), (4, "hello there")],
        "doc_id long, text string",
    )
    # the real 192-bit key: no collisions on any realistic corpus
    assert exact_dedup_audit(df).count() == 0

    # a deliberately weak key (text length) merges 'abcd' and 'wxyz';
    # the audit must surface exactly that group
    weak = [F.length(normalized_text(F.col("text"))).alias("_len")]
    bad = exact_dedup_audit(df, key_cols=weak).collect()
    assert len(bad) == 1
    assert bad[0]["n_distinct_texts"] == 2 and bad[0]["n_rows"] == 3


def test_duplicate_span_stats_hand_case(spark):
    from table_ocr_spark.operators.dedup import duplicate_span_stats

    # k=3: docs 1 and 2 share the passage "p q r s" -> grams "p q r"
    # and "q r s" (positions 2,3 in doc 1) merge into ONE span [2,5]
    # (4 tokens); doc 3 shares nothing; doc 4 is too short for a gram
    df = spark.createDataFrame(
        [
            (1, "a b p q r s x y"),
            (2, "m n p q r s"),
            (3, "totally different words here now"),
            (4, "ab cd"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in duplicate_span_stats(df, k=3).collect()}
    assert got[1]["n_tokens"] == 8
    assert got[1]["n_dup_tokens"] == 4 and got[1]["n_spans"] == 1
    assert got[1]["dup_frac"] == 0.5
    assert got[2]["n_dup_tokens"] == 4 and got[2]["n_spans"] == 1
    assert got[3]["n_dup_tokens"] == 0 and got[3]["n_spans"] == 0
    assert got[4]["n_tokens"] == 2 and got[4]["n_dup_tokens"] == 0

    # two disjoint shared passages -> two spans
    df2 = spark.createDataFrame(
        [
            (1, "p q r junk1 junk2 junk3 junk4 u v w"),
            (2, "p q r other filler words here u v w"),
        ],
        "doc_id long, text string",
    )
    g2 = {r["doc_id"]: r for r in duplicate_span_stats(df2, k=3).collect()}
    assert g2[1]["n_spans"] == 2 and g2[1]["n_dup_tokens"] == 6


def test_remove_duplicate_spans_hand_case(spark):
    from table_ocr_spark.operators.dedup import (
        duplicate_span_stats,
        remove_duplicate_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog today"  # 10 toks
    df = spark.createDataFrame(
        [
            (1, shared + " unique one alpha beta gamma delta"),
            (2, "prefix words here " + shared + " tail mark"),
            (3, "totally  unrelated\ttext   with odd   whitespace kept"),
            (4, shared),  # every token covered
            (5, None),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_duplicate_spans(df, k=5).collect()}
    # remove-all: the shared passage vanishes from EVERY occurrence
    assert got[1]["text_clean"] == "unique one alpha beta gamma delta"
    assert got[2]["text_clean"] == "prefix words here tail mark"
    assert got[1]["n_dropped"] == 10 and got[2]["n_dropped"] == 10
    # untouched doc passes through BYTE-identical (odd whitespace kept)
    assert got[3]["text_clean"] == (
        "totally  unrelated\ttext   with odd   whitespace kept"
    )
    assert got[3]["n_dropped"] == 0 and got[3]["n_kept"] == 7
    # all-covered doc -> empty string; NULL/empty pass through
    assert got[4]["text_clean"] == "" and got[4]["n_kept"] == 0
    assert got[5]["text_clean"] is None and got[5]["n_tokens"] == 0
    assert got[6]["text_clean"] == ""
    # coverage rule is BIT-identical to the stats operator
    stats = {r["doc_id"]: r["n_dup_tokens"]
             for r in duplicate_span_stats(df, k=5).collect()}
    assert all(r["n_dropped"] == stats[i] for i, r in got.items())


def test_remove_duplicate_spans_overlapping_islands(spark):
    from table_ocr_spark.operators.dedup import remove_duplicate_spans

    # k=3: "p q r s" shared -> grams at positions 2,3 of doc 1 overlap
    # into one covered run [2,5]; kept = tokens outside it
    df = spark.createDataFrame(
        [(1, "a b p q r s x y"), (2, "m n p q r s")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_duplicate_spans(df, k=3).collect()}
    assert got[1]["text_clean"] == "a b x y"
    assert got[2]["text_clean"] == "m n"
    assert got[1]["n_kept"] == 4 and got[1]["n_dropped"] == 4

    # within-document repetition alone also triggers (count >= 2 is
    # occurrence-based, exactly like the stats operator)
    df2 = spark.createDataFrame(
        [(1, "u v w pad1 pad2 u v w")], "doc_id long, text string"
    )
    g2 = remove_duplicate_spans(df2, k=3).collect()[0]
    assert g2["text_clean"] == "pad1 pad2" and g2["n_dropped"] == 6


def test_remove_duplicate_spans_partition_invariant(spark):
    from table_ocr_spark.operators.dedup import remove_duplicate_spans

    shared = "x1 x2 x3 x4 x5 x6"
    rows = [(i, f"head{i} {shared} tail{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r["doc_id"], r["text_clean"], r["n_dropped"])
        for r in remove_duplicate_spans(df.repartition(2), k=5).collect()
    )
    b = sorted(
        (r["doc_id"], r["text_clean"], r["n_dropped"])
        for r in remove_duplicate_spans(df.repartition(13), k=5).collect()
    )
    assert a == b
    assert all(t == f"head{i} tail{i}" for i, t, _ in a)


def test_null_text_rows_survive_all_dedup_operators(spark):
    # crawl corpora routinely carry NULL text; no operator may crash
    from table_ocr_spark.operators.dedup import (
        duplicate_span_stats,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    df = spark.createDataFrame(
        [(1, "shared words appear in both docs here"),
         (2, "shared words appear in both docs here"),
         (3, None),
         (4, "")],
        "doc_id long, text string",
    )
    assert exact_dedup(df).count() == 4
    pairs = {(r["id_a"], r["id_b"]) for r in
             ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert pairs == {(1, 2)}
    assert {(r["id_a"], r["id_b"]) for r in
            minhash_lsh_pairs(df, threshold=0.5).collect()} == {(1, 2)}
    sp = simhash_pairs(df, max_hamming=3).collect()  # must not raise
    assert {(r["id_a"], r["id_b"]) for r in sp} >= {(1, 2)}
    spans = {r["doc_id"]: r for r in duplicate_span_stats(df, k=3).collect()}
    assert spans[3]["n_tokens"] == 0 and spans[3]["n_dup_tokens"] == 0
    assert spans[1]["n_dup_tokens"] > 0


def test_ngram_jaccard_max_shingle_df_self_consistent(spark):
    from table_ocr_spark.operators.dedup import ngram_jaccard_pairs

    # docs 1,2 identical; the shared shingles all occur in >= 2 docs, so
    # with max_shingle_df=1 everything is dropped -> no pairs; with
    # max_shingle_df=2 the rare universe IS their full set -> jaccard 1.0
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    assert ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=1).count() == 0
    rows = ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=2).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == 1.0


def test_novel_documents_cross_snapshot(spark):
    from table_ocr_spark.operators.dedup import novel_documents

    seen = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),      # exact re-delivery -> dropped
            (11, "ALPHA   beta GAMMA "),   # normalization dup -> dropped
            (12, "zeta eta theta"),        # novel
            (13, None),                    # NULL text: novel iff no empty seen
        ],
        "doc_id long, text string",
    )
    got = sorted(r["doc_id"] for r in novel_documents(new, seen).collect())
    assert got == [12, 13]
    # an empty-text doc in seen swallows NULL/empty new docs (pinned:
    # NULL normalizes to empty — same cluster as empty documents)
    seen2 = seen.union(spark.createDataFrame([(3, "")], seen.schema))
    got2 = sorted(r["doc_id"] for r in novel_documents(new, seen2).collect())
    assert got2 == [12]
    # full rows ride through (left_semi keeps the original columns)
    assert set(novel_documents(new, seen).columns) == {"doc_id", "text"}


# ---------------------------------------------------------------------------
# duplicate_clusters — connected components over the pair graph


def _clusters(spark, n_ids, pairs, **kw):
    from table_ocr_spark.operators.dedup import duplicate_clusters

    docs = spark.createDataFrame([(i,) for i in n_ids], "doc_id long")
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {
        r["doc_id"]: r for r in duplicate_clusters(docs, pdf, **kw).collect()
    }


def test_duplicate_clusters_transitive_chain(spark):
    # A~B, B~C, C~D but A!~D: pairwise drop-greater would over-keep;
    # the closure must collapse all four onto min id 1
    rows = _clusters(spark, [1, 2, 3, 4, 5], [(1, 2), (2, 3), (3, 4)])
    for i in (1, 2, 3, 4):
        assert rows[i]["cluster_id"] == 1
        assert rows[i]["cluster_size"] == 4
        assert rows[i]["is_dup"] == (i != 1)
    # isolated doc is its own singleton cluster, never a dup
    assert rows[5]["cluster_id"] == 5
    assert rows[5]["cluster_size"] == 1
    assert not rows[5]["is_dup"]


def test_duplicate_clusters_two_components_and_direction(spark):
    # pair direction must not matter (edges are symmetrized)
    rows = _clusters(spark, [1, 2, 3, 10, 11], [(2, 1), (3, 2), (11, 10)])
    assert {rows[i]["cluster_id"] for i in (1, 2, 3)} == {1}
    assert {rows[i]["cluster_id"] for i in (10, 11)} == {10}
    assert rows[10]["cluster_size"] == 2


def test_duplicate_clusters_long_chain_pointer_jumping(spark):
    # a 100-hop chain converges in O(log n) rounds, not 100: the
    # default max_iters=25 must be far more than enough
    n = 100
    rows = _clusters(
        spark, list(range(n)), [(i, i + 1) for i in range(n - 1)]
    )
    assert all(rows[i]["cluster_id"] == 0 for i in range(n))
    assert rows[0]["cluster_size"] == n
    assert sum(1 for i in range(n) if rows[i]["is_dup"]) == n - 1


def test_duplicate_clusters_max_iters_raises(spark):
    with pytest.raises(RuntimeError, match="no convergence"):
        _clusters(spark, [1, 2, 3, 4], [(1, 2), (2, 3), (3, 4)], max_iters=1)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_duplicate_clusters_converges_in_fixed_point_round(spark, id_type):
    # three disjoint pairs reach the fixed point in round 1; the
    # split-edge probe stops there, with no confirming round, for
    # every id type
    from table_ocr_spark.operators.dedup import duplicate_clusters

    ids = [1, 2, 3, 4, 5, 6] if id_type == "long" else list("abcdef")
    docs = spark.createDataFrame([(i,) for i in ids], f"doc_id {id_type}")
    pairs = spark.createDataFrame(
        [(ids[1], ids[0]), (ids[2], ids[3]), (ids[5], ids[4])],
        f"id_a {id_type}, id_b {id_type}",
    )
    rows = {
        r["doc_id"]: r
        for r in duplicate_clusters(docs, pairs, max_iters=1).collect()
    }
    for lo, hi in zip(ids[::2], ids[1::2]):
        assert rows[lo]["cluster_id"] == rows[hi]["cluster_id"] == lo
        assert rows[hi]["is_dup"] and not rows[lo]["is_dup"]
        assert rows[lo]["cluster_size"] == 2


# ---------------------------------------------------------------------------
# cluster_survivors — best-score survivor per cluster


def _survivors(spark, clusters, scores):
    from table_ocr_spark.operators.dedup import cluster_survivors

    cl = spark.createDataFrame(clusters, "doc_id long, cluster_id long")
    sc = spark.createDataFrame(scores, "doc_id long, quality_score double")
    return {
        r["doc_id"]: r for r in cluster_survivors(cl, sc).collect()
    }


def test_survivor_is_best_score_not_min_id(spark):
    # min-id would keep doc 1 (the fragment); best-score keeps doc 3
    rows = _survivors(
        spark,
        [(1, 1), (2, 1), (3, 1), (9, 9)],
        [(1, 0.2), (2, 0.5), (3, 0.9), (9, 0.1)],
    )
    assert [rows[i]["keep"] for i in (1, 2, 3)] == [False, False, True]
    assert rows[9]["keep"]  # singleton survives regardless of score
    assert sum(1 for r in rows.values() if r["keep"]) == 2


def test_survivor_score_tie_breaks_to_min_id(spark):
    rows = _survivors(spark, [(5, 5), (7, 5)], [(5, 0.4), (7, 0.4)])
    assert rows[5]["keep"] and not rows[7]["keep"]


def test_survivor_null_scores_lose_and_all_null_falls_back(spark):
    from table_ocr_spark.operators.dedup import cluster_survivors

    cl = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10)], "doc_id long, cluster_id long"
    )
    sc = spark.createDataFrame(
        [(1, None), (2, 0.1)], "doc_id long, quality_score double"
    )
    rows = {r["doc_id"]: r for r in cluster_survivors(cl, sc).collect()}
    # NULL score never beats a scored doc, even a low one
    assert not rows[1]["keep"] and rows[2]["keep"]
    # cluster with no scores at all (left join misses): pure min-id
    assert rows[10]["keep"] and not rows[11]["keep"]
    assert rows[10]["quality_score"] is None


def test_duplicate_clusters_string_ids(spark):
    # url-keyed corpora: the closure semantics must be identical to
    # the integer path
    from table_ocr_spark.operators.dedup import duplicate_clusters

    docs = spark.createDataFrame(
        [("u://a",), ("u://b",), ("u://c",), ("u://z",)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("u://b", "u://a"), ("u://b", "u://c")], "id_a string, id_b string"
    )
    rows = {r["doc_id"]: r for r in duplicate_clusters(docs, pairs).collect()}
    assert {rows[u]["cluster_id"] for u in ("u://a", "u://b", "u://c")} == {
        "u://a"
    }
    assert rows["u://a"]["cluster_size"] == 3
    assert rows["u://z"]["cluster_id"] == "u://z"
    assert not rows["u://z"]["is_dup"]


def test_duplicate_clusters_string_long_chain(spark):
    from table_ocr_spark.operators.dedup import duplicate_clusters

    ids = [f"u://{i:04d}" for i in range(60)]
    docs = spark.createDataFrame([(u,) for u in ids], "doc_id string")
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(59)], "id_a string, id_b string"
    )
    rows = duplicate_clusters(docs, pairs).collect()
    assert {r["cluster_id"] for r in rows} == {ids[0]}
    assert all(r["cluster_size"] == 60 for r in rows)


def test_survivor_nan_scores_treated_as_missing(spark):
    # -NaN is still NaN (sorts LARGEST in Spark), so NaN must be
    # routed through the missing rank: a NaN-scored doc never beats a
    # real score, and an all-NaN cluster falls back to min id
    rows = _survivors(
        spark,
        [(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)],
        [(1, float("nan")), (2, 0.1), (3, float("nan")),
         (8, float("nan")), (9, float("nan"))],
    )
    assert rows[2]["keep"] and not rows[1]["keep"] and not rows[3]["keep"]
    assert rows[8]["keep"] and not rows[9]["keep"]


def test_survivor_unparseable_string_scores_fall_to_missing_rank(spark):
    # ADVICE r4: scores arriving as strings (a real upstream shape —
    # CSV sidecars) must not abort under ANSI when one value is
    # unparseable, and the bad value must lose to every real score
    # instead of winning via a NULL-first sort on the negated key
    from table_ocr_spark.operators.dedup import cluster_survivors

    cl = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)],
        "doc_id long, cluster_id long",
    )
    sc = spark.createDataFrame(
        [(1, "not-a-number"), (2, "0.25"), (3, "0.9"),
         (8, "oops"), (9, "junk")],
        "doc_id long, quality_score string",
    )
    rows = {r["doc_id"]: r for r in cluster_survivors(cl, sc).collect()}
    assert rows[3]["keep"] and not rows[1]["keep"] and not rows[2]["keep"]
    # all-unparseable cluster: pure min-id fallback
    assert rows[8]["keep"] and not rows[9]["keep"]


def _cc_chain(spark):
    from table_ocr_spark.operators.dedup import duplicate_clusters

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long"
    )
    out = duplicate_clusters(docs, pairs)
    assert all(r["cluster_id"] == 0 for r in out.collect())


def _redirect_chain(spark):
    from table_ocr_spark.operators.redirects import resolve_redirects

    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i + 1}") for i in range(9)], "src string, dst string"
    )
    out = {r["url"]: r for r in resolve_redirects(edges).collect()}
    assert out["u0"]["final_url"] == "u9" and out["u0"]["hops"] == 9


def _pagerank_ring(spark):
    from table_ocr_spark.operators.linkgraph import host_pagerank

    g = spark.createDataFrame(
        [(f"h{i}", f"h{(i + 1) % 5}", 1) for i in range(5)],
        "src_host string, dst_host string, n_links long",
    )
    ranks = [r["rank"] for r in host_pagerank(g).collect()]
    assert len(ranks) == 5 and all(abs(x - 0.2) < 1e-9 for x in ranks)


def _corpus_build(spark):
    from table_ocr_spark.pipelines import build_training_corpus

    def page(i):
        words = " ".join(f"p{i}w{j}" for j in range(14))
        html = f"<html><body><article><p>{words}</p></article></body></html>"
        return (f"http://s{i}.test/", bytearray(html.encode()))

    pages = spark.createDataFrame(
        [page(i) for i in range(12)], "url string, html binary"
    )
    corpus, rep = build_training_corpus(pages, n_tiers=2)
    assert rep.n_after_near_dedup == 12 and corpus.count() == 12


@pytest.mark.parametrize(
    "call, left",
    [(_cc_chain, 0), (_redirect_chain, 0), (_pagerank_ring, 0),
     # minhash_lsh_pairs' own .cache() of the shingle sets is never
     # released (ROADMAP items 2 and 7); it is the one RDD allowed
     (_corpus_build, 1)],
    ids=["duplicate_clusters", "resolve_redirects", "host_pagerank",
         "build_training_corpus"],
)
def test_reliable_checkpoint_path_leaves_no_persisted_rdd(
    spark, tmp_path, call, left
):
    # with a checkpoint dir set, plan cuts are eager reliable
    # checkpoints: no iteration round or stage leaf keeps a persisted
    # copy of its input for the caller to release
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        call(spark)
        assert jsc.getPersistentRDDs().size() <= before + left
    finally:
        # unset so the rest of the session-scoped suite stays on the
        # localCheckpoint path (scala setter: Option[String] = None)
        getattr(jsc, "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_stage_leaf_reliable_checkpoint_evaluates_each_row_once(spark, tmp_path):
    # a reliable checkpoint written lazily recomputes its plan in a
    # second pass; the eager one under _stage_leaf reads each row once
    from table_ocr_spark.operators.dedup import _stage_leaf

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    calls = sc.accumulator(0)

    @F.udf("long")
    def counted(x):
        calls.add(1)
        return x * 2

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        leaf, c = _stage_leaf(
            spark.range(1000).select(counted("id").alias("y")),
            total=F.sum("y"),
        )
        assert c == {"n": 1000, "total": 999000}
        assert calls.value == 1000
        assert leaf.agg(F.max("y")).collect()[0][0] == 1998
        assert calls.value == 1000
    finally:
        getattr(jsc, "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_duplicate_clusters_resumes_from_state_dir(spark, tmp_path):
    # r4 restart contract: a run killed mid-iteration (here: max_iters
    # exhausted, the deterministic stand-in for a driver loss — the
    # loop genuinely stops with rounds committed) must resume from the
    # last durable round, not from scratch, and converge to the same
    # labels as an uninterrupted run
    import os

    import pytest as _pytest

    from table_ocr_spark.operators.dedup import duplicate_clusters

    ids = list(range(60))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in ids[:-1]], "id_a long, id_b long"
    )
    state = str(tmp_path / "cc_state")

    with _pytest.raises(RuntimeError, match="resumes from the last"):
        duplicate_clusters(docs, pairs, max_iters=2,
                           state_dir=state).collect()
    committed = sorted(os.listdir(os.path.join(state, "labels")))
    assert committed == ["round=1", "round=2"]

    # resume: picks up at round 2 and finishes
    resumed = duplicate_clusters(docs, pairs, max_iters=25,
                                 state_dir=state)
    fresh = duplicate_clusters(docs, pairs, max_iters=25)
    as_rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert as_rows(resumed) == as_rows(fresh)
    assert all(r["cluster_id"] == 0 for r in resumed.collect())

    # a completed state short-circuits: no new round directories, and
    # the stored labels are returned even without recomputing pairs
    n_rounds = len(os.listdir(os.path.join(state, "labels")))
    again = duplicate_clusters(
        docs, spark.createDataFrame([], "id_a long, id_b long"),
        state_dir=state,
    )
    assert as_rows(again) == as_rows(fresh)
    assert len(os.listdir(os.path.join(state, "labels"))) == n_rounds


def test_duplicate_clusters_resumes_past_corrupt_marker(spark, tmp_path):
    # a driver kill mid-write leaves a directory without _SUCCESS (the
    # committer writes it last). Resume skips it and every name that is
    # not a round, and falls back to the newest committed round.
    import os

    import pytest as _pytest

    from table_ocr_spark.operators.dedup import (
        _cc_resume_point,
        duplicate_clusters,
    )

    ids = list(range(40))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in ids[:-1]], "id_a long, id_b long"
    )
    state = str(tmp_path / "cc_state")
    with _pytest.raises(RuntimeError, match="resumes from the last"):
        duplicate_clusters(docs, pairs, max_iters=2,
                           state_dir=state).collect()

    # a kill during the round-2 write, an S3 folder marker and a stray
    # directory
    labels = os.path.join(state, "labels")
    os.remove(os.path.join(labels, "round=2", "_SUCCESS"))
    open(os.path.join(labels, "round=9_$folder$"), "w").close()
    os.makedirs(os.path.join(labels, "round=x"))
    assert _cc_resume_point(spark, state) == (1, False)

    resumed = duplicate_clusters(docs, pairs, max_iters=25,
                                 state_dir=state)
    fresh = duplicate_clusters(docs, pairs, max_iters=25)
    as_rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert as_rows(resumed) == as_rows(fresh)
    final_round, done = _cc_resume_point(spark, state)
    assert done

    # an uncommitted done costs at most one recomputed round, not a
    # from-scratch run or a crash
    os.remove(os.path.join(state, "done", "_SUCCESS"))
    assert _cc_resume_point(spark, state) == (final_round, False)
    again = duplicate_clusters(docs, pairs, state_dir=state)
    assert as_rows(again) == as_rows(fresh)
    assert _cc_resume_point(spark, state)[0] <= final_round + 1


def test_duplicate_clusters_without_pairs_runs_one_job(spark):
    # the edge leaf's row count is the only action: no pair, no round
    from table_ocr_spark.local_frames import local_frame
    from table_ocr_spark.operators.dedup import duplicate_clusters

    sc = spark.sparkContext
    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    group = "cc-no-pairs"
    sc.setJobGroup(group, group)
    try:
        out = duplicate_clusters(
            docs, local_frame(spark, [], "id_a long, id_b long")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert sorted(map(tuple, out.collect())) == [
        (i, i, 1, False) for i in range(20)
    ]


def test_duplicate_clusters_state_dir_string_ids(spark, tmp_path):
    # the convergence probe must also work for url ids against
    # durable round files
    from table_ocr_spark.operators.dedup import duplicate_clusters

    ids = [f"u://{i:03d}" for i in range(40)]
    docs = spark.createDataFrame([(u,) for u in ids], "doc_id string")
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(39)],
        "id_a string, id_b string",
    )
    out = duplicate_clusters(docs, pairs,
                             state_dir=str(tmp_path / "cc_s"))
    rows = out.collect()
    assert {r["cluster_id"] for r in rows} == {ids[0]}
    assert all(r["cluster_size"] == 40 for r in rows)


def test_plan_lsh_bands_scurve_properties():
    """The planner's pick must sit near the analytic S-curve midpoint
    (1/b)^(1/r) ~= threshold and respond to the fp/fn weighting in the
    documented direction."""
    from table_ocr_spark.operators.dedup import plan_lsh_bands

    b, r, err = plan_lsh_bands(0.8, num_hashes=128)
    assert b * r <= 128 and err < 0.05
    # analytic curve midpoint of the chosen factorization near target
    mid = (1.0 / b) ** (1.0 / r)
    assert abs(mid - 0.8) < 0.15
    # recall-heavy weighting moves the curve LEFT (more bands / fewer
    # rows -> catch more below-threshold candidates, fewer misses)
    b_lo, r_lo, _ = plan_lsh_bands(0.8, num_hashes=128, fp_weight=0.05)
    assert (1.0 / b_lo) ** (1.0 / r_lo) <= mid + 1e-9
    # precision-heavy moves it right
    b_hi, r_hi, _ = plan_lsh_bands(0.8, num_hashes=128, fp_weight=0.95)
    assert (1.0 / b_hi) ** (1.0 / r_hi) >= mid - 1e-9
    # determinism
    assert plan_lsh_bands(0.8, 128) == plan_lsh_bands(0.8, 128)
    # the shipped minhash default (32 hashes, r=2 at t=0.8): planner
    # agrees r=2 is the right row count at that budget for balanced
    # weights OR picks something with strictly smaller error
    b32, r32, e32 = plan_lsh_bands(0.8, num_hashes=32)
    assert b32 * r32 <= 32
    # the sweep covers EVERY b*r <= H (review r5): the returned plan
    # must beat-or-match every such factorization under the objective
    def err(b, r, t=0.8, w=0.5, steps=400):
        fp = sum((1 - (1 - ((i + .5) * t / steps) ** r) ** b) * t / steps
                 for i in range(steps))
        fn = sum((1 - (1 - (1 - (t + (i + .5) * (1 - t) / steps) ** r) ** b))
                 * (1 - t) / steps for i in range(steps))
        return w * fp + (1 - w) * fn

    best = min(err(b, r) for r in range(1, 33)
               for b in range(1, 32 // r + 1))
    assert err(b32, r32) <= best + 1e-3

    import pytest
    with pytest.raises(ValueError, match="threshold"):
        plan_lsh_bands(1.0)
    with pytest.raises(ValueError, match="num_hashes"):
        plan_lsh_bands(0.8, 1)
    with pytest.raises(ValueError, match="fp_weight"):
        plan_lsh_bands(0.8, 128, fp_weight=2.0)
