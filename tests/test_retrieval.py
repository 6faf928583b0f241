"""BM25 top-k: exact agreement with a pinned python reference
(same fold order, same idf recipe), df pruning, tie-breaks, and the
guard rails."""

import math

import pytest

from table_ocr_spark.operators.retrieval import bm25_topk


DOCS = [
    (0, "apple banana apple cherry"),
    (1, "banana banana banana"),
    (2, "cherry apple"),
    (3, "durian cherry banana apple apple apple"),
    (4, "elderberry"),
    (5, "apple"),
    (6, "banana cherry"),
    (7, "filler words only here"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _qdf(spark, qs):
    return spark.createDataFrame(qs, "query_id string, query_text string")


def _py_bm25(query_text, k1=1.2, b=0.75, idf_mode="ln", max_df_ratio=0.5):
    """Reference twin of the operator: identical tokenization, term
    order, fold order, and idf recipe."""
    toks = [d[1].split() for d in DOCS]
    n = len(DOCS)
    avgdl = sum(len(t) for t in toks) / n
    dfs = {}
    for t in toks:
        for w in set(t):
            dfs[w] = dfs.get(w, 0) + 1
    seen = {}
    for w in query_text.split():
        seen.setdefault(w, None)
    usable = [w for w in seen
              if 0 < dfs.get(w, 0) and dfs[w] / n <= max_df_ratio]
    out = {}
    for (doc_id, _), tlist in zip(DOCS, toks):
        score = None
        for w in usable:
            d = dfs[w]
            rational = (n - d + 0.5) / (d + 0.5)
            idf = math.log(1.0 + rational) if idf_mode == "ln" else rational
            tf = float(tlist.count(w))
            dl = float(len(tlist))
            c = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * dl / avgdl))
            score = c if score is None else score + c
        if score is not None and score > 0:
            out[doc_id] = score
    return out


def test_exact_agreement_with_reference(spark):
    for idf_mode in ("ln", "rational"):
        got = {
            (r["query_id"], r["doc_id"]): r["score"]
            for r in bm25_topk(
                _df(spark), _qdf(spark, [("q1", "apple durian")]),
                k=100, idf=idf_mode, max_df_ratio=1.0,
            ).collect()
        }
        want = _py_bm25("apple durian", idf_mode=idf_mode, max_df_ratio=1.0)
        assert {d: s for (_, d), s in got.items()} == want


def test_rare_term_dominates_ranking(spark):
    # 'durian' appears only in doc 3 — it must rank first for a
    # query mixing it with a common term
    rows = bm25_topk(
        _df(spark), _qdf(spark, [("q", "durian apple")]),
        k=3, max_df_ratio=1.0,
    ).collect()
    assert rows[0]["doc_id"] == 3 and rows[0]["rank"] == 1
    assert len(rows) == 3


def test_df_pruning_drops_stop_terms(spark):
    # apple df=4/8=0.5 > 0.4: pruned; query of only such terms -> no rows
    out = bm25_topk(
        _df(spark), _qdf(spark, [("q", "apple")]), max_df_ratio=0.4
    )
    assert out.count() == 0
    # durian (df 1/8) survives the same ratio
    out2 = bm25_topk(
        _df(spark), _qdf(spark, [("q", "durian apple")]), max_df_ratio=0.4
    ).collect()
    assert [r["doc_id"] for r in out2] == [3]


def test_unseen_query_terms_ignored(spark):
    rows = bm25_topk(
        _df(spark), _qdf(spark, [("q", "zzz durian")]), max_df_ratio=1.0
    ).collect()
    assert [r["doc_id"] for r in rows] == [3]
    none = bm25_topk(_df(spark), _qdf(spark, [("q", "zzz yyy")]))
    assert none.count() == 0


def test_k_bound_and_tie_break(spark):
    # docs 2 and 6 are symmetric for 'cherry' (same tf, same dl):
    # identical scores, tie broken by min doc_id
    rows = bm25_topk(
        _df(spark), _qdf(spark, [("q", "cherry")]), k=2, max_df_ratio=1.0
    ).collect()
    assert len(rows) == 2
    scores = {r["doc_id"]: (r["score"], r["rank"]) for r in rows}
    assert 2 in scores and scores[2][1] < scores.get(6, (0, 99))[1]


def test_multiple_queries_one_pass(spark):
    rows = bm25_topk(
        _df(spark),
        _qdf(spark, [("a", "durian"), ("b", "elderberry")]),
        max_df_ratio=1.0,
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["doc_id"])
    assert by_q == {"a": [3], "b": [4]}


def test_guards(spark):
    df, q = _df(spark), _qdf(spark, [("q", "apple")])
    with pytest.raises(ValueError, match="idf"):
        bm25_topk(df, q, idf="bm11")
    with pytest.raises(ValueError, match="k must"):
        bm25_topk(df, q, k=0)
    with pytest.raises(ValueError, match="queries"):
        bm25_topk(df, _qdf(spark, [("a", "x"), ("b", "y")]), max_queries=1)
    assert bm25_topk(df.limit(0), q).count() == 0
    assert bm25_topk(df, _qdf(spark, [("q", "  ")])).count() == 0


def _collect_ranked(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in df.collect()
    )


def _reference_ranked(qs, k, idf_mode):
    """_py_bm25 ranked like the operator: score desc, then min doc_id."""
    out = []
    for qid, text in qs:
        got = _py_bm25(text, idf_mode=idf_mode, max_df_ratio=1.0)
        ranked = sorted(got.items(), key=lambda x: (-x[1], x[0]))[:k]
        out += [(qid, i + 1, d, s) for i, (d, s) in enumerate(ranked)]
    return sorted(out)


def test_kernel_matches_reference_across_partitions(spark):
    # the Arrow kernel must reproduce the pinned left-fold EXACTLY
    # (same float64 ops, same order) for both idf recipes
    qs = [("q1", "apple durian"), ("q2", "banana"),
          ("q3", "cherry banana apple"), ("q4", "zzz elderberry")]
    for idf_mode in ("ln", "rational"):
        got = _collect_ranked(bm25_topk(
            _df(spark).repartition(5), _qdf(spark, qs), k=5,
            idf=idf_mode, max_df_ratio=1.0))
        want = _reference_ranked(qs, 5, idf_mode)
        assert got == want, idf_mode  # exact float equality included
        assert len(want) > 0


def test_topk_partition_count_invariance(spark):
    # the two-phase pre-reduce (per-partition heap, then the global
    # window) must not change results with the physical partitioning
    want = _reference_ranked([("q", "apple cherry")], 3, "ln")
    qs = _qdf(spark, [("q", "apple cherry")])
    for n_parts in (1, 3, 7):
        got = _collect_ranked(bm25_topk(
            _df(spark).repartition(n_parts), qs, k=3, max_df_ratio=1.0))
        assert got == want, n_parts
    assert len(want) == 3


def test_kernel_pre_reduce_bounds_rows_per_partition():
    # the global per-query window must be fed at most k rows per
    # (query, partition), never raw candidates: one partition of all
    # eight docs, two queries matching four docs each, k=2 -> 2 + 2 rows
    import pandas as pd

    from pyspark.sql import types as T

    from table_ocr_spark.operators.retrieval import _kernel_scorer

    schema = T.StructType([
        T.StructField("query_id", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ])
    toks = [d[1].split() for d in DOCS]
    scorer = _kernel_scorer(
        usable={0: ["apple"], 1: ["banana"]},
        idfs={"apple": 1.0, "banana": 1.0},
        k=2, k1=1.2, b=0.75,
        avgdl=sum(len(t) for t in toks) / len(toks),
        out_schema=schema, id_field="doc_id",
        qid_vals={0: "a", 1: "b"},
    )
    batch = pd.DataFrame({"doc_id": [d[0] for d in DOCS], "_toks": toks})
    out = pd.concat(list(scorer(iter([batch]))))
    assert sorted(out["query_id"]) == ["a", "a", "b", "b"]


def test_wide_vocab_stats_path_matches_wide_agg(spark):
    # a query vocabulary past _WIDE_AGG_MAX_TERMS switches the stats
    # phase to the explode+groupBy shape; the unseen filler terms
    # change no score, so dfs must agree with the wide aggregate
    from table_ocr_spark.operators.retrieval import _WIDE_AGG_MAX_TERMS

    qs_text = "apple banana cherry durian elderberry zzz filler"
    filler = " ".join(f"unseen{i}" for i in range(_WIDE_AGG_MAX_TERMS))
    a = _collect_ranked(bm25_topk(
        _df(spark), _qdf(spark, [("q", qs_text)]), k=8, max_df_ratio=1.0))
    b = _collect_ranked(bm25_topk(
        _df(spark), _qdf(spark, [("q", f"{qs_text} {filler}")]), k=8,
        max_df_ratio=1.0))
    assert a == b and len(a) > 0
    assert a == _reference_ranked([("q", qs_text)], 8, "ln")


def test_default_df_ratio_prunes_stop_words(spark):
    # 'banana' is in 4/8 docs (df ratio 0.5) — at the 0.05 default it
    # must be pruned; an explicit 1.0 keeps it
    qs = _qdf(spark, [("q", "banana")])
    assert bm25_topk(_df(spark), qs).count() == 0
    assert bm25_topk(_df(spark), qs, max_df_ratio=1.0).count() == 4

def test_bm25_parameter_guards(spark):
    """k1=0 would divide by zero in the kernel; both knobs are
    validated up front."""
    import pytest

    from table_ocr_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    qs = spark.createDataFrame([(1, "a")], "query_id long, query_text string")
    with pytest.raises(ValueError, match="k1"):
        bm25_topk(docs, qs, k1=0.0)
    with pytest.raises(ValueError, match="b must"):
        bm25_topk(docs, qs, b=1.5)

