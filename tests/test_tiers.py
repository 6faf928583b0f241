"""Quality-tier extraction: exact order-statistic cutoffs from the
bounded histogram, pinned integer-ceil rank arithmetic, deterministic
tie handling, and every driver-safety fail-fast."""

import pytest
from pyspark.sql import functions as F

from table_ocr_spark.operators.tiers import score_tiers, tier_cutoffs


def _df(spark, scores):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(scores)], "doc_id long, s double"
    )


def test_cutoffs_uniform_distribution(spark):
    # n=8, T=4 -> ranks ceil(8t/4) = 2,4,6 -> cutoff scores 2,4,6
    df = _df(spark, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0])
    assert tier_cutoffs(df, "s", 4) == [2.0, 4.0, 6.0]


def test_cutoffs_ceil_not_floor(spark):
    # n=5, T=2 -> rank ceil(5/2)=3 (floor would give 2)
    df = _df(spark, [10.0, 20.0, 30.0, 40.0, 50.0])
    assert tier_cutoffs(df, "s", 2) == [30.0]


def test_tiers_balanced_assignment(spark):
    df = _df(spark, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0])
    rows = {r["doc_id"]: r["tier"] for r in score_tiers(df, "s", 4).collect()}
    # tier(x) = #cutoffs strictly below x; cutoffs 2,4,6
    assert [rows[i] for i in range(8)] == [0, 0, 1, 1, 2, 2, 3, 3]


def test_tiers_equal_scores_share_tier(spark):
    # ntile() would split ties by row order; the pinned definition
    # never does — all-equal scores land in tier 0 together
    df = _df(spark, [5.0] * 12)
    tiers = {r["tier"] for r in score_tiers(df, "s", 4).collect()}
    assert tiers == {0}


def test_tiers_heavy_ties_may_skip(spark):
    # n=8, T=4: seven 1.0s push all three cutoffs to 1.0, so the one
    # high doc jumps straight to tier 3 — deterministic, documented
    df = _df(spark, [1.0] * 7 + [9.0])
    rows = {r["s"]: r["tier"] for r in score_tiers(df, "s", 4).collect()}
    assert rows[1.0] == 0
    assert rows[9.0] == 3


def test_tiers_output_schema_appends_to_input(spark):
    # tier is APPENDED so downstream consumers (budget sampler, tiered
    # sinks) keep their columns without a join back
    df = _df(spark, [1.0, 2.0, 3.0, 4.0]).withColumn("extra", F.lit(7))
    out = score_tiers(df, "s", 2)
    assert out.columns == ["doc_id", "s", "extra", "tier"]
    assert dict(out.dtypes)["tier"] == "bigint"


def test_null_scores_rejected(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, None)], "doc_id long, s double"
    )
    with pytest.raises(ValueError, match="NULL"):
        tier_cutoffs(df, "s", 2)


def test_distinct_score_overflow_fail_fast(spark):
    df = _df(spark, [float(i) for i in range(10)])
    with pytest.raises(ValueError, match="distinct"):
        tier_cutoffs(df, "s", 2, max_distinct_scores=5)


def test_bad_args(spark):
    df = _df(spark, [1.0])
    with pytest.raises(ValueError, match="n_tiers"):
        tier_cutoffs(df, "s", 1)
    with pytest.raises(ValueError, match="empty"):
        tier_cutoffs(df.filter("s > 99"), "s", 2)


def test_nan_scores_rejected(spark):
    df = _df(spark, [1.0, float("nan")])
    with pytest.raises(ValueError, match="NaN"):
        tier_cutoffs(df, "s", 2)


def test_colliding_rank_targets_count_once(spark):
    # n=2, T=4: targets (2*t+3)//4 = [1,1,2] -> DISTINCT ranks [1,2]
    # -> cutoffs [1.0, 9.0], so the top doc is tier 1 (not 2) — the
    # same answer a SQL "rk IN (1,1,2)" oracle gives
    df = _df(spark, [1.0, 9.0])
    assert tier_cutoffs(df, "s", 4) == [1.0, 9.0]
    rows = {r["s"]: r["tier"] for r in score_tiers(df, "s", 4).collect()}
    assert rows == {1.0: 0, 9.0: 1}


# ---------------------------------------------------------------------------
# tier_cutoffs_continuous — range-refinement exact quantiles


def _cont_df(spark, scores):
    return spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate(scores)], "doc_id long, s double"
    )


def _py_cutoffs(scores, n_tiers):
    from table_ocr_spark.operators.tiers import _rank_targets

    v = sorted(scores)
    return [v[r - 1] for r in _rank_targets(len(v), n_tiers)]


def test_continuous_matches_sorted_ground_truth(spark):
    from table_ocr_spark.operators.tiers import tier_cutoffs_continuous

    import random

    rnd = random.Random(7)
    scores = [rnd.uniform(-50, 50) for _ in range(5000)]
    df = _cont_df(spark, scores)
    for t in (2, 4, 7):
        got = tier_cutoffs_continuous(df, "s", t)
        assert got == _py_cutoffs(scores, t)


def test_continuous_multi_round_refinement(spark):
    # tiny buckets + tiny collect bound force >= 2 refinement rounds
    from table_ocr_spark.operators.tiers import tier_cutoffs_continuous

    import random

    rnd = random.Random(11)
    scores = [rnd.gauss(0, 1) for _ in range(4000)]
    got = tier_cutoffs_continuous(
        _cont_df(spark, scores), "s", 4, bucket_count=8, max_collect=50
    )
    assert got == _py_cutoffs(scores, 4)


def test_continuous_mass_point_fast_path(spark):
    # a value repeated past max_collect collapses its range to width 0
    # and resolves immediately — ties are the fast path
    from table_ocr_spark.operators.tiers import tier_cutoffs_continuous

    scores = [3.25] * 3000 + [float(i) for i in range(1000)]
    got = tier_cutoffs_continuous(
        _cont_df(spark, scores), "s", 4, bucket_count=16, max_collect=100
    )
    assert got == _py_cutoffs(scores, 4)


def test_continuous_agrees_with_histogram_engine(spark):
    from table_ocr_spark.operators.tiers import (
        tier_cutoffs,
        tier_cutoffs_continuous,
    )

    scores = [round(i * 0.37 % 5, 2) for i in range(800)]
    df = _cont_df(spark, scores)
    assert tier_cutoffs_continuous(df, "s", 4) == tier_cutoffs(df, "s", 4)


def test_continuous_rejects_nan_inf_null_empty(spark):
    from table_ocr_spark.operators.tiers import tier_cutoffs_continuous

    with pytest.raises(ValueError, match="NaN/inf"):
        tier_cutoffs_continuous(_cont_df(spark, [1.0, float("nan")]), "s", 2)
    with pytest.raises(ValueError, match="NaN/inf"):
        tier_cutoffs_continuous(_cont_df(spark, [1.0, float("inf")]), "s", 2)
    with pytest.raises(ValueError, match="NULL"):
        tier_cutoffs_continuous(
            spark.createDataFrame([(1, 1.0), (2, None)], "doc_id long, s double"),
            "s", 2,
        )
    with pytest.raises(ValueError, match="empty"):
        tier_cutoffs_continuous(
            _cont_df(spark, [1.0]).filter("s > 9"), "s", 2
        )


def test_continuous_max_rounds_exhaustion_raises(spark):
    from table_ocr_spark.operators.tiers import tier_cutoffs_continuous

    df = _cont_df(spark, [float(i) for i in range(200)])
    with pytest.raises(RuntimeError, match="unresolved"):
        tier_cutoffs_continuous(
            df, "s", 2, bucket_count=2, max_collect=1, max_rounds=1
        )


def test_score_tiers_continuous_engine(spark):
    scores = [i * 0.001 + 0.0001 for i in range(1000)]
    df = _cont_df(spark, scores)
    rows = {
        r["doc_id"]: r["tier"]
        for r in score_tiers(df, "s", 4, continuous=True).collect()
    }
    # uniform ramp -> balanced quartiles
    assert [rows[0], rows[499], rows[999]] == [0, 1, 3]


def test_continuous_denormal_gap_not_mass_point(spark):
    # width underflow with lo != hi must NOT resolve to lo: the
    # rank-125 value here is 5e-324, not 0.0 (review r3 finding,
    # reproduced before fix)
    from table_ocr_spark.operators.tiers import tier_cutoffs_continuous

    scores = [0.0] * 50 + [5e-324] * 200
    got = tier_cutoffs_continuous(
        _cont_df(spark, scores), "s", 2, bucket_count=16, max_collect=10
    )
    assert got == _py_cutoffs(scores, 2)


def test_continuous_huge_span_no_overflow(spark):
    # (hi-lo) overflows to inf for finite scores spanning > 1.8e308;
    # width must be computed as hi/B - lo/B
    from table_ocr_spark.operators.tiers import tier_cutoffs_continuous

    import random

    rnd = random.Random(3)
    scores = [-1.7e308, 1.7e308] + [rnd.uniform(-1e4, 1e4) for _ in range(500)]
    got = tier_cutoffs_continuous(
        _cont_df(spark, scores), "s", 4, bucket_count=32, max_collect=64
    )
    assert got == _py_cutoffs(scores, 4)


# ---------------------------------------------------------------------------
# grouped_tier_cutoffs + ccnet_buckets (per-language CCNet bucketing)
# ---------------------------------------------------------------------------


def _grouped_df(spark, rows):
    return spark.createDataFrame(rows, "g string, s double")


def test_grouped_cutoffs_exact(spark):
    from table_ocr_spark.operators.tiers import (
        _rank_targets,
        grouped_tier_cutoffs,
    )

    rows = [("a", float(i)) for i in range(1, 10)]  # 9 rows 1..9
    rows += [("b", 5.0), ("b", 5.0), ("b", 7.0)]  # ties
    rows += [("c", 42.0)]  # single row -> collapsed ranks
    got = grouped_tier_cutoffs(_grouped_df(spark, rows), "s", "g", 3)
    # a: ranks ceil(9/3)=3, ceil(18/3)=6 -> values 3.0, 6.0
    assert got["a"] == [3.0, 6.0]
    # b: n=3 -> ranks 1, 2 -> sorted [5,5,7] -> 5.0, 5.0
    assert got["b"] == [5.0, 5.0]
    # c: n=1 -> distinct ranks {1} -> ONE cutoff
    assert got["c"] == [42.0]
    assert _rank_targets(1, 3) == [1]


def test_grouped_cutoffs_null_group_coalesced(spark):
    from table_ocr_spark.operators.tiers import grouped_tier_cutoffs

    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), ("x", 3.0)], "g string, s double"
    )
    got = grouped_tier_cutoffs(df, "s", "g", 2)
    assert set(got) == {"", "x"}
    assert got[""] == [1.0]


def test_grouped_cutoffs_fail_fasts(spark):
    from table_ocr_spark.operators.tiers import grouped_tier_cutoffs

    base = _grouped_df(spark, [("a", 1.0), ("a", 2.0)])
    with pytest.raises(ValueError, match="n_tiers"):
        grouped_tier_cutoffs(base, "s", "g", 1)
    with pytest.raises(ValueError, match="NULL"):
        grouped_tier_cutoffs(
            spark.createDataFrame([("a", None)], "g string, s double"),
            "s",
            "g",
            2,
        )
    with pytest.raises(ValueError, match="NaN"):
        grouped_tier_cutoffs(
            spark.createDataFrame(
                [("a", float("nan")), ("a", 1.0)], "g string, s double"
            ),
            "s",
            "g",
            2,
        )
    many = spark.range(40).select(
        F.col("id").cast("string").alias("g"),
        F.col("id").cast("double").alias("s"),
    )
    with pytest.raises(ValueError, match="distinct"):
        grouped_tier_cutoffs(many, "s", "g", 2, max_distinct_scores=10)
    with pytest.raises(ValueError, match="max_groups"):
        grouped_tier_cutoffs(many, "s", "g", 2, max_groups=5)


def test_ccnet_buckets_terciles_and_pins(spark):
    from table_ocr_spark.operators.ccnet import ccnet_buckets

    rows = []
    for i in range(9):
        # doc i: 3 common tokens + i unique rare tokens -> avg
        # neg-logprob strictly increases with i
        rows.append(
            (i, "the the the " + " ".join(f"r{i}x{j}" for j in range(i)), "en")
        )
    rows += [(100, "der der baum", "de"), (101, "der selten", "de")]
    rows += [(200, "solo doc words", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r for r in ccnet_buckets(df).collect()}
    en = sorted(
        (got[i].avg_neg_logprob, i) for i in range(9)
    )
    assert [got[i].bucket for _, i in en] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )
    # 2-doc language: collapsed ranks -> head/middle only
    de = sorted([got[100], got[101]], key=lambda r: r.avg_neg_logprob)
    assert [r.bucket for r in de] == ["head", "middle"]
    # NULL lang is its own '' group; single doc -> head
    assert got[200].lang == "" and got[200].bucket == "head"


def test_ccnet_ties_sit_in_lower_bucket(spark):
    from table_ocr_spark.operators.ccnet import ccnet_buckets

    # four identical docs: every score equals every cutoff; strict >
    # puts ALL of them in head
    df = spark.createDataFrame(
        [(i, "same words here", "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    got = ccnet_buckets(df).collect()
    assert {r.bucket for r in got} == {"head"}


def test_ccnet_label_validation(spark):
    from table_ocr_spark.operators.ccnet import ccnet_buckets

    df = spark.createDataFrame(
        [(1, "x", "en")], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="labels"):
        ccnet_buckets(df, labels=("only",))

def test_continuous_cutoffs_bucket_count_guard(spark):
    """bucket_count=1 could never refine (child range == parent);
    fail fast instead of burning max_rounds corpus scans."""
    import pytest

    from table_ocr_spark.operators.tiers import tier_cutoffs_continuous

    df = spark.createDataFrame(
        [(float(i),) for i in range(10)], "s double"
    )
    with pytest.raises(ValueError, match="bucket_count"):
        tier_cutoffs_continuous(df, "s", 2, bucket_count=1)



def test_corpus_report_hand_check(spark):
    """Data card (operators/report.py) against hand-computed values,
    including NULL lang and NULL text."""
    from table_ocr_spark.operators.report import corpus_report

    docs = [
        (1, "the cat sat on the mat for a while today ok", "en"),
        (2, "der hund und die katze sind hier heute ja gut", "de"),
        (3, None, None),
        (4, "one two three four five six seven eight nine ten", "en"),
        (5, "a b c d e f g h i j", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {
        (r["section"], r["key"]): (r["n"], r["value"])
        for r in corpus_report(df).collect()
    }
    assert got[("corpus", "docs")] == (5, None)
    assert got[("corpus", "tokens")] == (41, None)
    assert got[("corpus", "empty_docs")] == (1, 0.2)
    assert got[("lang", "en")] == (3, 0.6)
    assert got[("lang", "")] == (1, 0.2)
    # token counts sorted: [0, 10, 10, 10, 10]; ceil-ranks of n=5,T=4:
    # (5*1+3)//4=2, (5*2+3)//4=3, (5*3+3)//4=4 -> values 10, 10, 10
    assert got[("tokens_quantile", "q1")] == (None, 10.0)
    assert got[("tokens_quantile", "q3")] == (None, 10.0)
    # docs 1,2,4 pass all gopher rules; doc 5 fails avg len; doc 3 empty
    assert got[("quality", "gopher_pass")][0] == 3
    assert got[("quality", "gopher_pass")][1] == 0.6
    assert len(got) == 4 + 3 + 3 + 1


def test_corpus_report_no_lang_col(spark):
    from table_ocr_spark.operators.report import corpus_report

    df = spark.createDataFrame(
        [(1, "hello world")], "doc_id long, text string"
    )
    got = corpus_report(df, lang_col=None).collect()
    assert not [r for r in got if r["section"] == "lang"]


def test_corpus_report_empty_corpus(spark):
    from pyspark.sql import functions as F
    from table_ocr_spark.operators.report import corpus_report

    df = spark.createDataFrame(
        [(1, "x", "en")], "doc_id long, text string, lang string"
    ).filter(F.lit(False))
    got = {
        (r["section"], r["key"]): (r["n"], r["value"])
        for r in corpus_report(df).collect()
    }
    assert got[("corpus", "docs")] == (0, None)
    # totals of an empty corpus are 0, not NULL
    assert got[("corpus", "tokens")] == (0, None)
    assert got[("corpus", "chars")] == (0, None)
    assert not [k for k in got if k[0] == "tokens_quantile"]
