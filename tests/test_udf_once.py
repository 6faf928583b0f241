"""Every Python UDF call in an operator's plan runs once per row.

A lazily built frame re-evaluates a shared expression once per
consumer unless the engine keeps its result, and the optimizer copies
an expression it pushes a filter through. For a Python UDF either copy
means a second ``ArrowEvalPython``/``BatchEvalPython`` node: every row
crosses the Python boundary twice and each task holds two workers.
The helper below finds such copies in the physical plan; each
operator that calls a pandas UDF is checked on a small fixture."""

import numpy as np
import pytest

from table_ocr_spark.local_frames import local_frame
from table_ocr_spark.operators import (
    bpe, decontaminate, dedup, docpages, importance, normalize, similarity,
    textstats, webfilter,
)

_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython")


def python_udf_evaluations(df):
    """``{udf resultId: [udf text, ...]}``, one entry per evaluation
    node that runs the UDF call. Walks the physical plan, every cached
    relation's plan once (it is computed once however many scans read
    it), the current plan of every adaptive node and its query stages,
    and skips reused exchanges and subqueries (they run once, elsewhere
    in the tree). Two entries under one resultId are one UDF call the
    query evaluates twice."""
    jvm = df.sparkSession._jvm
    seen_caches = set()
    found = {}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("Reused"):
            continue
        if name == "InMemoryRelation":
            key = jvm.System.identityHashCode(node.cacheBuilder())
            if key in seen_caches:
                continue
            seen_caches.add(key)
        if name in _EVAL_NODES:
            udfs = node.udfs()
            for i in range(udfs.size()):
                u = udfs.apply(i)
                found.setdefault(u.resultId().id(), []).append(u.toString())
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        if "QueryStage" in name:
            stack.append(node.plan())
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return found


def assert_each_udf_once(df):
    found = python_udf_evaluations(df)
    assert found, "no Python UDF evaluation in the plan"
    twice = {k: v for k, v in found.items() if len(v) > 1}
    assert not twice, f"UDF calls evaluated more than once: {twice}"


_TEXTS = [
    "the quick brown fox jumps over the lazy dog again and again",
    "the quick brown fox jumps over the lazy dog again and again today",
    "a completely different document about spark plans and python",
    "short",
    "",
    None,
    "line one\nline one\nline two\nthe quick brown fox jumps over",
    "der schnelle braune fuchs springt über den faulen hund und die katze",
]


@pytest.fixture(scope="module")
def docs(spark):
    return local_frame(
        spark,
        [
            (i, t, ("de" if i == 7 else "en"), "web")
            for i, t in enumerate(_TEXTS)
        ],
        "doc_id long, text string, lang string, source string",
    )


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    return local_frame(
        spark,
        [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def _merges(docs):
    return bpe.train_bpe(docs.filter("text IS NOT NULL"), 8, sample_docs=50)


def _stored(df):
    # a trained model as a scorer reads it: stored rows, not the lazy
    # training plan (every read of which would train again)
    return local_frame(df.sparkSession, df.collect(), df.schema)


def _pos_neg(docs):
    return docs.filter("lang = 'en'"), docs.filter("lang = 'de'")


TEXT_OPERATORS = [
    pytest.param(dedup.shingle_sets, id="shingle_sets"),
    pytest.param(
        lambda d: dedup.minhash_lsh_pairs(d, threshold=0.5),
        id="minhash_lsh_pairs",
    ),
    pytest.param(dedup.simhash16, id="simhash16"),
    pytest.param(dedup.simhash_pairs, id="simhash_pairs"),
    pytest.param(
        lambda d: dedup.duplicate_span_stats(d, k=3),
        id="duplicate_span_stats",
    ),
    pytest.param(
        lambda d: dedup.remove_duplicate_spans(d, k=3),
        id="remove_duplicate_spans",
    ),
    pytest.param(textstats.repetition_stats, id="repetition_stats"),
    pytest.param(textstats.line_repetition_stats, id="line_repetition_stats"),
    pytest.param(webfilter.gopher_repetition_rules, id="gopher_repetition_rules"),
    pytest.param(normalize.normalize_text, id="normalize_text"),
    pytest.param(
        lambda d: importance._features(d, "text", "doc_id", 64),
        id="importance._features",
    ),
    pytest.param(
        lambda d: importance.dsir_weights(
            d, d.filter("lang = 'en'"), n_buckets=64
        ),
        id="dsir_weights",
    ),
    pytest.param(
        lambda d: importance.train_quality_classifier(*_pos_neg(d)),
        id="train_quality_classifier",
    ),
    pytest.param(
        lambda d: importance.apply_linear_model(
            d, _stored(importance.train_quality_classifier(*_pos_neg(d)))
        ),
        id="apply_linear_model",
    ),
    pytest.param(
        # the lazy composition q_langid_classifier runs: training is a
        # leaf, so the plan holds the scoring kernel only
        lambda d: importance.apply_langid_model(
            d, importance.train_langid_classifier(d)
        ),
        id="train_langid_classifier",
    ),
    pytest.param(
        lambda d: importance.apply_langid_model(
            d, _stored(importance.train_langid_classifier(d))
        ),
        id="apply_langid_model",
    ),
    pytest.param(
        lambda d: decontaminate.contamination_stats(
            d, d.filter("doc_id < 2"), k=3
        ),
        id="contamination_stats",
    ),
    pytest.param(lambda d: bpe.apply_bpe(d, _merges(d)), id="apply_bpe"),
    pytest.param(
        lambda d: bpe.bpe_token_count(d, _merges(d)), id="bpe_token_count"
    ),
    pytest.param(
        lambda d: docpages.documents_as_fake_pdfs(d.filter("text IS NOT NULL")),
        id="documents_as_fake_pdfs",
    ),
]


@pytest.mark.parametrize("build", TEXT_OPERATORS)
def test_text_operator_runs_each_udf_once(docs, build):
    out = build(docs)
    assert_each_udf_once(out)
    out.collect()


def _assign(emb):
    cents = np.random.default_rng(5).normal(size=(3, 8))
    return similarity.assign_clusters(emb, cents)


EMBEDDING_OPERATORS = [
    pytest.param(
        lambda e: similarity.hyperplane_near_dup_pairs(e, threshold=0.5),
        id="hyperplane_near_dup_pairs",
    ),
    pytest.param(
        lambda e: similarity.pq_encode(
            e, similarity.train_pq_codebooks(e, m=4, ksub=4)
        ),
        id="pq_encode",
    ),
    pytest.param(_assign, id="assign_clusters"),
]


@pytest.mark.parametrize("build", EMBEDDING_OPERATORS)
def test_embedding_operator_runs_each_udf_once(emb, build):
    out = build(emb)
    assert_each_udf_once(out)
    out.collect()


def test_guard_sees_a_pushed_filter_copy(spark, docs):
    # the shape the guard exists for: a filter on a UDF's output,
    # pushed below the projection, carries its own copy of the call
    from pyspark.sql import functions as F

    sh = docs.select(
        "doc_id",
        dedup._shingle_udf(3)(textstats.tokens(F.col("text"))).alias("sh"),
    ).filter(F.size("sh") > 0)
    found = python_udf_evaluations(sh)
    assert [len(v) for v in found.values()] == [2], found
