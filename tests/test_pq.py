"""Product-quantization ANN (operators/similarity.py).

Differential against brute_force_topk (the exact engine already
oracle-checked in the contract): PQ is an approximation, so the
contract here is (a) determinism — bit-identical codebooks, codes and
results across runs; (b) recall@k above a floor on the fixture
embeddings; (c) reported scores are EXACT cosine (re-rank), so every
(query, neighbor) pair PQ returns must carry the same score brute
force assigns it; (d) the guards fail fast.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from table_ocr_spark.operators.similarity import (
    PQ_MAX_QUERIES,
    PQ_MAX_TRAIN,
    brute_force_topk,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)

QUERY_IDS = [1, 7, 42, 99, 250, 499]
K = 5


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def books(emb):
    return train_pq_codebooks(emb, m=16, ksub=16)


def test_codebooks_deterministic_and_shaped(emb, books):
    again = train_pq_codebooks(emb, m=16, ksub=16)
    assert books.shape == (16, 16, 4)
    assert np.array_equal(books, again)
    # trained on the unit sphere: centroids are inside the ball
    assert np.linalg.norm(books.reshape(-1, 4), axis=1).max() <= 1.0 + 1e-9


def test_encode_m_bytes_and_code_range(emb, books):
    enc = pq_encode(emb, books).collect()
    assert len(enc) == emb.count()
    for r in enc:
        assert r["code"] is not None and len(r["code"]) == 16
        assert max(r["code"]) < 16


def test_encode_null_and_zero_vectors_get_null_code(spark, books):
    df = spark.createDataFrame(
        [(1, [0.0] * 64), (2, None), (3, [1.0] + [0.0] * 63)],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r["code"] for r in pq_encode(df, books).collect()}
    assert rows[1] is None and rows[2] is None
    assert rows[3] is not None


def test_recall_vs_brute_force_and_exact_scores(emb, books):
    exact = brute_force_topk(emb, QUERY_IDS, k=K)
    approx = pq_topk(emb, QUERY_IDS, k=K, codebooks=books)
    exact_pairs = {
        (r["query_id"], r["neighbor_id"]): r["score"] for r in exact.collect()
    }
    approx_rows = approx.collect()
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    assert len(approx_pairs) == len(QUERY_IDS) * K
    hit = len(approx_pairs & set(exact_pairs))
    recall = hit / (len(QUERY_IDS) * K)
    assert recall >= 0.8, f"recall@{K}={recall:.2f}"
    # (c): any pair both engines return carries the identical exact score
    for r in approx_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_pairs:
            assert r["score"] == exact_pairs[key]


def test_pq_topk_deterministic(emb, books):
    a = pq_topk(emb, QUERY_IDS, k=K, codebooks=books).collect()
    b = pq_topk(emb, QUERY_IDS, k=K, codebooks=books).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_rank_ordering_and_self_exclusion(emb, books):
    rows = pq_topk(emb, [42], k=K, codebooks=books).collect()
    assert all(r["neighbor_id"] != 42 for r in rows)
    by_rank = sorted(rows, key=lambda r: r["rank"])
    assert [r["rank"] for r in by_rank] == list(range(1, len(rows) + 1))
    scores = [r["score"] for r in by_rank]
    assert scores == sorted(scores, reverse=True)


def test_guards_fail_fast(emb):
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(emb, m=7)
    with pytest.raises(ValueError, match="ksub"):
        train_pq_codebooks(emb, ksub=300)
    with pytest.raises(ValueError, match="max_train"):
        train_pq_codebooks(emb, max_train=PQ_MAX_TRAIN + 1)
    with pytest.raises(ValueError, match="queries"):
        pq_topk(emb, list(range(PQ_MAX_QUERIES + 1)), codebooks=np.zeros((16, 16, 4)))


def test_unknown_query_ids_yield_empty(emb, books):
    out = pq_topk(emb, [10_000_000], k=K, codebooks=books)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "rank", "score",
    ]


def test_precomputed_codes_equal_inline_encode(emb, books):
    """The production shape — encode once, persist, serve query batches
    from the codes table — must return exactly the inline-encode result,
    and codes without their codebooks must fail fast."""
    codes = pq_encode(emb, books)
    a = pq_topk(emb, QUERY_IDS, k=K, codebooks=books).collect()
    b = pq_topk(emb, QUERY_IDS, k=K, codebooks=books, codes=codes).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError, match="codebooks"):
        pq_topk(emb, QUERY_IDS, k=K, codes=codes)


def test_small_refine_multi_partition(emb, books):
    """Exercise the per-partition pre-reduce across several input
    partitions with a tight refine budget: still exactly k rows per
    query, ranks contiguous."""
    out = pq_topk(emb.repartition(4), QUERY_IDS, k=3, refine=2, codebooks=books)
    cnt = out.groupBy("query_id").count().collect()
    assert len(cnt) == len(QUERY_IDS)
    assert all(r["count"] == 3 for r in cnt)


def test_ivf_pq_recall_vs_exact_ivf(emb, books):
    """IVF x PQ differential: same coarse cells as the exact ivf_topk
    engine, so its top-k is the recall ceiling; scores on overlapping
    pairs must be identical (both exact cosine)."""
    from table_ocr_spark.operators.similarity import ivf_pq_topk, ivf_topk

    exact = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in ivf_topk(emb, QUERY_IDS, k=3).collect()
    }
    rows = ivf_pq_topk(emb, QUERY_IDS, k=3, codebooks=books).collect()
    pairs = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(pairs & set(exact)) / len(exact)
    assert recall >= 0.8, f"ivf_pq recall={recall:.2f}"
    for r in rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert r["score"] == exact[key]
    # every neighbor shares the query's coarse cell
    lbl = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert all(lbl[q] == lbl[n] for q, n in pairs)


def test_ivf_pq_unknown_queries_empty(emb, books):
    from table_ocr_spark.operators.similarity import ivf_pq_topk

    out = ivf_pq_topk(emb, [10_000_000], codebooks=books)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "rank", "score",
    ]


def test_external_query_vectors(emb, books):
    """Serve a query vector that is NOT in the collection: an external
    copy of doc 42's embedding must find 42 at rank 1 with score 1.0."""
    v42 = emb.filter(F.col("vec_id") == 42).collect()[0]["embedding"]
    rows = pq_topk(
        emb, [], k=3, codebooks=books,
        query_vecs={9_999_999: list(v42)},
    ).collect()
    by_rank = sorted(rows, key=lambda r: r["rank"])
    assert by_rank[0]["neighbor_id"] == 42
    assert by_rank[0]["score"] == 1.0
    with pytest.raises(ValueError, match="cell_col"):
        pq_topk(emb, [], codebooks=books, cell_col="label",
                query_vecs={1: list(v42)})


def test_external_query_id_collision_raises(emb, books):
    """An external query id equal to a corpus vec_id would silently
    shadow (and self-exclude) that corpus row — enforced, not documented."""
    with pytest.raises(ValueError, match="collide"):
        pq_topk(emb, [], k=3, codebooks=books,
                query_vecs={42: [1.0] + [0.0] * 63})


def test_multi_empty_reseed_gets_distinct_points(spark):
    """Two+ clusters going empty in ONE Lloyd round must re-seed to
    DIFFERENT points. Input: 5 distinct unit vectors over 8 rows with
    ksub=8, so k-means++ exhausts the distinct values and three
    clusters sit empty every round. The un-masked re-seed gave all
    three the same farthest point (one centroid x4); masking caps any
    centroid's multiplicity at 2 (its own cluster + one re-seed)."""
    dim4 = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
        [0.5, 0.5, 0.5, 0.5],
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(dim4)],
        "vec_id long, embedding array<float>",
    )
    books = train_pq_codebooks(df, m=1, ksub=8)
    cents = np.round(books[0], 12)
    _, counts = np.unique(cents, axis=0, return_counts=True)
    assert counts.max() <= 2, f"duplicate re-seeded centroids: {counts}"


def test_bounded_train_sample_prefilter_is_bit_identical(spark):
    """The hash-cutoff prefilter (result-size fix at 4M+) must return
    EXACTLY the rows the plain smallest-xxhash sort returns."""
    from pyspark.sql import functions as F
    from table_ocr_spark.operators.similarity import (
        _bounded_train_sample,
        _with_vec,
    )

    rows = [(i, [float(i % 7), 1.0]) for i in range(4000)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # max_train small enough that n > 4*max_train engages the filter
    got = _bounded_train_sample(emb, "embedding", 300)
    plain = (
        _with_vec(emb, "embedding", with_label=False)
        .filter(F.col("vec").isNotNull() & (F.size("vec") > 0))
        .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(300)
        .collect()
    )
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in plain]


def test_bounded_train_sample_widens_under_full_cutoff(spark):
    """vec_ids picked by their xxhash64 so the first cutoff keeps only
    two rows: the sampler must widen the cutoff and filter again, and
    still return exactly the plain smallest-xxhash sort."""
    from pyspark.sql import functions as F
    from table_ocr_spark.operators.similarity import _bounded_train_sample

    max_train, n = 5, 60
    # first span is 3 * max_train / n = 1/4 of the hash range
    first_cutoff = -(2 ** 63) + (3 * max_train * 2 ** 64) // n
    hashed = [
        (r["id"], r["h"])
        for r in spark.range(20_000)
        .select("id", F.xxhash64("id").alias("h"))
        .collect()
    ]
    low = [i for i, h in hashed if h < first_cutoff][:2]
    mid = [i for i, h in hashed if first_cutoff <= h < 0][:10]
    high = [i for i, h in hashed if h >= 0][: n - len(low) - len(mid)]
    ids = low + mid + high
    assert len(low) == 2 and len(ids) == n
    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in ids],
        "vec_id long, embedding array<float>",
    )
    got = _bounded_train_sample(emb, "embedding", max_train)
    plain = (
        emb.orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(max_train)
        .collect()
    )
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in plain]
    assert len(got) == max_train
