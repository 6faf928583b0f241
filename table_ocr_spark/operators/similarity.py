"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the correctness baseline; the IVF variant
(coarse partition -> search only the probed cell) is the scale path:
at 10^12 vectors the cross join is impossible, but a partition-pruned
cell scan is a broadcast-join of the query set against ~1/nlist of the
data. Here the coarse quantizer is the pre-assigned ``label`` column
(at real scale: k-means centroid ids); the *plan shape* — prune, then
exact re-rank inside the cell — is the point.

Exact scores are sequential left-fold dot products, the same evaluation
order DuckDB uses, so oracle doubles agree: JVM-side higher-order
functions (``zip_with``/``aggregate``) in the join operators, and
:func:`_fold_cosine` in the SemDeDup matmul kernels, which screen with
BLAS and refold wherever its error bound leaves a decision open. Scores
are rounded to 6 dp in outputs by DuckDB's rule (:func:`_round6`,
:func:`_round6_col`), not Spark's ``round``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from table_ocr_spark.functions.sqlfuncs import as_double_array, cosine
from table_ocr_spark.local_frames import local_frame

# empty pq_topk / ivf_pq_topk result (no usable query vector)
_TOPK_SCHEMA = "query_id long, neighbor_id long, rank int, score double"


def _round6_col(x) -> Column:
    """Spark twin of :func:`_round6`, DuckDB's ``round(x, 6)``:
    ``signum(x) * floor(|x| * 1e6 + 0.5) / 1e6`` in double arithmetic.
    ``F.round(x, 6)`` rounds HALF_UP on the double's shortest decimal
    string instead, which differs within about an ulp of a .5e-6 edge
    (0.2600975: Spark 0.260098, DuckDB 0.260097). Exact for
    ``|x| < 2^63 / 1e6`` (the floor is a long), so for every score."""
    x = F.col(x) if isinstance(x, str) else x
    return F.signum(x) * (F.floor(F.abs(x) * 1e6 + 0.5) / 1e6)


def _with_vec(
    df: DataFrame, vec_col: str = "embedding", with_label: bool = True
) -> DataFrame:
    cols = [F.col("vec_id"), as_double_array(vec_col).alias("vec")]
    if with_label:
        cols.append(F.col("label"))
    return df.select(*cols)


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for the given query vec_ids.

    Plan: broadcast the (tiny) query set against the full collection —
    a map-only broadcast nested loop, no shuffle of the big side except
    the final per-query top-k (window over k*|Q| rows after local
    pre-filtering by rank). Output: (query_id, neighbor_id, rank, score).
    Label-free: needs only (vec_id, vec_col).
    """
    base = _with_vec(emb, vec_col, with_label=False)
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qvec"), F.col("vec")).alias("_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", _round6_col("_score").alias("score"))
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: search only the query's own coarse cell
    (``label``), exact re-rank inside it. Equi-join on label instead of
    a cross join — the collection side is hash-partitioned by label, so
    each query touches one cell (partition pruning at scale).
    """
    base = _with_vec(emb, vec_col)
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    pairs = base.join(
        F.broadcast(q),
        (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qvec"), F.col("vec")).alias("_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", _round6_col("_score").alias("score"))
    )


# 64-bit signatures in 8 bands of 8 bits: 256-way bucket selectivity
# per band (4-bit bands had 16 values — every bucket held ~n/16 vectors
# and the candidate join went quadratic). Recall at cos>=0.99 is
# 1-(1-(1-θ/π)^8)^8 ≈ 1-8e-5; exact duplicates are always found.
HP_BITS = 64
HP_BAND_BITS = 8


def _plane_matrix(bits: int, dim: int):
    """Deterministic pseudo-random planes in [-1, 1): a pinned integer
    mix of (bit, dim) — no RNG state, identical on every executor and
    run. numpy-computable so the signature UDF is one matmul."""
    import numpy as np

    b = np.arange(bits, dtype=np.uint64).reshape(-1, 1)
    j = np.arange(dim, dtype=np.uint64).reshape(1, -1)
    h = (b * np.uint64(1_000_003) + j * np.uint64(7919)) * np.uint64(2654435761)
    return (h % np.uint64(2**32)).astype(np.float64) / float(2**31) - 1.0


def _hyperplane_sig_udf(bits: int):
    """vec array -> signature via one numpy matmul per Arrow batch.
    NOT a Spark higher-order fold: bits x dim interpreted lambda steps
    cost ~3ms/vector (measured), the matmul ~microseconds — the same
    interpreted-HOF trap as shingle construction."""
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def udf(vecs):  # type: ignore[no-untyped-def]
        import numpy as np

        live = [(i, v) for i, v in enumerate(vecs) if v is not None and len(v)]
        out = [None] * len(vecs)  # NULL vec -> NULL signature; null band
        # keys never equi-join, so such rows yield no candidates
        if live:
            M = np.stack([np.asarray(v, dtype=np.float64) for _, v in live])
            W = _plane_matrix(bits, M.shape[1])
            sig_bits = (M @ W.T) >= 0  # (n, bits)
            weights = np.left_shift(np.uint64(1), np.arange(bits, dtype=np.uint64))
            packed = (sig_bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
            for (i, _), p_ in zip(live, packed.view(np.int64)):
                out[i] = int(p_)
        return pd.Series(out, dtype="object")

    return udf


def hyperplane_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH + exact
    cosine verification — the label-free scale path (no coarse cells
    needed): candidates come from shared signature bands, survivors are
    verified exactly, so precision is 1.0; recall at cos >= 0.99
    (angle <= 8.1 deg) is 1 - (1-(1-θ/π)^4)^4 ≈ 1 - 8e-4, and exact
    (1.0) for true duplicates, whose signatures are identical. The
    input needs only (vec_id, vec_col) — genuinely label-free."""
    from table_ocr_spark.operators.dedup import _band_pairs

    base = _with_vec(emb, vec_col, with_label=False)
    # cached: both sides of the band self-join read it; uncached, the
    # signature matmul UDF would run twice over every embedding
    sig = base.select(
        F.col("vec_id").alias("id"),
        _hyperplane_sig_udf(HP_BITS)(F.col("vec")).alias("sig"),
    ).cache()
    mask = (1 << HP_BAND_BITS) - 1
    # Band rows and the candidate self-join carry ONLY (id, band, bkey):
    # the full vector exploded 8x through the exchange, with two copies
    # per candidate before dedup, would dominate the whole job at crawl
    # scale. Vectors re-join ONCE per deduped pair for the exact
    # verification — the same narrow-candidates-then-rejoin shape as
    # MinHash's _pair_jaccard (operators/dedup.py). Unsigned shift: the
    # packed 64-bit signature may be negative as a long; arithmetic
    # shift would smear the sign bit into high bands.
    bands = [
        F.shiftrightunsigned("sig", i * HP_BAND_BITS).bitwiseAND(F.lit(mask))
        for i in range(HP_BITS // HP_BAND_BITS)
    ]
    cand = (
        _band_pairs(sig, bands)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("_va"))
    vb = base.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("_vb"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    sim = cosine(F.col("_va"), F.col("_vb"))
    return (
        pairs.filter(sim >= threshold)
        .select("id_a", "id_b", _round6_col(sim).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — public method). The memory-
# compression scale path the other three ANN operators lack: at 10^12
# vectors, even the IVF cell scan reads dim×4 bytes per vector; PQ codes
# are m bytes (m=16, dim=64 → 16×; the ratio grows with dim), so the ADC
# scan is a map-only pass over a table 16× smaller, with the float
# vectors touched only for the k×refine exact re-rank survivors per
# query. Defaults (m=16, ksub=16, refine=8) are chosen by a measured
# recall grid on the fixture embeddings — near-random vectors, PQ's
# WORST case (no cluster structure): recall@5 = 0.97 there, so real
# clustered embedding corpora sit above that floor.
# ---------------------------------------------------------------------------

PQ_MAX_TRAIN = 1 << 20          # enforced cap on the driver-side training collect
PQ_MAX_QUERIES = 10_000         # enforced cap on the broadcast LUT width


def _bounded_train_sample(emb: DataFrame, vec_col: str, max_train: int):
    """Collect the ``max_train`` rows with the smallest
    ``(xxhash64(vec_id), vec_id)`` — the pinned deterministic training
    sample — WITHOUT the TakeOrderedAndProject result-size trap: with
    P partitions each task ships its local top-``max_train`` to the
    driver, and once the corpus grows past P x max_train rows those
    task results total P x max_train x row_width bytes (measured: a 4M
    x 64-dim corpus at 64 partitions = ~2.3 GB of task results, over
    spark.driver.maxResultSize; a 1M corpus ships under the limit,
    which is why the trap only fires at scale). Fix: prefilter to
    ``hash < cutoff`` with the cutoff sized for ~3x max_train expected
    survivors. The filter keeps EVERY row below the cutoff, so if at
    least ``max_train`` rows survive, the global top-``max_train`` is
    provably inside the survivor set and the sample is BIT-IDENTICAL
    to the unfiltered rule. An under-full filter (vanishingly rare)
    doubles the cutoff's span and filters again, so it never falls
    back to an unfiltered sort until the span is the whole hash range.
    Same shape as train_bpe's sample-prefilter composition
    (operators/bpe.py).
    """
    base = _with_vec(emb, vec_col, with_label=False).filter(
        F.col("vec").isNotNull() & (F.size("vec") > 0)
    )
    n = base.count()
    h = F.xxhash64(F.col("vec_id"))
    # xxhash64 is uniform over [-2^63, 2^63); at n <= 4 * max_train the
    # trap cannot fire (per-task top-N is bounded by the per-task row
    # count), so the first pass sorts the whole range
    full = 2 ** 64
    span = full if n <= 4 * max_train else (3 * max_train * full) // n
    while True:
        span = min(span, full)
        pre = base if span == full else base.filter(h < F.lit(span - 2 ** 63))
        rows = pre.orderBy(h, F.col("vec_id")).limit(max_train).collect()
        # a FULL prefiltered sample proves the global top-N survived
        # the cutoff (every row below it is present) — no separate
        # pre-count pass needed (review r5: the count was a third
        # corpus scan spent validating the common case)
        if len(rows) >= max_train or span == full:
            return rows
        span *= 2


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 16,
    ksub: int = 16,
    vec_col: str = "embedding",
    max_train: int = 65_536,
    iters: int = 10,
):
    """Train PQ codebooks: per-subspace k-means over a BOUNDED
    deterministic sample. Returns numpy (m, ksub, dim//m) float64.

    Determinism: the sample is the ``max_train`` rows with the smallest
    ``xxhash64(vec_id)`` (an unbiased pseudo-random slice, identical on
    every run — a TakeOrderedAndProject, never a full collect), init is
    k-means++ under a pinned ``default_rng`` seed, and Lloyd runs a
    FIXED ``iters`` rounds with deterministic empty-cluster re-seeding
    (the point farthest from its assigned centroid, lowest index on
    ties). Same input → bit-identical codebooks, so encoded tables are
    reproducible across runs and clusters.

    Training is the one driver-side step and it is bounded and ENFORCED
    (the tiers.py fail-fast pattern): ``max_train`` > PQ_MAX_TRAIN
    raises instead of silently collecting a corpus.
    """
    import numpy as np

    if not 2 <= ksub <= 256:
        raise ValueError(f"train_pq_codebooks: ksub={ksub} not in [2, 256] "
                         "(codes are stored as single bytes)")
    if max_train > PQ_MAX_TRAIN:
        raise ValueError(
            f"train_pq_codebooks: max_train={max_train} exceeds the enforced "
            f"driver-collect bound {PQ_MAX_TRAIN}; train on a sample — the "
            "codebook quality saturates long before that"
        )
    rows = _bounded_train_sample(emb, vec_col, max_train)
    if not rows:
        raise ValueError("train_pq_codebooks: no non-empty vectors to train on")
    X = np.asarray([r["vec"] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"train_pq_codebooks: dim={dim} not divisible by m={m}")
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]  # cosine regime: unit sphere
    if X.shape[0] < ksub:
        raise ValueError(
            f"train_pq_codebooks: only {X.shape[0]} usable training vectors "
            f"for ksub={ksub}; lower ksub or widen the sample"
        )
    dsub = dim // m
    rng = np.random.default_rng(2654435761)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        Xs = np.ascontiguousarray(X[:, s * dsub:(s + 1) * dsub])
        books[s] = _lloyd(Xs, ksub, rng, iters)
    return books


def _lloyd(Xs, ksub: int, rng, iters: int):
    """Deterministic Lloyd over one matrix: k-means++ init under the
    supplied rng, FIXED iteration count, deterministic empty-cluster
    re-seeding. Shared by the per-subspace PQ trainer and the
    full-dimension :func:`train_kmeans`."""
    import numpy as np

    # k-means++ init under the pinned rng
    cents = np.empty((ksub, Xs.shape[1]))
    cents[0] = Xs[rng.integers(Xs.shape[0])]
    d2 = ((Xs - cents[0]) ** 2).sum(axis=1)
    for c in range(1, ksub):
        tot = d2.sum()
        if tot <= 0:  # all points identical to chosen centroids
            cents[c:] = cents[0]
            break
        cents[c] = Xs[rng.choice(Xs.shape[0], p=d2 / tot)]
        d2 = np.minimum(d2, ((Xs - cents[c]) ** 2).sum(axis=1))
    for _ in range(iters):
        # assignment via the expanded form: argmin ||x||²-2xc+||c||²
        dists = (
            (Xs ** 2).sum(axis=1, keepdims=True)
            - 2.0 * Xs @ cents.T
            + (cents ** 2).sum(axis=1)
        )
        assign = dists.argmin(axis=1)
        # point→assigned-centroid distances, masked as re-seeds consume
        # points so two empty clusters in one round never pick the same
        # farthest point (which would pin duplicate centroids)
        own = dists[np.arange(Xs.shape[0]), assign].copy()
        for c in range(ksub):
            mask = assign == c
            if mask.any():
                cents[c] = Xs[mask].mean(axis=0)
            else:  # deterministic re-seed: farthest unconsumed point
                far = own.argmax()
                cents[c] = Xs[far]
                own[far] = -np.inf
    return cents


def _pq_encode_udf(codebooks):
    """vec → m-byte PQ code via one batched argmin per subspace.
    NULL/empty/zero-norm vectors → NULL code (they can't rank under
    cosine and must not alias a real code)."""
    import pandas as pd
    from pyspark.sql import types as T

    m, ksub, dsub = codebooks.shape
    dim = m * dsub

    @F.pandas_udf(T.BinaryType())
    def udf(vecs):  # type: ignore[no-untyped-def]
        import numpy as np

        books = np.asarray(codebooks)
        live = [
            (i, v) for i, v in enumerate(vecs)
            if v is not None and len(v) == dim
        ]
        out = [None] * len(vecs)
        if live:
            X = np.stack([np.asarray(v, dtype=np.float64) for _, v in live])
            norms = np.linalg.norm(X, axis=1)
            ok = norms > 0
            X[ok] = X[ok] / norms[ok, None]
            codes = np.zeros((X.shape[0], m), dtype=np.uint8)
            for s in range(m):
                Xs = X[:, s * dsub:(s + 1) * dsub]
                cents = books[s]
                dists = (
                    (Xs ** 2).sum(axis=1, keepdims=True)
                    - 2.0 * Xs @ cents.T
                    + (cents ** 2).sum(axis=1)
                )
                codes[:, s] = dists.argmin(axis=1).astype(np.uint8)
            for row, (i, _) in enumerate(live):
                if ok[row]:
                    out[i] = codes[row].tobytes()
        return pd.Series(out, dtype="object")

    return udf


def pq_encode(
    emb: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """(vec_id, code binary[, *keep_cols]) — the m-byte compressed
    collection. Map-only; at scale this is the table you persist and
    scan instead of the floats. ``keep_cols`` carries narrow metadata
    (e.g. the IVF cell label) alongside the code."""
    return emb.select(
        "vec_id",
        _pq_encode_udf(codebooks)(as_double_array(vec_col)).alias("code"),
        *[F.col(c) for c in keep_cols],
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    m: int = 16,
    ksub: int = 16,
    refine: int = 8,
    codebooks=None,
    codes: Optional[DataFrame] = None,
    vec_col: str = "embedding",
    max_train: int = 65_536,
    cell_col: Optional[str] = None,
    query_vecs: Optional[dict] = None,
) -> DataFrame:
    """PQ-compressed approximate cosine top-k with exact re-rank.

    Plan: (1) train-or-take codebooks (bounded driver k-means);
    (2) encode the collection — map-only, m bytes/vector — or take a
    pre-encoded ``codes`` frame (vec_id, code), the production shape:
    encode ONCE, persist the m-byte table, serve every query batch
    from it (``codes`` requires ``codebooks`` — codes are meaningless
    under a retrained codebook, so the pairing is enforced); (3) ADC scan:
    per-query lookup tables (|Q|×m×ksub floats, closure-broadcast) are
    gathered against the codes in one Arrow ``mapInPandas`` kernel that
    keeps a per-PARTITION top-(k·refine) heap per query, so the
    exchange carries at most k·refine·n_partitions rows per query —
    the same two-phase shape as ``bm25_topk``; (4) global top-(k·refine)
    window; (5) exact cosine re-rank of the survivors against the true
    float vectors (the only step that touches them), final top-k.

    Output schema matches ``brute_force_topk``:
    (query_id, neighbor_id, rank, score) with score = EXACT cosine —
    approximation affects only which candidates reach the re-rank
    (recall), never the reported score.

    ``cell_col`` (IVF×PQ): each query considers ONLY neighbors in its
    own coarse cell — the constraint is enforced PER QUERY inside the
    scan kernel (restricting the scan to the union of query cells is
    NOT enough: a query would rank other queries''' cell members, which
    exact IVF never returns — caught by the ivf_topk differential).
    NULL cells match nothing, mirroring ``ivf_topk``'''s equi-join. A
    pre-encoded ``codes`` frame must then carry ``cell_col``.

    ``query_vecs`` ({query_id: [float, ...]}) serves EXTERNAL query
    vectors (eval queries, fresh embeddings) instead of looking
    ``query_ids`` up in the collection; ids must be disjoint from the
    corpus and this is ENFORCED (one pushdown-filtered existence probe)
    because a silent collision would shadow the corpus row and
    self-exclude it from results; with disjointness enforced, the
    kernel's self-exclusion mask is provably a no-op for external ids.
    Incompatible with ``cell_col`` (an external vector has no cell;
    assign one and search that cell's frame instead).
    """
    import numpy as np
    from pyspark.sql import types as T

    if codes is not None and codebooks is None:
        raise ValueError(
            "pq_topk: a pre-encoded `codes` frame requires the `codebooks` "
            "that produced it — codes are meaningless under a retrained "
            "codebook"
        )
    if query_vecs is not None and cell_col is not None:
        raise ValueError(
            "pq_topk: query_vecs + cell_col unsupported — an external "
            "vector has no cell; pre-filter the collection instead"
        )
    if query_vecs is not None:
        query_ids = list(query_vecs)
    if len(query_ids) > PQ_MAX_QUERIES:
        raise ValueError(
            f"pq_topk: {len(query_ids)} queries exceed the enforced LUT "
            f"broadcast bound {PQ_MAX_QUERIES}; batch the query set"
        )
    if query_vecs is not None and query_ids:
        # enforce the documented id-disjointness (the bound above caps
        # the isin literal list first): a corpus row sharing an external
        # query id would be silently shadowed/self-excluded
        clash = [
            r["vec_id"]
            for r in emb.select("vec_id")
            .filter(F.col("vec_id").isin(query_ids))
            .limit(5)
            .collect()
        ]
        if clash:
            raise ValueError(
                f"pq_topk: external query ids collide with corpus vec_ids "
                f"{clash} — query_vecs ids must be disjoint from the "
                f"collection"
            )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            emb, m=m, ksub=ksub, vec_col=vec_col, max_train=max_train
        )
    m, ksub, dsub = np.asarray(codebooks).shape
    dim = m * dsub

    base = emb.select(
        F.col("vec_id"),
        as_double_array(vec_col).alias("vec"),
        *([F.col(cell_col).alias("_cell")] if cell_col else []),
    )
    if query_vecs is not None:
        qrows = [
            {"vec_id": qid, "vec": v} for qid, v in query_vecs.items()
        ]
    else:
        qrows = base.filter(F.col("vec_id").isin(list(query_ids))).collect()
    luts = {}  # qid -> (m, ksub) float64 inner-product table
    qcells = {}
    for r in qrows:
        v = r["vec"]
        if v is None or len(v) != dim:
            continue
        q = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(q)
        if n == 0:
            continue
        q = q / n
        if cell_col:
            qcells[int(r["vec_id"])] = r["_cell"]
        luts[int(r["vec_id"])] = np.stack([
            q[s * dsub:(s + 1) * dsub] @ np.asarray(codebooks)[s].T
            for s in range(m)
        ])
    if not luts:
        return local_frame(emb.sparkSession, [], _TOPK_SCHEMA)

    keep = k * refine
    qid_arr = np.asarray(sorted(luts), dtype=np.int64)
    lut_arr = np.stack([luts[q] for q in qid_arr.tolist()])  # (nq, m, ksub)
    qcell_arr = [qcells.get(q) for q in qid_arr.tolist()] if cell_col else None
    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("adc", T.DoubleType()),
    ])

    def scan_partition(batches):  # pragma: no cover - runs on executors
        import pandas as pd

        nq = qid_arr.shape[0]
        # running per-query candidate buffers, compacted to top-`keep`
        # whenever they overflow 4x — bounded memory across any number
        # of input batches in the partition
        buf_ids = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        buf_sc = [np.empty(0, dtype=np.float64) for _ in range(nq)]

        def compact(qi, final=False):
            ids, sc = buf_ids[qi], buf_sc[qi]
            if ids.shape[0] > keep:
                # top-`keep` by (adc desc, id asc): lexsort on (-adc, id)
                order = np.lexsort((ids, -sc))[:keep]
                ids, sc = ids[order], sc[order]
            elif final and ids.shape[0] > 1:
                order = np.lexsort((ids, -sc))
                ids, sc = ids[order], sc[order]
            buf_ids[qi], buf_sc[qi] = ids, sc

        for pdf in batches:
            codes_raw = pdf["code"]
            ids_all = pdf["vec_id"].to_numpy(dtype=np.int64)
            live = codes_raw.notna().to_numpy()
            if not live.any():
                continue
            ids = ids_all[live]
            cells = (
                np.asarray(pdf["_cell"][live], dtype=object)
                if qcell_arr is not None
                else None
            )
            codes = np.stack([
                np.frombuffer(b, dtype=np.uint8)
                for b in codes_raw[live]
            ])  # (n, m)
            rows = np.arange(m)
            for qi in range(nq):
                sc = lut_arr[qi][rows[:, None], codes.T].sum(axis=0)
                mask = ids != qid_arr[qi]  # exclude self
                if cells is not None:
                    qc = qcell_arr[qi]
                    if qc is None:  # NULL cell joins nothing (IVF pin)
                        mask &= False
                    else:
                        mask &= cells == qc
                buf_ids[qi] = np.concatenate([buf_ids[qi], ids[mask]])
                buf_sc[qi] = np.concatenate([buf_sc[qi], sc[mask]])
                if buf_ids[qi].shape[0] > 4 * keep:
                    compact(qi)
        frames = []
        for qi in range(nq):
            compact(qi, final=True)
            if buf_ids[qi].shape[0]:
                frames.append(pd.DataFrame({
                    "query_id": np.full(buf_ids[qi].shape[0], qid_arr[qi]),
                    "neighbor_id": buf_ids[qi],
                    "adc": buf_sc[qi],
                }))
        if frames:
            yield pd.concat(frames, ignore_index=True)

    keep_cols = (cell_col,) if cell_col else ()
    if codes is not None:
        enc = codes.select(
            "vec_id",
            "code",
            *([F.col(cell_col).alias("_cell")] if cell_col else []),
        )
    else:
        enc = pq_encode(emb, codebooks, vec_col, keep_cols=keep_cols)
        if cell_col:
            enc = enc.withColumnRenamed(cell_col, "_cell")
    pre = enc.mapInPandas(scan_partition, schema=out_schema)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    cand = (
        pre.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= keep)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: the ONLY step that reads float vectors. The query
    # side is FILTERED to the query ids BEFORE the broadcast (a first
    # cut broadcast the full projected collection — 512 MB at the 1M
    # rehearsal, a driver OOM at crawl scale; caught in self-review);
    # the neighbor join then broadcasts the (k·refine·|Q|)-row
    # candidate set so the big vector table streams map-only through
    # a broadcast hash join.
    if query_vecs is not None:
        qv = local_frame(
            emb.sparkSession,
            [
                (int(qid), [float(x) for x in v])
                for qid, v in query_vecs.items()
                if v is not None and len(v) == dim
            ],
            "query_id long, _qv array<double>",
        )
    else:
        qv = base.filter(F.col("vec_id").isin(list(query_ids))).select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("_qv")
        )
    nv = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("_nv")
    )
    rescored = nv.join(
        F.broadcast(cand.join(F.broadcast(qv), "query_id")),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("_qv"), F.col("_nv")).alias("_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_score"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            _round6_col("_score").alias("score"),
        )
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    m: int = 16,
    ksub: int = 16,
    refine: int = 8,
    codebooks=None,
    vec_col: str = "embedding",
    max_train: int = 65_536,
) -> DataFrame:
    """IVF×PQ: coarse-cell pruning THEN the ADC scan — the production
    ANN serving shape (IVFADC, Jégou et al. 2011 §V). The collection
    is first restricted to the queries' own ``label`` cells (the IVF
    partition-pruning argument: ~|Q|/nlist of the data), and
    :func:`pq_topk` runs over that subset, so the 16-byte ADC scan
    touches only the probed cells instead of the whole corpus.
    Codebooks, when trained here, are trained on the CELL subset —
    residual-free coarse+fine quantization kept deliberately simple;
    pass ``codebooks`` to reuse corpus-wide ones.

    Exactness contract mirrors ``pq_topk``: reported scores are exact
    cosine; the cell restriction bounds recall by ``ivf_topk``'s (a
    neighbor outside the query's cell is invisible to BOTH)."""
    q = emb.filter(F.col("vec_id").isin(list(query_ids))).select(
        "vec_id", "label"
    )
    labels = [
        r["label"] for r in q.limit(PQ_MAX_QUERIES + 1).collect()
    ]
    if len(labels) > PQ_MAX_QUERIES:
        raise ValueError(
            f"ivf_pq_topk: query set exceeds {PQ_MAX_QUERIES}"
        )
    if not labels:
        # no query rows: empty result with the pq_topk schema (training
        # on the empty cell subset would fail fast for the wrong reason)
        return local_frame(emb.sparkSession, [], _TOPK_SCHEMA)
    cells = emb.filter(F.col("label").isin(labels))
    return pq_topk(
        cells,
        query_ids,
        k=k,
        m=m,
        ksub=ksub,
        refine=refine,
        codebooks=codebooks,
        vec_col=vec_col,
        max_train=max_train,
        cell_col="label",
    )


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    max_cell_size: Optional[int] = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_id_a < vec_id_b,
    cosine >= threshold), blocked by the coarse ``label`` cell: true
    near-dups of a vector land in its own cell, so the join is
    label-equi rather than all-pairs (same pruning argument as IVF).

    Within a cell the comparison IS all-pairs — quadratic in the cell.
    Zipfian label distributions put a whole corpus slice in one cell
    and turn one reducer quadratic, so ``max_cell_size`` guards the
    plan: cells above the cap fail fast with the offending labels
    (a bounded collect — one count per label, filtered to violators)
    instead of silently hanging a 4-hour stage. For corpora whose cells
    can't be bounded, use :func:`hyperplane_near_dup_pairs` — the
    label-free LSH path whose candidate count is ~linear. Pass ``None``
    to skip the check (e.g. inside tests with known-small cells).
    """
    base = _with_vec(emb, vec_col)
    if max_cell_size is not None:
        hot = (
            base.groupBy("label")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_cell_size)
            .limit(20)
            .collect()
        )
        if hot:
            detail = ", ".join(f"{r['label']}={r['_n']}" for r in hot)
            raise ValueError(
                f"cosine_near_dup_pairs: label cell(s) exceed "
                f"max_cell_size={max_cell_size} ({detail}); all-pairs "
                f"within such a cell is quadratic — raise the cap "
                f"consciously or use hyperplane_near_dup_pairs"
            )
    a = base.select(
        F.col("vec_id").alias("id_a"), F.col("vec").alias("_va"), "label"
    )
    b = base.select(
        F.col("vec_id").alias("id_b"), F.col("vec").alias("_vb"), "label"
    )
    sim = cosine(F.col("_va"), F.col("_vb"))
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(sim >= threshold)  # threshold on the unrounded value
        .select("id_a", "id_b", _round6_col(sim).alias("cosine"))
    )


def train_kmeans(
    emb: DataFrame,
    k: int = 64,
    vec_col: str = "embedding",
    max_train: int = 65_536,
    iters: int = 10,
):
    """Full-dimension k-means centroids for SemDeDup-style semantic
    clustering: the SAME bounded deterministic sample rule (smallest
    ``xxhash64(vec_id)`` rows), pinned k-means++ seed, fixed iteration
    count and deterministic empty-cluster re-seeding as the PQ
    trainer (:func:`_lloyd` is shared) — but WITHOUT the PQ ``ksub <=
    256`` byte-code storage cap, which is a property of 1-byte PQ
    codes, not of centroid training (SemDeDup-scale k is 10^2..10^4).
    Returns numpy ``(k, dim)`` float64 cluster means (inside the unit
    ball, NOT re-normalized; cosine assignment normalizes both
    sides). Same input -> bit-identical centroids."""
    import numpy as np

    if not 2 <= k <= 65_536:
        raise ValueError(f"train_kmeans: k={k} not in [2, 65536]")
    if max_train > PQ_MAX_TRAIN:
        raise ValueError(
            f"train_kmeans: max_train={max_train} exceeds the enforced "
            f"driver-collect bound {PQ_MAX_TRAIN}"
        )
    rows = _bounded_train_sample(emb, vec_col, max_train)
    if not rows:
        raise ValueError("train_kmeans: no non-empty vectors to train on")
    X = np.asarray([r["vec"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]  # cosine regime
    if X.shape[0] < k:
        raise ValueError(
            f"train_kmeans: only {X.shape[0]} usable training vectors "
            f"for k={k}; lower k or widen the sample"
        )
    rng = np.random.default_rng(2654435761)
    return _lloyd(np.ascontiguousarray(X), k, rng, iters)


def pinned_centroids(emb: DataFrame, k: int = 8, vec_col: str = "embedding"):
    """Engine-independent centroid seeding for cross-engine contract
    checks: the ``k`` corpus vectors with the smallest
    ``(md5(vec_id), vec_id)`` — an unbiased pseudo-random pick that
    Spark and DuckDB reproduce bit-for-bit (``xxhash64``, the trainer's
    sample rule, is JVM-only; md5 exists in both engines). NOT a
    clustering-quality claim — production corpora train real centroids
    (:func:`train_kmeans`); this exists so the assignment/dedup
    MACHINERY can be pinned to an independent SQL oracle. Bounded
    k-row collect."""
    import numpy as np

    rows = (
        _with_vec(emb, vec_col, with_label=False)
        .filter(F.col("vec").isNotNull() & (F.size("vec") > 0))
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"pinned_centroids: only {len(rows)} non-empty vectors for k={k}"
        )
    return np.asarray([r["vec"] for r in rows], dtype=np.float64)


# Screen slack of the matmul kernels. Folded in any order, a d-term dot
# product is within gamma_d * sum|a_j b_j| <= gamma_d * |a||b| of the
# exact one (gamma_d ~ d*u, u = 2^-53; Higham, Accuracy and Stability
# of Numerical Algorithms, sec. 3.1), and the norms, the normalization
# and the division add a few u more. So the normalize-then-BLAS cosine
# and the left-fold cosine each sit within (2d + 4)u of the true
# cosine, and within g = (4d + 8)u of each other. The argmax screen
# compares two such values (2g); at d = 2^19 that is 4.7e-10, at 768
# dims 7e-13. A wider screen only costs exact recomputes, never a
# different result.
_SCREEN_SLACK = 1e-9


def _round6(x):
    """6-dp HALF_UP (half away from zero), DuckDB's ``round(x, 6)``;
    np.round's half-to-even would diverge on .5e-6 edges. Monotone in
    ``x`` (each rounded step keeps order), which :func:`_cell_pairs`
    relies on."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x)


def _fold_norms(X):
    """Row norms of an (n, d) float64 matrix as the SQL engines take
    them: ``sqrt`` of a left-fold self dot product."""
    import numpy as np

    ss = np.zeros(len(X))
    for j in range(X.shape[1]):
        ss += X[:, j] * X[:, j]
    return np.sqrt(ss)


def _fold_cosine(A, B, r, c, na, nb):
    """Cosines of the row pairs ``(A[r[i]], B[c[i]])`` in the SQL
    engines' arithmetic: each dot product a left fold over the
    dimensions (``acc += a_j * b_j``, the order of ``sqlfuncs.dot`` and
    DuckDB's ``list_dot_product``), then ``ab / (sqrt(aa) * sqrt(bb))``
    with ``na``/``nb`` the rows' :func:`_fold_norms`. Its doubles equal
    the oracle's bit for bit. It folds one dimension at a time, so its
    memory is a few ``len(r)`` arrays, never pairs x d."""
    import numpy as np

    ab = np.zeros(len(r))
    for j in range(A.shape[1]):
        ab += A[r, j] * B[c, j]
    return ab / (na[r] * nb[c])


def _assign_udf(centroids):
    """vec -> (cluster, centroid_sim): nearest centroid under cosine.
    One matmul per Arrow batch screens each row's candidates — the
    centroids within 1e-6 + slack of its best BLAS similarity, i.e. every
    centroid whose 6-dp value could equal the best one. The candidates
    are recomputed by :func:`_fold_cosine` and rounded to 6 dp BEFORE the
    argmax (ties -> lowest centroid index), so cluster and centroid_sim
    are the oracle's values, not a function of BLAS summation order.
    NULL/empty/zero-norm vectors -> NULL (they have no cosine direction
    and must not alias cluster 0)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    c_norms = _fold_norms(centroids)
    if (c_norms == 0).any():
        raise ValueError("assign_clusters: zero-norm centroid")
    c_unit = centroids / c_norms[:, None]
    dim = centroids.shape[1]
    out_t = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("centroid_sim", T.DoubleType()),
        ]
    )

    @F.pandas_udf(out_t)
    def udf(vecs):  # type: ignore[no-untyped-def]
        n = len(vecs)
        cluster = np.full(n, -1, dtype=np.int64)
        sim = np.full(n, np.nan)
        ok_idx = []
        for i, v in enumerate(vecs):
            if v is None or len(v) == 0:
                continue  # no direction -> NULL assignment
            if len(v) != dim:
                # a wrong-width vector is corrupt input, not a
                # missing one — NULLing it would silently shrink
                # the dedup universe
                raise ValueError(
                    f"assign_clusters: vector of dim {len(v)} vs "
                    f"centroid dim {dim}"
                )
            ok_idx.append(i)
        if ok_idx:
            V = np.asarray(
                [np.asarray(vecs.iloc[i], dtype=np.float64) for i in ok_idx]
            )
            vn = _fold_norms(V)
            nz = vn > 0
            if nz.any():
                V, vn = V[nz], vn[nz]
                S = (V / vn[:, None]) @ c_unit.T
                near = S >= S.max(axis=1)[:, None] - (1e-6 + _SCREEN_SLACK)
                r, c = np.nonzero(near)
                exact = _fold_cosine(V, centroids, r, c, vn, c_norms)
                E = np.full(S.shape, -np.inf)
                E[r, c] = _round6(exact)
                a = E.argmax(axis=1)  # first maximum: lowest index
                rows = np.asarray(ok_idx)[nz]
                cluster[rows] = a
                sim[rows] = E[np.arange(len(a)), a]
        return pd.DataFrame(
            {
                "cluster": pd.array(
                    [None if c < 0 else int(c) for c in cluster],
                    dtype="Int32",
                ),
                "centroid_sim": sim,
            }
        )

    return udf


def assign_clusters(
    emb: DataFrame, centroids, vec_col: str = "embedding"
) -> DataFrame:
    """Map-only nearest-centroid assignment under cosine: appends
    ``cluster`` (int, NULL for empty/zero-norm vectors) and
    ``centroid_sim`` (double, 6 dp) to ``emb``. No shuffle, no join —
    the canonical coarse-quantizer stage IVF/PQ also use.

    One Arrow-batched numpy matmul per batch screens the candidates and
    a left-fold recompute decides (:func:`_assign_udf`), so every value
    equals DuckDB's ``round(list_dot_product(...) / (sqrt(...) *
    sqrt(...)), 6)`` and its argmax (ties -> lowest centroid index).
    Centroids ship as closure state (k x dim float64 — SemDeDup-scale
    k is 10^2..10^4, i.e. <= ~60 MB at 768 dims, the broadcast-table
    regime).
    """
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    if c.ndim != 2 or c.shape[0] < 1:
        raise ValueError(
            f"assign_clusters: centroids must be (k, dim), got {c.shape}"
        )
    udf = _assign_udf(c)
    assigned = emb.withColumn("_as", udf(as_double_array(vec_col)))
    return assigned.select(
        *[F.col(x) for x in emb.columns],
        F.col("_as.cluster").alias("cluster"),
        F.col("_as.centroid_sim").alias("centroid_sim"),
    )


def _cell_pairs(V, threshold, block_rows):
    """Row pairs ``r < c`` of one cell's (n, d) float64 matrix whose
    left-fold cosine is >= ``threshold``, with that cosine rounded to
    6 dp: arrays ``(r, c, cosine)``. Zero-norm rows pair with nothing.

    The matmul screens one ``block_rows``-row block at a time at
    ``threshold - _SCREEN_SLACK``. The fold cosine of a screened pair
    lies within the slack of its BLAS value ``s``, and ``>=`` and
    :func:`_round6` are monotone, so where ``s - slack`` and ``s +
    slack`` give the same answers ``s`` decides like the fold. Only the
    pairs whose window straddles the threshold or a 6-dp rounding edge
    (about 2e-3 of them) are refolded with :func:`_fold_cosine`. Every
    array is O(screened pairs) <= ``block_rows * n``, whatever d is."""
    import numpy as np

    norms = _fold_norms(V)
    live = np.flatnonzero(norms > 0)
    V, norms = V[live], norms[live]
    Vn = V / norms[:, None]
    n = len(live)
    r_parts, c_parts, cos_parts = [live[:0]], [live[:0]], [np.zeros(0)]
    for i0 in range(0, n, block_rows):
        i1 = min(i0 + block_rows, n)
        S = Vn[i0:i1] @ Vn.T
        mask = S >= threshold - _SCREEN_SLACK
        # keep the strict upper triangle in GLOBAL coordinates
        mask &= np.arange(n)[None, :] > np.arange(i0, i1)[:, None]
        r, c = np.nonzero(mask)
        s = S[r, c]
        r += i0
        lo, hi = s - _SCREEN_SLACK, s + _SCREEN_SLACK
        redo = (lo < threshold) | (_round6(lo) != _round6(hi))
        s[redo] = _fold_cosine(V, V, r[redo], c[redo], norms, norms)
        hit = s >= threshold
        r_parts.append(live[r[hit]])
        c_parts.append(live[c[hit]])
        cos_parts.append(_round6(s[hit]))
    return tuple(map(np.concatenate, (r_parts, c_parts, cos_parts)))


def cluster_pairs_kernel(
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    cell_col: str = "cluster",
    max_cell_size: Optional[int] = 100_000,
    block_rows: int = 1024,
) -> DataFrame:
    """Within-cell cosine near-dup pairs (``id_a < id_b``, cosine >=
    ``threshold``) as ONE dense matmul per cell instead of one JVM
    fold per candidate pair — the SemDeDup-paper shape (pairwise
    similarity matrix inside each cluster). One shuffle lands each
    cell on a task; ``applyInPandas`` then walks the cell's similarity
    matrix in ``block_rows``-row blocks (:func:`_cell_pairs`), so peak
    memory is a few ``block_rows * |cell|`` arrays at any dimension
    (~0.8 GB each for a 100k cell at the default — and
    ``max_cell_size`` fail-fasts beyond that, same contract as
    :func:`cosine_near_dup_pairs`). Measured on the sf0.1
    contract corpus (2100 x 64-dim, 4 cells): the label-equi fold join
    spends ~9 s on ~550k candidate folds; the matmul kernel returns in
    well under a second — the gap widens with cell size since folds
    pay per PAIR and the matmul pays per row-block.

    Emits the same columns/values as :func:`cosine_near_dup_pairs`
    (cosine rounded 6 dp HALF_UP; threshold applied to the unrounded
    value): the matmul screens at ``threshold`` minus the BLAS-vs-fold
    error bound, and each surviving pair's threshold test and rounded
    cosine equal the left fold's (:func:`_fold_cosine`). Rows whose ``cell_col`` is
    NULL are dropped (an equi-join would never match them;
    :func:`semantic_dedup` NULLs the cell of zero-norm vectors
    upstream); zero-norm vectors inside a cell are dropped for the
    same reason. Ids order identically in the kernel
    and in Spark, strings included: Python compares ``str`` by code
    point, Spark compares ``UTF8String`` by its UTF-8 bytes, and UTF-8
    was designed so that byte order IS code-point order (only UTF-16
    code-unit order diverges, past U+FFFF).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if max_cell_size is not None:
        hot = (
            emb.filter(F.col(cell_col).isNotNull())
            .groupBy(cell_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_cell_size)
            .limit(20)
            .collect()
        )
        if hot:
            detail = ", ".join(f"{r[cell_col]}={r['_n']}" for r in hot)
            raise ValueError(
                f"cluster_pairs_kernel: cell(s) exceed "
                f"max_cell_size={max_cell_size} ({detail}); raise the "
                "cap consciously (memory is block_rows*cell doubles) "
                "or train more centroids"
            )
    id_type = emb.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    narrow = emb.filter(F.col(cell_col).isNotNull()).select(
        cell_col, "vec_id", as_double_array(vec_col).alias("_vec")
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        widths = {len(v) for v in pdf["_vec"]}
        if len(widths) > 1:
            # a ragged np.asarray would surface as an opaque
            # object-dtype error deep in the task; name the cause
            raise ValueError(
                f"cluster_pairs_kernel: mixed vector widths {sorted(widths)} "
                f"in cell {pdf.iloc[0][cell_col]!r}"
            )
        V = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["_vec"]]
        )
        r, c, cos = _cell_pairs(V, threshold, block_rows)
        return pd.DataFrame({"id_a": ids[r], "id_b": ids[c], "cosine": cos})

    return narrow.groupBy(cell_col).applyInPandas(cell_pairs, out_schema)


def semantic_dedup(
    emb: DataFrame,
    centroids=None,
    k: int = 64,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    max_cell_size: Optional[int] = 100_000,
    max_iters: int = 25,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with k-means, find cosine-duplicate groups WITHIN
    each cluster, keep exactly one representative per group — the
    member with the LOWEST similarity to its centroid (the paper's
    rule: the most atypical copy preserves the most diversity), ties
    to min ``vec_id``. Exact embedding dedup is all-pairs-impossible
    at corpus scale; clustering makes the quadratic term per-cluster
    (true near-dups of a vector share its cluster — the same pruning
    argument as IVF), and ``max_cell_size`` fail-fasts the plan if a
    degenerate clustering would hand one reducer a quadratic cell.

    Stages (every one an already-measured primitive):
    nearest-centroid assignment (:func:`assign_clusters`) ->
    within-cluster pairs >= ``threshold`` (one dense matmul per cell,
    :func:`cluster_pairs_kernel`) -> connected components (pointer
    jumping over the edge-induced subgraph,
    ``dedup.duplicate_clusters``) -> survivor argmax
    (map-side-combinable ``min(struct)``, ``dedup.cluster_survivors``
    on NEGATED centroid_sim). Both matmul kernels decide in the
    left-fold arithmetic of the SQL oracle (:func:`_fold_cosine`), so
    every output row equals an independent DuckDB run. The assignment
    and the groups are checkpointed plan leaves
    (``dedup._stage_leaf``): four narrow consumers (pair sides,
    component seed, survivor scores) would otherwise re-run the
    assignment kernel each, and two the corpus-wide label join that
    closes the components.

    Returns one row per input vector: (``vec_id``, ``cluster``,
    ``centroid_sim``, ``group_id``, ``group_size``, ``is_dup``,
    ``keep``) — filter ``keep`` for the deduplicated corpus; the rest
    is the audit trail. Vectors with NULL cluster (empty/zero-norm)
    never pair and ride through as keep=true singletons.

    ``centroids=None`` trains ``k`` of them (:func:`train_kmeans`);
    pass an array to reuse a trained/pinned codebook.
    """
    from table_ocr_spark.operators.dedup import (
        _stage_leaf,
        cluster_survivors,
        duplicate_clusters,
    )

    if centroids is None:
        centroids = train_kmeans(emb, k=k, vec_col=vec_col)
    # each leaf's count materializes it, so unlike a persist no
    # cache-manager entry outlives the call
    assigned, _ = _stage_leaf(
        assign_clusters(emb.select("vec_id", vec_col), centroids, vec_col)
    )
    pairs = cluster_pairs_kernel(
        assigned,
        threshold=threshold,
        vec_col=vec_col,
        cell_col="cluster",
        max_cell_size=max_cell_size,
    )
    groups, _ = _stage_leaf(
        duplicate_clusters(
            assigned, pairs, id_col="vec_id", max_iters=max_iters
        )
    )
    surv = cluster_survivors(
        groups,
        assigned.select("vec_id", (-F.col("centroid_sim")).alias("_neg")),
        id_col="vec_id",
        score_col="_neg",
    )
    return (
        assigned.select("vec_id", "cluster", "centroid_sim")
        .join(
            groups.select(
                "vec_id",
                F.col("cluster_id").alias("group_id"),
                F.col("cluster_size").alias("group_size"),
                "is_dup",
            ),
            "vec_id",
        )
        .join(surv.select("vec_id", "keep"), "vec_id")
    )


def ivf_index(
    emb: DataFrame, centroids, vec_col: str = "embedding"
) -> DataFrame:
    """Build the coarse-quantizer ``label`` column a REAL IVF deployment
    uses, from trained centroids: :func:`assign_clusters` under cosine,
    cluster id renamed to the ``label`` every cell-pruned operator in
    this module consumes (:func:`ivf_topk`, :func:`ivf_pq_topk`,
    :func:`cosine_near_dup_pairs`). Closes the module docstring's
    "at real scale: k-means centroid ids" note — the synthetic tables
    ship a pre-assigned label; a production corpus derives it with
    ``ivf_index(emb, train_kmeans(emb, k))`` and nothing downstream
    changes (same map-only assignment stage, same equi-join pruning
    argument). Rows whose vector has no cosine direction (NULL/empty/
    zero-norm) get label NULL: they can never be ranked under cosine,
    and a NULL label never equi-joins into any cell scan."""
    # pre-drop stale assignment columns so re-indexing never yields
    # DUPLICATE cluster/label columns (review r5). Module-owned names
    # drop silently: 'label' (this function's own output) always, and
    # the 'cluster'+'centroid_sim' PAIR (assign_clusters' signature).
    # A LONE 'cluster' is probably the caller's own data — destroying
    # it silently would be the data-loss footgun the repo's fail-loud
    # convention exists for (cf. novel_documents), so raise instead.
    if "cluster" in emb.columns and "centroid_sim" not in emb.columns:
        raise ValueError(
            "ivf_index: input already has a 'cluster' column that does "
            "not look like assign_clusters output (no centroid_sim "
            "alongside) — rename or drop it first"
        )
    stale = [
        c for c in ("label", "cluster", "centroid_sim") if c in emb.columns
    ]
    assigned = assign_clusters(emb.drop(*stale), centroids, vec_col=vec_col)
    return assigned.withColumnRenamed("cluster", "label").drop(
        "centroid_sim"
    )
