"""BM25 text retrieval: top-k documents per query over a crawl-scale
corpus — the lexical half of similarity search (the embedding half
lives in ``operators/similarity.py``).

Spark shape — broadcast-stats scoring, NOT a posting-list join:
queries are few by definition (an eval set, a dedupe probe, a
labeling batch), so every corpus-global statistic BM25 needs — per-
term document frequency over the QUERY vocabulary, document count,
average document length — fits on the driver after one bounded
aggregation phase, and scoring becomes a single map-only pass over
the corpus. Nothing corpus-sized ever shuffles on a term.

Scoring is one Arrow ``mapInPandas`` kernel: a single token pass per
document builds a term->tf dict over the (broadcast) query vocabulary,
scores every query from it, and — the pre-reduce — keeps only a
per-partition top-k heap per query, so the number of rows LEAVING each
task is ``<= n_queries * k``, independent of candidate count. Phase 2
runs the global per-query window over ``<= k * n_partitions`` narrow
survivor rows per query (r3 verdict: a single ``row_number`` window
partitioned only by query funneled up to ``max_df_ratio`` of the
corpus through ONE reducer task).

The kernel is the one engine because it won every measurement against
per-term JVM column expressions (one interpreted ``F.filter`` pass per
usable term, so quadratic in query-term count), with identical result
rows: 2 queries / 6 terms 12.2 vs 19.8 s, a stop-word query 10.1 vs
12.8 s (200k docs x 4 text, 4 cores), a 32-query batch 6.2 vs 19.5 s
(BASELINE.md r4). Its arithmetic is the ANSI SQL fold the contract
oracle writes, so it matches DuckDB bit for bit under ``idf="rational"``.

Stats are two-shape, chosen by the size of the query vocabulary: a
single wide aggregate (one column per vocab term — zero extra shuffle)
up to ``_WIDE_AGG_MAX_TERMS`` terms; past that, a distinct-terms
explode + ``groupBy(term).count()`` whose map-side combine ships at
most ``n_partitions * |vocab|`` tiny partial rows — never a wide-agg
row and never a corpus-sized term shuffle.

The classic scatter hazard is a stop-word query term: its candidate
set is the whole corpus. ``max_df_ratio`` prunes query terms whose
document frequency exceeds the ratio (they carry near-zero idf
anyway); the default is 0.05 — eval-query-realistic (a term in >5%
of a web corpus is functionally a stop word). Even at
``max_df_ratio=1.0`` scoring stays safe: candidates are pre-reduced
before anything shuffles.

Determinism pins (the oracle-exactness rules used repo-wide):
- tokenizer = the shared :func:`~table_ocr_spark.operators.textstats.
  tokens` (split ``\\s+``, drop empties); query strings are tokenized
  with the identical rule on the driver;
- query terms are deduplicated KEEPING FIRST-OCCURRENCE ORDER and the
  score is an explicit left-fold over them (``t1 + t2 + ...``), so
  float addition order is pinned and a SQL mirror writing the same
  chain reproduces every bit;
- ``idf="rational"`` = (N - df + 0.5) / (df + 0.5) — one correctly-
  rounded division, bit-identical on any IEEE engine (this is what
  the oracle pins); ``idf="ln"`` (default) = ln(1 + rational), the
  standard BM25+ shape, computed ONCE on the driver so the executors
  see only literals (ln itself is libm-dependent, which is exactly
  why the cross-engine oracle uses "rational").

Reference has no retrieval (per-document loop, ``table_ocr/core.py``);
this is the standard Robertson/Sparck-Jones BM25.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.operators.textstats import tokens

# query vocabularies up to this size get df from one wide aggregate
# (one column per term); larger ones from explode + groupBy
_WIDE_AGG_MAX_TERMS = 64


def _py_tokens(text: str) -> list:
    """Driver-side twin of textstats.tokens. The character class is
    Java's ASCII \\s spelled out — Python's \\s is Unicode-aware
    (NBSP etc.) and would split query text where Spark does not,
    silently making such terms unmatchable."""
    return [w for w in re.split("[ \t\n\x0b\f\r]+", text or "") if w != ""]


def _empty_result(docs, queries, query_id_col: str, id_col: str) -> DataFrame:
    """Zero-row result preserving both id column types — the empty
    and non-empty paths must return the same schema."""
    qid_type = queries.schema[query_id_col].dataType
    return docs.select(
        F.lit(None).cast(qid_type).alias(query_id_col),
        F.col(id_col),
        F.lit(0.0).alias("score"),
        F.lit(0).alias("rank"),
    ).limit(0)


class _RevCmp:
    """Reverses the comparison of a wrapped value so a min-heap keyed
    (score, _RevCmp(id)) pops the WORST kept candidate: lowest score,
    then LARGEST id (the tie-break prefers the smallest id). Works
    for any orderable id type (longs and url strings alike)."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return other.v < self.v


def _kernel_scorer(
    usable, idfs, k, k1, b, avgdl, out_schema, id_field: str, qid_vals
):
    """Build the mapInPandas partition scorer: one token pass per doc,
    per-query top-k heaps per PARTITION (the pre-reduce), at most
    ``n_queries * k`` rows emitted per task. ``usable`` maps
    query-INDEX -> ordered usable terms; ``qid_vals`` maps the index
    back to the real query-id value (indices keep the heap dict keys
    hashable even if a caller ever keys queries by something exotic).
    """
    import heapq

    vocab_terms = sorted({t for ts in usable.values() for t in ts})
    one_minus_b = 1.0 - b
    kk1 = k1 + 1.0

    def score_partition(batches):
        import pandas as pd

        vocab = set(vocab_terms)
        heaps: dict = {qi: [] for qi in usable}
        for pdf in batches:
            ids = pdf[id_field]
            tok_col = pdf["_toks"]
            for row_i in range(len(pdf)):
                toks = tok_col.iloc[row_i]
                dl = float(len(toks))
                tf: dict = {}
                for w in toks:
                    if w in vocab:
                        tf[w] = tf.get(w, 0) + 1
                if not tf:
                    continue
                # the oracle's float64 left-fold, term by term:
                # idf * (tf*(k1+1)) / (tf + k1*(1-b + b*dl/avgdl))
                denom_tail = k1 * (one_minus_b + b * dl / avgdl)
                doc_id = ids.iloc[row_i]
                for qi, terms in usable.items():
                    s = None
                    for t in terms:
                        f = float(tf.get(t, 0))
                        c = idfs[t] * (f * kk1) / (f + denom_tail)
                        s = c if s is None else s + c
                    if s is None or not s > 0.0:
                        continue
                    h = heaps[qi]
                    item = (s, _RevCmp(doc_id), doc_id)
                    if len(h) < k:
                        heapq.heappush(h, item)
                    elif item > h[0]:
                        heapq.heapreplace(h, item)
        out = [
            (qid_vals[qi], doc_id, s)
            for qi, h in heaps.items()
            for (s, _, doc_id) in h
        ]
        yield pd.DataFrame(
            out, columns=[f.name for f in out_schema.fields]
        )

    return score_partition


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "ln",
    max_df_ratio: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    max_queries: int = 1000,
) -> DataFrame:
    """(query_id, doc_id, score, rank) — the ``k`` best-scoring
    documents per query, rank 1-based, ties broken by min doc id. A
    query whose every term is unseen or df-pruned returns no rows; a
    document scores only if it shares >= 1 surviving term (score > 0).

    One bounded stats phase, one map-only scoring pass, two-phase
    top-k (per-partition pre-reduce, then the global per-query
    window over ``<= k * n_partitions`` survivors). See the module
    docstring for the scale argument of each phase.
    """
    if idf not in ("ln", "rational"):
        raise ValueError(f"idf must be 'ln' or 'rational', got {idf!r}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    # k1=0 would make the saturation term 0/0 for any partially-
    # matching doc (ZeroDivisionError in the kernel); b outside [0,1]
    # inverts the length normalization
    if not k1 > 0:
        raise ValueError(f"k1 must be > 0, got {k1}")
    if not 0.0 <= b <= 1.0:
        raise ValueError(f"b must be in [0, 1], got {b}")
    qrows = queries.select(query_id_col, query_text_col).limit(
        max_queries + 1
    ).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"bm25_topk: more than {max_queries} queries — this operator "
            "broadcasts per-query term stats; batch-score a large query "
            "set in chunks"
        )
    qterms = {}
    for r in qrows:
        qid = r[query_id_col]
        if qid in qterms:
            raise ValueError(
                f"bm25_topk: duplicate query id {qid!r} — later rows "
                "would silently shadow earlier ones"
            )
        seen: dict = {}
        for t in _py_tokens(r[query_text_col]):
            seen.setdefault(t, None)
        qterms[qid] = list(seen)
    vocab = sorted({t for ts in qterms.values() for t in ts})
    if not vocab:
        return _empty_result(docs, queries, query_id_col, id_col)

    toked = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    # ---- stats phase: n_docs, dl_sum, per-term df ----
    if len(vocab) <= _WIDE_AGG_MAX_TERMS:
        # ONE wide aggregate: doc count, token total, and per-term df
        # via array_contains — zero extra shuffle, corpus read once
        stats = toked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("_toks")).alias("dl_sum"),
            *[
                F.sum(F.array_contains("_toks", t).cast("long")).alias(
                    f"_df{i}"
                )
                for i, t in enumerate(vocab)
            ],
        ).collect()[0]
        n_docs, dl_sum = stats["n"], stats["dl_sum"] or 0
        dfs = {t: (stats[f"_df{i}"] or 0) for i, t in enumerate(vocab)}
    else:
        # wide-vocab shape (r3 verdict #2: a 10k-term query batch must
        # not build a 10k-column aggregate): distinct doc terms ∩
        # vocab, explode, count per term — partial aggregation folds
        # each task to <= |vocab| rows before the (tiny) exchange
        nrow = toked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("_toks")).alias("dl_sum"),
        ).collect()[0]
        n_docs, dl_sum = nrow["n"], nrow["dl_sum"] or 0
        vocab_lit = F.array(*[F.lit(t) for t in vocab])
        df_rows = (
            toked.select(
                F.explode(
                    F.array_intersect(F.array_distinct("_toks"), vocab_lit)
                ).alias("_t")
            )
            .groupBy("_t")
            .agg(F.count(F.lit(1)).alias("_df"))
            .collect()
        )
        dfs = {t: 0 for t in vocab}
        dfs.update({r["_t"]: r["_df"] for r in df_rows})
    if n_docs == 0:
        return _empty_result(docs, queries, query_id_col, id_col)
    avgdl = dl_sum / n_docs

    def _idf(term: str):
        d = dfs.get(term, 0)
        rational = (n_docs - d + 0.5) / (d + 0.5)
        return math.log(1.0 + rational) if idf == "ln" else rational

    usable_by_qid = {}
    for qid, terms in qterms.items():
        usable = [
            t for t in terms
            if 0 < dfs.get(t, 0) and dfs[t] / n_docs <= max_df_ratio
        ]
        if usable:
            usable_by_qid[qid] = usable
    if not usable_by_qid:
        return _empty_result(docs, queries, query_id_col, id_col)
    qid_type = queries.schema[query_id_col].dataType
    did_type = docs.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, qid_type),
            T.StructField(id_col, did_type),
            T.StructField("score", T.DoubleType()),
        ]
    )
    qids = list(usable_by_qid)
    scorer = _kernel_scorer(
        usable={i: usable_by_qid[q] for i, q in enumerate(qids)},
        idfs={t: _idf(t) for ts in usable_by_qid.values() for t in ts},
        k=k,
        k1=k1,
        b=b,
        avgdl=avgdl,
        out_schema=out_schema,
        id_field=id_col,
        qid_vals=dict(enumerate(qids)),
    )
    pre_reduced = toked.mapInPandas(scorer, schema=out_schema)

    # phase 2: the global per-query window now ranks at most
    # k * n_input_partitions narrow survivor rows per query
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(id_col)
    )
    return (
        pre_reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
