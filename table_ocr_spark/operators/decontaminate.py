"""Benchmark decontamination — n-gram overlap between the training
corpus and an evaluation/benchmark set (the GPT-3-style 13-gram rule:
a training document sharing enough long n-grams with a benchmark doc
leaks the benchmark into training).

Plan shape at 10^12 docs: the benchmark side is tiny relative to the
corpus (eval sets are thousands-to-millions of docs, distinct-deduped
here), so its shingles are BROADCAST — the membership test happens
map-side inside the scan stage and the corpus shingle stream never
crosses an exchange at all; the only shuffle is the per-doc count
aggregate, map-side combined down to one row per document. Shingle
construction reuses the pinned ``_mk_shingles`` definition (same as
the dedup oracle SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table_ocr_spark.operators.dedup import _shingle_udf, shingle_sets
from table_ocr_spark.operators.textstats import tokens


def contamination_stats(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.2,
    bench_text_col: str | None = None,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per corpus document: total distinct k-shingles, how many also
    occur anywhere in the benchmark set, the overlap fraction, and the
    ``is_contaminated`` flag (fraction >= threshold; docs with fewer
    than k tokens have zero shingles and are never flagged). The
    benchmark frame only needs its text column (``bench_text_col``,
    default = ``text_col``) — its id plays no role in the overlap.

    ``broadcast_bench`` (default True) pins the join strategy to a
    broadcast-hash join: a left OUTER join cannot be pruned by a
    semi-join or Bloom runtime filter (every corpus row must survive),
    so if the benchmark side ever exceeded the auto-broadcast
    threshold the whole corpus shingle stream would shuffle on the
    shingle key, skewed on stop-shingles. Eval sets are tiny by
    construction; forcing the broadcast keeps the corpus side
    exchange-free regardless of the threshold config. Set False only
    for a benchmark too large for executor memory — and then expect
    the corpus-wide shuffle this docstring warns about."""
    bench_text_col = bench_text_col or text_col
    corpus_sets = shingle_sets(corpus, text_col, id_col, k)
    # explode the kernel's output in the kernel's own select: exploding
    # a column of a previous select lets the optimizer infer a
    # `size(shingles) > 0` filter and push it below that select, which
    # copies the UDF into the filter (every benchmark row shingled twice)
    bench_shingles = (
        benchmark.select(
            F.explode(_shingle_udf(k)(tokens(F.col(bench_text_col)))).alias("sh")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # ONE pass over the corpus shingle stream: explode_outer keeps
    # zero-shingle docs (null sh never matches -> 0 hits), the tagged
    # broadcast left join marks benchmark membership map-side, and a
    # single map-side-combining aggregate produces sizes + hit counts
    # together (a semi-join-then-regroup shape re-ran the shingle UDF
    # for the separate sizes branch).
    if broadcast_bench:
        bench_shingles = F.broadcast(bench_shingles)
    ex = corpus_sets.select(
        "id",
        F.size("shingles").cast("long").alias("n_shingles"),
        F.explode_outer("shingles").alias("sh"),
    )
    per_doc = (
        ex.join(bench_shingles, "sh", "left")
        .groupBy("id", "n_shingles")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"))
    )
    frac = F.col("n_contaminated") / F.greatest(F.col("n_shingles"), F.lit(1))
    # the flag is derived from the ROUNDED fraction so it can never
    # contradict the published contaminated_frac column (a consumer or
    # oracle recomputing `frac >= threshold` from the output must get
    # the same answer at the rounding boundary)
    frac6 = F.round(frac, 6)
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_shingles",
        "n_contaminated",
        frac6.alias("contaminated_frac"),
        ((F.col("n_shingles") > 0) & (frac6 >= threshold)).alias(
            "is_contaminated"
        ),
    )
