"""Corpus data card — the one-call summary a curation run publishes.

Every released web corpus ships a data card (dataset cards on the
hub, the C4/FineWeb/Dolma papers' corpus tables): document/token/byte
totals, the language distribution, a length profile, and a quality
pass rate. This operator assembles that card as a LONG-FORMAT frame
(section, key, n, value) from the already-pinned per-doc statistics —
:func:`textstats.token_stats`, :func:`textstats.gopher_quality`, and
the exact order-statistic machinery :func:`tiers.tier_cutoffs` — so
every number on the card is oracle-reproducible and consistent with
what the pipeline itself filtered on.

100-TB shape: four independent passes over the corpus (totals, lang
counts, length histogram, quality flags), each a map-side-combining
aggregate whose exchange carries group-cardinality rows (languages,
distinct lengths — both bounded, the histogram ENFORCED); no
corpus-sized cache (the ccnet/score_tiers multi-pass doctrine — at
production scale point this at the already-materialized stats table).
The reference has no corpus layer (per-document loop,
``table_ocr/core.py``); this is the reporting stage its extractions
feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from table_ocr_spark.local_frames import local_frame
from .textstats import gopher_quality, token_stats
from .tiers import tier_cutoffs

REPORT_SCHEMA = "section string, key string, n long, value double"


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
    quantiles: int = 4,
    max_distinct_lengths: int = 2_000_000,
) -> DataFrame:
    """Long-format corpus data card: one row per (section, key).

    Sections:

    - ``corpus``: ``docs`` / ``tokens`` / ``chars`` (exact integer
      totals; chars = observed characters, the token_stats pin) and
      ``empty_docs`` (n plus fraction — the zero-token rows every
      other stage backfills rather than drops).
    - ``lang``: per-language doc counts with corpus share (NULL
      language keys coalesce to ``''``, the assign_splits pin).
      Omitted when ``lang_col`` is None.
    - ``tokens_quantile``: ``q1..q{T-1}`` exact order statistics of
      the per-doc token count (the same pinned integer-ceil ranks as
      :func:`tiers.tier_cutoffs` — a card quoting approximate
      percentiles cannot be oracle-checked).
    - ``quality``: ``gopher_pass`` count and rate under the pinned
      Gopher-style rules.

    ``n`` carries counts (NULL for pure-value rows), ``value`` carries
    fractions/cutoffs rounded to 6 dp (NULL for pure-count rows).

    Evaluation is mixed: the ``tokens_quantile`` rows are computed
    EAGERLY, at call time (an emptiness probe plus the
    :func:`tiers.tier_cutoffs` collect), and ride the returned frame as
    a local relation; every other section is lazy and reads ``df``
    when the card is materialized. The quantiles are therefore a
    snapshot of the input as it was at the call: if ``df`` is
    non-deterministic, or its source changes before the card is
    collected, the quantile rows can disagree with the other sections.
    Materialize a stable input (checkpoint or write it) first when
    that matters.
    """
    spark = df.sparkSession
    stats = token_stats(df, text_col=text_col, id_col=id_col)

    totals = stats.agg(
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("toks"),
        F.coalesce(F.sum("n_chars_obs"), F.lit(0)).alias("chars"),
        F.sum(F.when(F.col("n_tokens") == 0, 1).otherwise(0)).alias(
            "empty"
        ),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("docs").alias("key"),
                    F.col("docs").cast("long").alias("n"),
                    F.lit(None).cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("tokens").alias("key"),
                    F.col("toks").cast("long").alias("n"),
                    F.lit(None).cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("chars").alias("key"),
                    F.col("chars").cast("long").alias("n"),
                    F.lit(None).cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("empty_docs").alias("key"),
                    F.col("empty").cast("long").alias("n"),
                    F.round(
                        F.col("empty") / F.greatest(F.col("docs"), F.lit(1)),
                        6,
                    ).alias("value"),
                ),
            )
        ).alias("r")
    ).select(F.lit("corpus").alias("section"), "r.*")

    parts = [totals]
    if lang_col is not None:
        # the empty-frame window is over LANGUAGE-cardinality rows
        # (the groupBy already reduced the corpus), so the single
        # reducer it implies holds |languages| rows, not documents
        langs = (
            df.groupBy(
                F.coalesce(F.col(lang_col).cast("string"), F.lit("")).alias(
                    "key"
                )
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit("lang").alias("section"),
                "key",
                F.col("n").cast("long").alias("n"),
                F.round(
                    F.col("n") / F.sum("n").over(Window.partitionBy()),
                    6,
                ).alias("value"),
            )
        )
        parts.append(langs)

    # an empty corpus HAS a card (docs=0 and no quantile rows — the
    # oracle's shape); tier_cutoffs would raise on empty input, so
    # probe first (take(1) short-circuits harder than limit+count)
    cuts = (
        tier_cutoffs(
            stats, "n_tokens", n_tiers=quantiles,
            max_distinct_scores=max_distinct_lengths,
        )
        if len(stats.take(1)) > 0
        else []
    )
    qrows = [
        ("tokens_quantile", f"q{i + 1}", None, float(c))
        for i, c in enumerate(cuts)
    ]
    parts.append(local_frame(spark, qrows, REPORT_SCHEMA))

    quality = gopher_quality(df, text_col=text_col, id_col=id_col).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("quality_pass"), 1).otherwise(0)).alias("ok"),
    ).select(
        F.lit("quality").alias("section"),
        F.lit("gopher_pass").alias("key"),
        F.col("ok").cast("long").alias("n"),
        F.round(F.col("ok") / F.greatest(F.col("docs"), F.lit(1)), 6).alias(
            "value"
        ),
    )
    parts.append(quality)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
