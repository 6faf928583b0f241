"""Quality-tier extraction: partition a corpus into global
quality tiers (the FineWeb-Edu / DCLM shape — "keep the top-X% of the
crawl by score, route the middle tiers to annealing mixes") from any
per-document numeric score.

The reference's only quality axis is LLM self-agreement per document
(``ui/majority_vote.py``); a pretraining corpus build needs a GLOBAL
ranking — tier boundaries are order statistics of the whole score
distribution, which is exactly the kind of "needs the full corpus"
computation that must not become a global sort at 100 TB.

Scale shape (the ``pack_sequences`` bounded-collect doctrine):
1. scores are QUANTIZED by construction (``token_stats.quality_score``
   is pinned to 6 dp in [0, ~1]), so ``groupBy(score).count()`` is a
   bounded histogram (<= ~1e6 rows) — one map-side-combined exchange,
   never a global sort;
2. the histogram lands on the driver behind an ENFORCED
   ``max_distinct_scores`` fail-fast (collecting an unquantized
   float column would be a driver OOM, so it is an error, not a
   slow path);
3. cutoffs are computed exactly on the driver from the cumulative
   histogram and re-enter the plan as LITERALS — tier assignment is
   then a pure codegen'd expression, map-only over the corpus.

Pinned tier definition (shared with the DuckDB oracle):
- n = corpus row count; scores sorted ascending (1-indexed ranks)
- cutoff ranks = the DISTINCT values of (n*t + T - 1) // T for
  t = 1..T-1 (integer ceil — pinned as integer arithmetic so Spark,
  Python and DuckDB agree bit-for-bit; no float quantile semantics;
  distinct because colliding targets at n < T must count once, the
  way a SQL ``rk IN (...)`` matches a row once)
- tier(doc) = number of cutoffs with score > c_t  -> 0..T-1, higher
  tier = higher score. Assignment depends only on the score, so equal
  scores always share a tier (no ntile row-order nondeterminism) and
  heavy ties may skip tiers — deterministic on both engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tier_cutoffs(
    df: DataFrame,
    score_col: str,
    n_tiers: int,
    max_distinct_scores: int = 2_000_000,
) -> list:
    """Exact tier boundaries [c_1..c_{T-1}] (ascending ranks) of
    ``score_col`` via the bounded-histogram two-phase plan: the
    :func:`grouped_tier_cutoffs` engine over one constant group. Driver
    memory is O(distinct scores), ENFORCED <= ``max_distinct_scores``.
    NULL and NaN scores are rejected — neither has a rank; filter or
    impute upstream (the documents corpus pins NULL text to score-able
    empty stats, so NULLs here mean a broken upstream)."""
    cutoffs = grouped_tier_cutoffs(
        df.select(F.col(score_col), F.lit("").alias("_one_group")),
        score_col, "_one_group", n_tiers, max_distinct_scores,
    )
    if not cutoffs:
        raise ValueError("tier_cutoffs: empty input")
    return cutoffs[""]


def _rank_targets(n: int, n_tiers: int) -> list:
    """The pinned DISTINCT integer-ceil cutoff ranks (module
    docstring) — shared by both cutoff engines so they agree
    bit-for-bit on which order statistics define the tiers."""
    return sorted({(n * t + n_tiers - 1) // n_tiers for t in range(1, n_tiers)})


def tier_cutoffs_continuous(
    df: DataFrame,
    score_col: str,
    n_tiers: int,
    bucket_count: int = 1 << 16,
    max_collect: int = 500_000,
    max_rounds: int = 12,
) -> list:
    """Exact tier boundaries for CONTINUOUS (unquantized) scores —
    the scale path where :func:`tier_cutoffs` correctly refuses to
    collect a corpus-cardinality histogram. Distributed iterative
    range refinement, the classic exact-quantile shape:

    1. one validity pass (count / min / max; NULL, NaN and ±inf are
       rejected — none has a well-defined rank);
    2. per round, a bucketed histogram over each still-active value
       range: ``floor((s-lo)/width)`` with per-bucket (count, min,
       max). The per-bucket min/max make the recursion EXACT — the
       child range [bmin, bmax] is the actual extremes of that
       bucket's rows, so plain range predicates (which push down to
       the parquet scan) reproduce bucket membership with no
       float-boundary ambiguity;
    3. a target rank whose bucket holds <= ``max_collect`` rows is
       resolved by collecting and sorting just that bucket (bounded
       driver memory, ~4 MB of doubles at the default); bigger
       buckets recurse. All targets sharing a range share one scan.

    Driver memory is O(bucket_count + max_collect) at ANY score
    cardinality; rounds needed = log_bucket_count(n / max_collect)
    (2 rounds covers 10^12 rows at the defaults). Mass points (a
    value repeated past ``max_collect``) collapse the range to
    width 0 in one round and resolve immediately — heavy ties are
    the FAST path, not a pathology. Same pinned rank definition as
    :func:`tier_cutoffs` (distinct integer-ceil targets), so the two
    engines agree wherever both apply."""
    if n_tiers < 2:
        raise ValueError(f"n_tiers must be >= 2, got {n_tiers}")
    if bucket_count < 2:
        # one bucket makes every refinement round return a child range
        # identical to its parent — zero progress, max_rounds wasted
        # corpus scans, then a misleading 'raise max_rounds' error
        raise ValueError(f"bucket_count must be >= 2, got {bucket_count}")
    s = df.select(F.col(score_col).cast("double").alias("s"))
    st = s.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("s").alias("n_vals"),
        F.sum(F.when(F.isnan("s"), 1).otherwise(0)).alias("n_nan"),
        F.sum(
            F.when(F.abs("s") == float("inf"), 1).otherwise(0)
        ).alias("n_inf"),
        F.min("s").alias("lo"),
        F.max("s").alias("hi"),
    ).collect()[0]
    if st["n_rows"] == 0:
        raise ValueError("tier_cutoffs_continuous: empty input")
    if st["n_vals"] < st["n_rows"]:
        raise ValueError(
            f"tier_cutoffs_continuous: NULL values in {score_col!r}; "
            "a NULL has no rank — filter or impute upstream"
        )
    if (st["n_nan"] or 0) > 0 or (st["n_inf"] or 0) > 0:
        raise ValueError(
            f"tier_cutoffs_continuous: NaN/inf values in {score_col!r} "
            "have no well-defined rank — fail instead of silently "
            "mis-sorting"
        )
    n = st["n_rows"]
    # state per unresolved target: rank -> (lo, hi, k, cnt) with k the
    # 1-indexed rank among the cnt rows in the CLOSED range [lo, hi];
    # cnt is carried (seeded n, then the parent bucket's count) so no
    # round ever spends a scan just to count a range
    state = {
        r: (st["lo"], st["hi"], r, n) for r in _rank_targets(n, n_tiers)
    }
    resolved: dict = {}
    for _ in range(max_rounds):
        if not state:
            break
        # group targets by identical range — one scan per range
        by_range: dict = {}
        for rank, (lo, hi, k, cnt) in state.items():
            by_range.setdefault((lo, hi, cnt), []).append((rank, k))
        state = {}
        for (lo, hi, cnt), targets in by_range.items():
            if lo == hi:
                # mass point: every row in the range equals lo
                for rank, _k in targets:
                    resolved[rank] = lo
                continue
            in_range = s.filter((F.col("s") >= lo) & (F.col("s") <= hi))
            if cnt <= max_collect:
                vals = sorted(r["s"] for r in in_range.collect())
                for rank, k in targets:
                    resolved[rank] = vals[k - 1]
                continue
            # hi/B - lo/B, NOT (hi-lo)/B: the subtraction can overflow
            # to inf for finite scores spanning > ~1.8e308
            width = hi / bucket_count - lo / bucket_count
            if width <= 0.0:
                # range narrower than float resolution at this scale
                # but NOT a mass point (lo != hi): at most ~bucket_count
                # representable doubles fit between lo and hi, so a
                # distinct-value histogram is bounded and exact
                hist = sorted(
                    in_range.groupBy("s")
                    .agg(F.count(F.lit(1)).alias("c"))
                    .limit(2 * bucket_count + 1)
                    .collect(),
                    key=lambda r: r["s"],
                )
                if len(hist) > 2 * bucket_count:
                    raise RuntimeError(
                        "tier_cutoffs_continuous: zero-width range "
                        f"[{lo}, {hi}] holds more than {2 * bucket_count} "
                        "distinct values — numerically impossible for "
                        "IEEE doubles; corrupt input"
                    )
                for rank, k in targets:
                    cum = 0
                    for row in hist:
                        cum += row["c"]
                        if cum >= k:
                            resolved[rank] = row["s"]
                            break
                continue
            b = F.least(
                F.floor((F.col("s") - F.lit(lo)) / F.lit(width)),
                F.lit(bucket_count - 1),
            )
            hist = sorted(
                in_range.groupBy(b.alias("b"))
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    F.min("s").alias("bmin"),
                    F.max("s").alias("bmax"),
                )
                .collect(),
                key=lambda r: r["b"],
            )
            for rank, k in targets:
                cum = 0
                for row in hist:
                    if cum + row["c"] >= k:
                        state[rank] = (
                            row["bmin"], row["bmax"], k - cum, row["c"]
                        )
                        break
                    cum += row["c"]
    if state:
        raise RuntimeError(
            f"tier_cutoffs_continuous: {len(state)} targets unresolved "
            f"after {max_rounds} rounds — raise max_rounds or "
            "max_collect (needs log_bucket_count(n/max_collect) rounds; "
            "12 covers any physical corpus)"
        )
    return [resolved[r] for r in _rank_targets(n, n_tiers)]


def score_tiers(
    df: DataFrame,
    score_col: str,
    n_tiers: int = 4,
    max_distinct_scores: int = 2_000_000,
    continuous: bool = False,
    bucket_count: int = 1 << 16,
    max_collect: int = 500_000,
    max_rounds: int = 12,
) -> DataFrame:
    """``df`` plus a ``tier`` column — global quality-tier label per
    doc, tier = |{t : score > c_t}| with exact order-statistic cutoffs
    (see module docstring for the pinned definition and the two-phase
    bounded-histogram plan). Appends rather than projects so a
    downstream consumer (token-budget sampling, tiered sinks) composes
    without a join back for its other columns. The assignment pass is
    map-only codegen: the cutoffs are literals, so the corpus is
    scanned exactly twice (histogram + label) and nothing corpus-sized
    ever shuffles on a non-key. ``continuous=True`` selects the
    range-refinement cutoff engine (:func:`tier_cutoffs_continuous`)
    for unquantized scores, tuned by ``bucket_count`` /
    ``max_collect`` / ``max_rounds``; ``max_distinct_scores`` applies
    only to the histogram engine (the continuous engine has no
    distinct-cardinality limit — that is its point)."""
    if continuous:
        cutoffs = tier_cutoffs_continuous(
            df, score_col, n_tiers, bucket_count, max_collect, max_rounds
        )
    else:
        cutoffs = tier_cutoffs(df, score_col, n_tiers, max_distinct_scores)
    score = F.col(score_col)
    tier = None
    for c in cutoffs:
        term = F.when(score > F.lit(c), 1).otherwise(0)
        tier = term if tier is None else tier + term
    return df.withColumn("tier", tier.cast("long"))


def grouped_tier_cutoffs(
    df: DataFrame,
    score_col: str,
    group_col: str,
    n_tiers: int,
    max_distinct_scores: int = 2_000_000,
    max_groups: int = 1_000,
) -> dict:
    """Exact per-GROUP tier boundaries — the CCNet shape (per-language
    perplexity terciles; Wenzek et al. 2020 compute one threshold set
    per language) — in ONE distributed pass: a ``groupBy(group,
    score)`` histogram with map-side combine, a bounded driver
    collect, then a per-group forward sweep over sorted (score, count)
    rows. The shuffle carries |distinct (group, score)| rows, never
    corpus rows, and the collect is ENFORCED <= ``max_distinct_scores``
    TOTAL across groups (a +1 sentinel limit detects overflow without
    collecting it) — quantize the score (round) before calling.
    Unbounded continuous scores should go through
    :func:`tier_cutoffs_continuous` per group instead (k bounded
    range-refinement jobs); this engine fails fast rather than
    guessing.

    Returns ``{group_value: [c_1..c_{T-1}]}`` with the same pinned
    DISTINCT integer-ceil rank targets as the global engines
    (:func:`_rank_targets`), so a group with fewer rows than tiers
    yields fewer cutoffs, matching a rank-dedup'd SQL oracle. NULL
    group keys are coalesced to ``''`` (the assign_splits pin); NULL
    or NaN scores are rejected — neither has a rank.

    100-TB shape: one exchange of quantized-histogram width, driver
    memory O(distinct (group, score) pairs) enforced, cutoffs re-enter
    the plan as literals so labeling stays map-only."""
    if n_tiers < 2:
        raise ValueError(f"n_tiers must be >= 2, got {n_tiers}")
    hist = (
        df.select(
            F.coalesce(F.col(group_col).cast("string"), F.lit("")).alias(
                "g"
            ),
            F.col(score_col).alias("s"),
        )
        .groupBy("g", "s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = hist.limit(max_distinct_scores + 1).collect()
    if len(rows) > max_distinct_scores:
        raise ValueError(
            f"grouped_tier_cutoffs: more than {max_distinct_scores} "
            f"distinct (group, score) pairs — quantize {score_col!r} "
            "(round) before tiering, or run tier_cutoffs_continuous "
            "per group"
        )
    by_group: dict = {}
    for r in rows:
        if r["s"] is None:
            raise ValueError(
                f"grouped_tier_cutoffs: NULL values in {score_col!r}; "
                "a NULL has no rank — filter or impute upstream"
            )
        if isinstance(r["s"], float) and math.isnan(r["s"]):
            raise ValueError(
                f"grouped_tier_cutoffs: NaN values in {score_col!r} "
                "have no well-defined rank — fail instead of "
                "silently mis-sorting"
            )
        by_group.setdefault(r["g"], []).append((r["s"], r["c"]))
    if len(by_group) > max_groups:
        raise ValueError(
            f"grouped_tier_cutoffs: {len(by_group)} groups exceeds "
            f"max_groups={max_groups} — the labeling CASE chain is "
            "per-group literal work; raise the cap deliberately if "
            "the group column really has this cardinality"
        )
    out: dict = {}
    for g, pairs in by_group.items():
        pairs.sort(key=lambda p: p[0])
        n = sum(c for _, c in pairs)
        cutoffs = []
        it = iter(pairs)
        s, cum = next(it)
        for rank in _rank_targets(n, n_tiers):
            while cum < rank:
                s, c = next(it)
                cum += c
            cutoffs.append(s)
        out[g] = cutoffs
    return out
