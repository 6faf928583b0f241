"""HTTP redirect-chain resolution over crawl captures.

A crawl sees every hop of a redirect chain as its own capture row:
``http://foo`` → 301 → ``https://foo`` → 301 → ``https://www.foo``.
Curation needs the CHAIN, not the hops — the canonical destination a
url ultimately lands on decides dedup identity (CC's own index keeps
redirect captures as first-class records and leaves resolution to the
consumer), frontier planning must not re-enqueue interior hops, and a
redirect LOOP (a→b→a, or a chain longer than any sane bound) is a
crawler-trap signal worth surfacing per url. The reference never faces
redirects (it ingests local PDFs, ``table_ocr/core.py:96-133``); the
Common-Crawl-style input of BASELINE.json does.

Two operators:

- :func:`redirect_edges` — captures → the redirect successor mapping
  ``(src, dst)``: keep 3xx captures whose ``Location`` is a fetchable
  absolute-or-relative reference (relative Locations are legal per
  RFC 9110 §10.2.2 and resolved against the capture url with the same
  RFC 3986 expression kernel the frontier uses,
  :func:`~table_ocr_spark.operators.linkgraph.resolve_href`), then
  reduce to ONE edge per src — latest capture wins when a timestamp
  column is given (``max(struct(ts, dst))`` argmax, map-side
  combinable), else max(dst) so the mapping is deterministic.

- :func:`resolve_redirects` — the successor mapping → per-src verdict
  ``(url, final_url, hops, redirect_loop)`` by POINTER DOUBLING, the
  same O(log chain-length) round structure as the near-dup CC closure
  (``dedup.duplicate_clusters``): round k composes the partial map
  with itself, so after ``ceil(log2(max_hops+1))`` rounds every chain
  of length ≤ max_hops has fully collapsed. A hop-by-hop loop would
  take max_hops shuffle rounds; doubling takes 6 for the default 32.

Pinned semantics (the oracle contract, DuckDB recursive CTE):

- ``final_url`` := the first node on the walk from ``url`` with NO
  outgoing edge, iff reached within ``max_hops`` edges; ``hops`` :=
  that walk length. Otherwise (a cycle, or a chain longer than
  max_hops — indistinguishable to a bounded walker and equally
  trap-shaped) ``final_url``/``hops`` are NULL and ``redirect_loop``
  is true.
- Node identity is EXACT string equality of resolved urls. The
  operator does not canonicalize: callers that want case/tracking-
  param-insensitive chain identity canonicalize captures first
  (``urlnorm.canonical_url``), which composes — this operator is
  agnostic to the key.
- Every src of the mapping gets exactly one output row.

Scale shape (100-TB argument): iteration state is the redirect
SUBGRAPH only — (src, cur, hops) id-width triples over the 3xx rows,
never the corpus (the same subgraph-only lesson the CC closure
measured at 4.4× shuffle, BASELINE.md r3). Each round is one
hash-join of the state with itself on ``cur = src`` plus a plan
truncation (:func:`dedup._stage_leaf`) so Catalyst never re-plans
the round stack; the terminal probe is one broadcast-or-hash semi
against the distinct src set. Redirect captures are a few percent of
a real crawl, so the whole resolution runs over a frame orders of
magnitude smaller than the pages table it then annotates.
"""

from __future__ import annotations

import math
from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from table_ocr_spark.operators.dedup import _stage_leaf
from table_ocr_spark.operators.linkgraph import resolve_href

#: RFC 9110 §15.4 statuses that carry a Location the client follows.
#: 300 (Multiple Choices) and 304 (Not Modified) are deliberately
#: excluded — neither names a single successor to walk.
REDIRECT_STATUSES: Tuple[int, ...] = (301, 302, 303, 307, 308)


def redirect_edges(
    captures: DataFrame,
    url_col: str = "url",
    status_col: str = "http_status",
    location_col: str = "redirect_location",
    ts_col: Optional[str] = None,
) -> DataFrame:
    """Redirect successor mapping ``(src, dst)`` from crawl captures.

    Keeps rows whose status is in :data:`REDIRECT_STATUSES` with a
    non-blank Location, resolves the Location against the capture url
    (map-only codegen — :func:`resolve_href` handles absolute,
    root-relative, path-relative and protocol-relative forms and
    NULLs out non-fetchable ones like ``javascript:``), and reduces
    to one edge per src. Self-edges (``dst == src``) are KEPT — a
    page 301-ing to itself is a real loop the resolver must report,
    not a row to silently drop. The one exchange here is the per-src
    argmax groupBy; everything before it is fused into the capture
    scan."""
    url = F.col(url_col)
    loc = F.trim(F.col(location_col))
    # project the trimmed Location to a named column BEFORE handing it
    # to resolve_href: the resolver's CASE references its href ~30
    # times, and substituting the trim expression at every site blows
    # the projection past the JVM 64KB method limit — whole-stage
    # codegen falls back to the interpreter for the whole stage
    kept = captures.filter(
        F.col(status_col).isin(list(REDIRECT_STATUSES))
        & F.col(location_col).isNotNull()
        & (loc != "")
    ).select(
        url.alias("src"),
        loc.alias("_loc"),
        *([F.col(ts_col).alias("_ts")] if ts_col else []),
    )
    edges = kept.select(
        "src",
        resolve_href(F.col("src"), F.col("_loc")).alias("dst"),
        *(["_ts"] if ts_col else []),
    ).filter(F.col("dst").isNotNull())
    if ts_col:
        picked = edges.groupBy("src").agg(
            F.max(F.struct("_ts", "dst")).alias("_m")
        )
        return picked.select("src", F.col("_m.dst").alias("dst"))
    return edges.groupBy("src").agg(F.max("dst").alias("dst"))


def resolve_redirects(
    edges: DataFrame, max_hops: int = 32
) -> DataFrame:
    """Collapse the redirect successor mapping to final destinations.

    ``edges``: one ``(src, dst)`` row per src (the
    :func:`redirect_edges` contract; duplicate srcs would make the
    walk nondeterministic and are the caller's bug). Returns one row
    per src: ``(url, final_url, hops, redirect_loop)`` under the
    module-doc semantics.

    Pointer doubling: state ``(src, cur, hops)`` starts as the edge
    list with hops=1 and each round left-joins itself on
    ``cur = src``, advancing resolved-prefix sums: a src whose cur is
    terminal stops advancing; a src still moving after round k sits
    exactly ``2^k`` hops out. After ``ceil(log2(max_hops+1))`` rounds
    every non-terminal survivor is provably > max_hops deep — a loop
    by definition. Every round's state is a stage leaf (a reliable
    checkpoint when the session has a checkpoint dir — the cluster
    deployment — else a localCheckpoint its count materializes)."""
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    rounds = max(1, math.ceil(math.log2(max_hops + 1)))

    state = edges.select(
        F.col("src"), F.col("dst").alias("cur"), F.lit(1).alias("hops")
    )
    state, _ = _stage_leaf(state)
    for _ in range(rounds):
        nxt = state.select(
            F.col("src").alias("j_src"),
            F.col("cur").alias("j_cur"),
            F.col("hops").alias("j_hops"),
        )
        stepped = (
            state.join(nxt, state["cur"] == nxt["j_src"], "left")
            .select(
                state["src"],
                F.coalesce(nxt["j_cur"], state["cur"]).alias("cur"),
                (
                    state["hops"] + F.coalesce(nxt["j_hops"], F.lit(0))
                ).alias("hops"),
            )
        )
        state, _ = _stage_leaf(stepped)

    # terminal-probe src set from the CHECKPOINTED state (its src
    # column is exactly the edge src set): probing `edges` instead
    # would re-run the whole upstream edge derivation (on the ingest
    # path, a full WARC parse + argmax) one more time
    srcs = state.select(F.col("src").alias("_s")).distinct()
    out = (
        state.join(srcs, state["cur"] == srcs["_s"], "left")
        .select(
            F.col("src").alias("url"),
            F.when(
                F.col("_s").isNull() & (F.col("hops") <= max_hops),
                F.col("cur"),
            ).alias("final_url"),
            F.when(
                F.col("_s").isNull() & (F.col("hops") <= max_hops),
                F.col("hops"),
            ).alias("hops"),
            (
                F.col("_s").isNotNull() | (F.col("hops") > max_hops)
            ).alias("redirect_loop"),
        )
    )
    return out


def annotate_final_urls(
    pages: DataFrame,
    resolved: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Left-join the per-src verdicts onto a pages frame: non-redirect
    urls keep themselves as ``final_url`` with hops 0 and no loop flag
    — so downstream dedup can group on ``final_url`` unconditionally.
    One hash join on the url key; the resolved side is the small 3xx
    subgraph, broadcast-eligible on most crawls.

    Raises if ``pages`` already carries any of the annotation columns
    (e.g. re-annotating an annotated frame) — the join would otherwise
    produce ambiguous references or silently coalesce the stale side;
    drop the old columns first to re-annotate."""
    taken = {"final_url", "hops", "redirect_loop"} & set(pages.columns)
    if taken:
        raise ValueError(
            f"annotate_final_urls: pages already has column(s) "
            f"{sorted(taken)} — drop them before re-annotating"
        )
    r = resolved.select(
        F.col("url").alias("_u"),
        "final_url",
        "hops",
        "redirect_loop",
    )
    joined = pages.join(r, pages[url_col] == r["_u"], "left")
    return (
        joined.withColumn(
            "final_url", F.coalesce("final_url", pages[url_col])
        )
        .withColumn(
            "hops", F.coalesce("hops", F.lit(0))
        )
        .withColumn(
            "redirect_loop", F.coalesce("redirect_loop", F.lit(False))
        )
        .drop("_u")
    )
