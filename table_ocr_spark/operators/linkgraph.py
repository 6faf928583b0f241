"""Host link-graph operators: harvest anchor hrefs from crawled HTML,
aggregate the page-level link stream into a host→host edge list, and
derive per-host authority signals (distinct-referrer in-degree, link
volume, out-degree) — the curation axis used to rank crawl hosts
(seed lists, spam-farm downweighting) that text-quality filters cannot
see. CCNet/C4-style pipelines consume exactly this as a host prior.

Reference parity: the reference has no crawl layer (its inputs are
user-uploaded PDFs, ``table_ocr/core.py``); this is the web-graph
stage upstream of extraction at pretraining scale.

Pinned semantics (mirrored by the SQL oracle):
- anchor href  := the double-quoted ``href="..."`` value inside each
                  ``<a …>`` tag's attribute blob (SCOPED: a ``<link
                  rel="canonical" href=…>`` head element is not an
                  anchor) — dialect-portable regexes below, identical
                  in Java regex, RE2, and Python re. A production
                  crawler swaps in the DOM walk from
                  :mod:`kernel.html_extract`; the regex form is the
                  deterministic cross-engine contract surface.
- nofollow     := the anchor's ``rel="…"`` value contains the
                  ``nofollow`` token; edges survive by default (the
                  auditable column travels), drop them with
                  ``respect_nofollow=True`` on the graph builder.
- absolute only:= links kept iff they start ``http://`` or
                  ``https://`` (case-insensitive). Relative links
                  need base-URL resolution (RFC 3986 §5) which is a
                  per-crawler policy; they are counted but not
                  resolved.
- host identity:= :func:`urlnorm.host_canonical` on BOTH endpoints
                  (or :func:`urlnorm.registrable_domain` at
                  ``level='site'``); self-links (src == dst) are kept
                  in the edge list — dropping them is one filter, and
                  authority aggregation excludes them explicitly.

Scale shape (100 TB argument): link extraction is map-only regex +
explode (no Python); the edge aggregate is ONE exchange keyed on
(src, dst) with map-side combine, so shuffle width is the distinct
host-pair cardinality, never the raw link stream; authority is two
host-keyed aggregates over the already-narrow edge list, joined
full-outer on host. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .urlnorm import host_canonical, registrable_domain

# attribute blob of every <a> tag (scoped: <link rel="canonical"
# href=…> and friends must NOT count as anchors); the [^>]* body
# cannot backtrack across the tag close in any of the three dialects.
# The tag name may be followed by any ASCII whitespace (pretty-printed
# '<a\n  href=…>' is common crawl HTML), and attribute matching is
# case-insensitive throughout ('<A HREF=…>' legacy pages)
ANCHOR_TAG_RE = "(?i)<a[ \\t\\r\\n]([^>]*)>"
# double-quoted href value inside an attribute blob
ANCHOR_HREF_RE = '(?i)href="([^"]*)"'
# rel attribute containing the nofollow token (value-scoped; the
# attribute NAME must start the blob or follow whitespace so that
# data-rel/xml:rel attributes don't false-positive)
NOFOLLOW_RE = '(?i)(^|[ \\t\\r\\n])rel="[^"]*nofollow'
_ABS_RE = "(?i)^https?://"

# first <base href="..."> in the document (HTML spec: only the FIRST
# base element is honored); value-scoped like ANCHOR_HREF_RE
BASE_HREF_RE = '(?i)<base[ \\t\\r\\n][^>]*href="([^"]*)"'

# CLOSED anchors with their visible text: href value (group 1), any
# further attributes up to the tag close, then text with no nested
# markup (group 2). Identical match set in Java regex, RE2, Python re;
# case-insensitive and whitespace-tolerant like ANCHOR_TAG_RE so the
# anchor-text operators agree with extract_links on the same page.
ANCHOR_TEXT_RE = '(?i)<a[ \\t\\r\\n]+href="([^"]*)"[^>]*>([^<]*)</a>'
# anchor-text normalization, pinned to the ASCII whitespace set (a
# unicode-aware \s would fork the engines on NBSP crawl text)
_TRIM_RE = "^[ \\t\\r\\n]+|[ \\t\\r\\n]+$"


# any scheme-qualified absolute reference (http, https, ftp, ...)
_SCHEME_ABS_RE = "^[A-Za-z][A-Za-z0-9+.-]*://"
# any scheme-prefixed reference at all (mailto:, javascript:, data:)
_SCHEME_ANY_RE = "^[A-Za-z][A-Za-z0-9+.-]*:"
_ORIGIN_RE = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"


def _remove_dot_segments(p, depth: int):
    """RFC 3986 §5.2.4 as a bounded unrolled fixed point: ``depth``
    passes of the three collapse rules. Each regexp_replace pass
    resolves one nesting level (Java regex replaces non-overlapping
    matches left-to-right, so ``/a/../b/../`` needs two passes);
    paths with more than ``depth`` stacked dot-segments resolve
    partially — a pinned bound, not an error. Segments STARTING with
    a dot (``/.hidden/../``) are never collapsed-over (the no-
    lookahead portability pin); the leftover URL is unusual but
    harmless downstream."""
    for _ in range(depth):
        p = F.regexp_replace(p, r"/\./", "/")
        p = F.regexp_replace(p, r"/[^/.][^/]*/\.\./", "/")
        p = F.regexp_replace(p, r"/[^/.][^/]*/\.\.$", "/")
        p = F.regexp_replace(p, r"^/\.\./", "/")
    p = F.regexp_replace(p, r"/\.$", "/")
    return F.regexp_replace(p, r"^/\.\.$", "/")


def resolve_href(base, href, max_depth: int = 8):
    """Resolve an anchor ``href`` against its page's ``base`` url —
    RFC 3986 §5.2 reference resolution as map-only codegen
    expressions (no Python), differential-tested against
    ``urllib.parse.urljoin`` in tests/test_urlnorm.py
    (TestResolveHref).

    Pinned FRONTIER semantics where they diverge from urljoin (each
    deliberate — this resolves links to FETCH, not to display):

    - empty href, fragment-only href (``#top``) → NULL (they point at
      the base document itself; refetching it is never the intent);
    - non-hierarchical schemes (``mailto:``, ``javascript:``,
      ``data:``) → NULL (not fetchable web resources);
    - fragments are stripped from every resolution;
    - unparseable base (no ``scheme://authority``) → NULL;
    - dot segments collapse on root-relative / path-relative
      resolutions exactly like urljoin (absolute and
      network-relative ``//host/..`` references pass through
      untouched, also like urljoin), bounded at ``max_depth``
      nesting levels.
    """
    h = F.regexp_replace(href, _TRIM_RE, "")
    # urljoin lowercases the SCHEME (and only the scheme) in every
    # relative resolution — matched here so the differential holds on
    # uppercase-scheme bases too
    scheme = F.lower(
        F.regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    authority = F.regexp_extract(
        base, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
    )
    origin = F.concat(scheme, F.lit("://"), authority)
    # base path; the merge branch pins '' to '/' (a bare origin
    # resolves like '/'), while the query-only branch keeps the raw
    # form (urljoin parity: 'http://h' + '?q' has no slash)
    bpath_raw = F.regexp_extract(
        base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    bpath = F.when(bpath_raw == "", F.lit("/")).otherwise(bpath_raw)

    def _strip_frag(c):
        return F.regexp_replace(c, "#.*$", "")

    def _dots(c):
        # split path from query, collapse dots in the path only
        pathq = F.regexp_replace(c, _ORIGIN_RE, "")
        path = F.regexp_extract(pathq, "^([^?]*)", 1)
        query = F.regexp_extract(pathq, r"(\?.*)$", 1)
        return F.concat(origin, _remove_dot_segments(path, max_depth), query)

    merged = F.concat(
        origin, F.regexp_replace(bpath, "[^/]*$", ""), h
    )
    return (
        F.when((scheme == "") | h.isNull(), F.lit(None))
        .when((h == "") | h.startswith("#"), F.lit(None))
        .when(h.rlike(_SCHEME_ABS_RE), _strip_frag(h))
        .when(h.rlike(_SCHEME_ANY_RE), F.lit(None))
        .when(
            h.startswith("//"),
            _strip_frag(F.concat(scheme, F.lit(":"), h)),
        )
        .when(h.startswith("/"), _dots(_strip_frag(F.concat(origin, h))))
        .when(h.startswith("?"), F.concat(origin, bpath_raw, _strip_frag(h)))
        .otherwise(_dots(_strip_frag(merged)))
    )


def effective_base(url, html):
    """The base url relative hrefs resolve against: the document's
    first ``<base href>`` — itself resolved against the page url,
    since the spec allows a relative base — else the page url.
    ``resolve_href``'s NULL pins (empty/fragment/non-hierarchical
    base href) fall back to the page url rather than poisoning every
    link on the page."""
    base_href = F.regexp_extract(
        html.cast("string"), BASE_HREF_RE, 1
    )
    return F.coalesce(resolve_href(url, base_href), url)


def _host_key(level: str):
    if level not in ("host", "site"):
        raise ValueError(f"level must be 'host' or 'site', got {level!r}")

    def _key(col):
        h = host_canonical(col)
        if level == "site":
            h = registrable_domain(h, host_input=True)
        return h

    return _key


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    absolute_only: bool = True,
    with_base: bool = False,
) -> DataFrame:
    """Page → one row per ABSOLUTE anchor href: (url_col, href,
    nofollow, n_links_total) where ``n_links_total`` is the page's
    raw ``<a href=…>`` count including relative links (the
    auditability column — a page with 400 anchors and 0 absolute ones
    is a template, not a dead end) and ``nofollow`` marks anchors
    whose ``rel`` value carries the nofollow token (rel="nofollow",
    rel="ugc nofollow", …) — the hygiene signal PageRank-family
    consumers honor. Matching is SCOPED to ``<a …>`` attribute blobs:
    a ``<link rel="canonical" href=…>`` head element is not an anchor
    and must not mint an edge. Binary HTML columns are decoded as
    UTF-8 via the string cast, the same pin as the extraction
    kernel's page reader. Map-only: regex scan + explode, no Python,
    no exchange."""
    tags = F.expr(
        f"regexp_extract_all(CAST({html_col} AS STRING), "
        f"'{ANCHOR_TAG_RE}', 1)"
    )
    # attr blob -> (href, nofollow); blobs without an href drop.
    # with_base adds base_url — the document <base href> resolved
    # against the page url (falling back to the page url), computed
    # in this same pass because the html column does not travel
    base_cols = (
        [effective_base(F.col(url_col), F.col(html_col)).alias("base_url")]
        if with_base
        else []
    )
    base = df.select(
        F.col(url_col),
        *base_cols,
        F.filter(
            tags, lambda a: F.regexp_extract(a, ANCHOR_HREF_RE, 1) != ""
        ).alias("_tags"),
    ).select(
        url_col,
        *(["base_url"] if with_base else []),
        F.size("_tags").cast("long").alias("n_links_total"),
        F.explode("_tags").alias("_a"),
    )
    out = base.select(
        url_col,
        *(["base_url"] if with_base else []),
        F.regexp_extract("_a", ANCHOR_HREF_RE, 1).alias("href"),
        F.col("_a").rlike(NOFOLLOW_RE).alias("nofollow"),
        "n_links_total",
    )
    # absolute_only=False emits EVERY href verbatim (relative ones
    # included) for callers that resolve them (resolve_href); the
    # default keeps the historical absolute-edge contract the graph
    # builders and their oracle pin
    if absolute_only:
        out = out.filter(F.col("href").rlike(_ABS_RE))
    return out


def host_link_graph(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    level: str = "host",
    respect_nofollow: bool = False,
) -> DataFrame:
    """Aggregate pages into the host→host edge list: (src_host,
    dst_host, n_links) with ``n_links`` the raw absolute-anchor count
    between the pair. ``level='host'`` keys on
    :func:`urlnorm.host_canonical`; ``level='site'`` on
    :func:`urlnorm.registrable_domain` (eTLD+1 — subdomain farms
    collapse onto their site, the leakage-safe grouping). Endpoints
    that canonicalize to ''/NULL (schemeless src, unparseable href,
    IP at site level) are dropped — a host aggregate keyed on '' would
    silently merge every broken URL into one mega-node."""
    _key = _host_key(level)
    links = extract_links(df, html_col=html_col, url_col=url_col)
    if respect_nofollow:
        links = links.filter(~F.col("nofollow"))
    edges = links.select(
        _key(F.col(url_col)).alias("src_host"),
        _key(F.col("href")).alias("dst_host"),
    ).filter(
        (F.col("src_host").isNotNull())
        & (F.col("src_host") != "")
        & (F.col("dst_host").isNotNull())
        & (F.col("dst_host") != "")
    )
    return edges.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links")
    )


def host_authority(graph: DataFrame) -> DataFrame:
    """Per-host authority signals from a :func:`host_link_graph` edge
    list: (host, in_hosts, in_links, out_hosts, out_links) where
    ``in_hosts`` counts DISTINCT referring hosts (the spam-resistant
    signal — one link farm is one referrer no matter how many links)
    and ``in_links`` the raw volume; symmetric for out. Self-links
    are excluded from BOTH directions (a host cannot vouch for
    itself). Missing directions fill 0 — a pure sink still has a row.
    Two aggregates over the already-pair-narrow edge list + one
    full-outer host join; at crawl scale both inputs are host-pair
    cardinality, orders below the page stream."""
    ext = graph.filter(F.col("src_host") != F.col("dst_host"))
    inb = ext.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("in_hosts"),
        F.sum("n_links").cast("long").alias("in_links"),
    )
    outb = ext.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("out_hosts"),
        F.sum("n_links").cast("long").alias("out_links"),
    )
    return (
        inb.join(outb, "host", "full_outer")
        .select(
            "host",
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("in_hosts", "in_links", "out_hosts", "out_links")
            ],
        )
    )


def host_pagerank(
    graph: DataFrame,
    damping: float = 0.85,
    max_iters: int = 20,
    tol: float = 1e-6,
    weighted: bool = False,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Damped PageRank over a :func:`host_link_graph` edge list →
    ``(host, rank)`` with ``sum(rank) == 1``. The global counterpart
    of :func:`host_authority`'s local in-degree: a host linked by few
    but highly-ranked hosts outranks one linked by a thousand nobodies
    — the classic spam-farm discount in-degree cannot express. Feeds
    :func:`pipelines.next_frontier` ``prioritize='authority'``
    directly (any ``(host, weight)`` frame).

    Semantics (Page et al. 1999, the random-surfer chain):

    - self-edges are excluded, matching :func:`host_authority` — a
      host cannot vouch for itself (but a host appearing ONLY in
      self-edges still gets a row: it holds teleport mass).
    - out-edge weights: uniform ``1/out_degree`` over DISTINCT
      out-neighbors by default (each endorsement counts once — the
      spam-resistant choice); ``weighted=True`` splits proportionally
      to ``n_links``.
    - dangling hosts (no external out-edge) spread their mass
      uniformly over all hosts each round, so total rank stays 1
      (column-stochastic completion, not mass leakage).
    - stop when the L1 delta ``sum |r_t - r_{t-1}|`` drops to
      ``tol``, else after ``max_iters`` (damping bounds the mixing
      time: delta contracts by ``damping`` per round, so 20 rounds
      reach ~1e-2 · 0.85^20 ≈ 4e-4 from any start).
    - ``teleport`` — optional ``(host, weight)`` frame making this
      PERSONALIZED PageRank (the focused-crawl variant: concentrate
      teleport mass on seed hosts and ranks measure proximity to the
      seed set). Weights are normalized over the graph's hosts
      (absent hosts get 0; duplicate hosts take their max); both the
      restart term and the dangling redistribution follow the
      teleport vector, and iteration starts at it. Negative or
      all-vanishing weights fail fast. Default: uniform ``1/n``
      (classic global PageRank).

    Scale shape (100-TB argument): iteration state is ONE
    node-cardinality ``(host, rank)`` frame — hosts are ~10^8 when
    pages are 10^12, orders below the page stream; the normalized
    edge frame is built once and persisted across rounds. Each round
    is one edge-keyed join + host-keyed aggregate (the irreducible
    PageRank shuffle) plus ONE single-row probe that materializes the
    checkpoint, measures the L1 delta, and harvests the next round's
    dangling mass in the same pass (round 0's mass is closed-form
    under the uniform start) — the same bounded-driver discipline as
    ``duplicate_clusters``'s label-sum probe. Every round's frame is
    checkpointed (``_truncate_plan``; round 0 is a ``_stage_leaf``),
    so plans stay flat. Ranks are float sums, so exact
    bits can vary with aggregation order across runs — rankings are
    stable to ~1e-12; tests pin closed forms with tolerances, not
    hashes.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    from .dedup import _stage_leaf, _truncate_plan

    ext = graph.filter(F.col("src_host") != F.col("dst_host"))
    nodes = (
        graph.select(F.col("src_host").alias("host"))
        .union(graph.select(F.col("dst_host").alias("host")))
        .dropDuplicates(["host"])
        .persist()
    )
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))

    edges = nodes_t = dangling = None
    try:
        out_tot = ext.groupBy("src_host").agg(
            F.sum("n_links").alias("_tot"),
            F.count(F.lit(1)).alias("_deg"),
        )
        share = (
            (F.col("n_links") / F.col("_tot"))
            if weighted
            else (F.lit(1.0) / F.col("_deg"))
        )
        edges = (
            ext.join(out_tot, "src_host")
            .select("src_host", "dst_host", share.alias("weight"))
            .persist()
        )
        # teleport vector as a per-node column: uniform 1/n (classic)
        # or the caller's normalized seed weights (personalized)
        if teleport is None:
            nodes_t = nodes.withColumn("_t", F.lit(1.0 / n)).persist()
        else:
            tp_raw = teleport.select(
                F.col(teleport.columns[0]).alias("host"),
                F.col(teleport.columns[1]).cast("double").alias("_w"),
            )
            # sign check on the RAW frame: a negative weight on an
            # off-graph host (dropped by the join) or shadowed by a
            # duplicate row's max is still the caller's sign error
            raw_min = tp_raw.agg(F.min("_w")).first()[0]
            if raw_min is not None and float(raw_min) < 0.0:
                raise ValueError(
                    "teleport weights must be non-negative"
                )
            tp = tp_raw.groupBy("host").agg(F.max("_w").alias("_w"))
            raw = nodes.join(tp, "host", "left").withColumn(
                "_w", F.coalesce(F.col("_w"), F.lit(0.0))
            )
            tot_w = float(raw.agg(F.sum("_w")).first()[0] or 0.0)
            if tot_w <= 0.0:
                raise ValueError(
                    "teleport weights vanish on the graph's hosts"
                )
            nodes_t = raw.select(
                "host", (F.col("_w") / F.lit(tot_w)).alias("_t")
            ).persist()

        # hosts with no external out-edge, fixed across rounds
        dangling = nodes.join(
            edges.select("src_host").dropDuplicates(["src_host"]),
            nodes.host == F.col("src_host"),
            "left_anti",
        ).persist()

        d = float(damping)
        ranks, _ = _stage_leaf(
            nodes_t.select("host", F.col("_t").alias("rank"))
        )
        # round 0's dangling mass is one bootstrap aggregate
        # (closed-form count/n in the uniform case); each later
        # round's is folded into the previous round's delta probe, so
        # the loop runs ONE driver action (and one pass over the rank
        # frame) per round instead of two
        dang_flag = dangling.withColumn("_d", F.lit(1))
        if teleport is None:
            dmass = dangling.count() * (1.0 / n)
        else:
            dmass = float(
                ranks.join(dangling, "host", "left_semi")
                .agg(F.sum("rank"))
                .first()[0]
                or 0.0
            )
        for _ in range(max_iters):
            contrib = (
                edges.join(ranks, edges.src_host == ranks.host)
                .groupBy(F.col("dst_host").alias("host"))
                .agg(F.sum(F.col("rank") * F.col("weight")).alias("_c"))
            )
            # restart + dangling redistribution both follow the
            # teleport vector: r' = (1-d)·t + d·(rP + dmass·t)
            nxt = nodes_t.join(contrib, "host", "left").select(
                "host",
                (
                    F.lit(1.0 - d + d * dmass) * F.col("_t")
                    + F.lit(d) * F.coalesce("_c", F.lit(0.0))
                ).alias("rank"),
            )
            nxt = _truncate_plan(nxt)
            # one probe action per round: materializes a local
            # checkpoint, measures the L1 delta, and harvests the NEXT
            # round's dangling mass in the same pass
            delta_row = (
                nxt.join(
                    ranks.select("host", F.col("rank").alias("_prev")),
                    "host",
                )
                .join(dang_flag, "host", "left")
                .agg(
                    F.sum(F.abs(F.col("rank") - F.col("_prev"))),
                    F.sum(
                        F.when(F.col("_d") == 1, F.col("rank")).otherwise(
                            F.lit(0.0)
                        )
                    ),
                )
                .first()
            )
            delta = delta_row[0]
            dmass = float(delta_row[1] or 0.0)
            ranks = nxt
            if delta is not None and float(delta) <= tol:
                break
        return ranks
    finally:
        # the None guards cover a teleport-validation raise before a
        # frame exists
        for f in (edges, nodes_t, dangling):
            if f is not None:
                f.unpersist()
        nodes.unpersist()


def extract_anchor_texts(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Page → one row per CLOSED absolute anchor: (url_col, href,
    anchor_text) with the text lowercased and trimmed to the pinned
    ASCII whitespace set; empty-after-trim texts are dropped (an
    image-only anchor carries no text signal). Two
    ``regexp_extract_all`` passes over the SAME pattern (groups 1 and
    2) produce positionally aligned arrays by construction — one match
    set, two projections — so ``arrays_zip`` never mispairs. Map-only,
    no Python, no exchange."""
    hrefs = F.expr(
        f"regexp_extract_all(CAST({html_col} AS STRING), "
        f"'{ANCHOR_TEXT_RE}', 1)"
    )
    texts = F.expr(
        f"regexp_extract_all(CAST({html_col} AS STRING), "
        f"'{ANCHOR_TEXT_RE}', 2)"
    )
    z = df.select(
        F.col(url_col),
        F.explode(
            F.arrays_zip(hrefs.alias("href"), texts.alias("text"))
        ).alias("a"),
    )
    out = z.select(
        url_col,
        F.col("a.href").alias("href"),
        F.lower(
            F.regexp_replace(F.col("a.text"), _TRIM_RE, "")
        ).alias("anchor_text"),
    )
    return out.filter(
        F.col("href").rlike(_ABS_RE) & (F.col("anchor_text") != "")
    )


def anchor_text_signals(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    level: str = "host",
) -> DataFrame:
    """How the rest of the web DESCRIBES each host — the classic
    anchor-text quality/topic signal (search-engine lineage; for LLM
    corpora it separates organically-referenced hosts from link-farm
    targets whose inbound texts are all identical spam strings):

      (host, n_anchors, n_anchor_texts, top_anchor_text)

    counting only EXTERNAL closed anchors (src host != dst host, same
    exclusion as :func:`host_authority` — self-description is not
    evidence). ``top_anchor_text`` is the modal text, ties broken
    lexicographically — computed as ``min(struct(-count, text))``
    (agg-argmax with map-side combine), NEVER a per-host window sort,
    so a host with millions of distinct inbound texts costs one
    combine-friendly aggregate, not a single-reducer sort. Shuffle
    width is distinct (host, text) pairs, then distinct hosts — both
    orders below the raw anchor stream at crawl scale."""
    _key = _host_key(level)
    a = extract_anchor_texts(df, html_col=html_col, url_col=url_col)
    keyed = a.select(
        _key(F.col(url_col)).alias("src_host"),
        _key(F.col("href")).alias("host"),
        "anchor_text",
    ).filter(
        (F.col("src_host").isNotNull())
        & (F.col("src_host") != "")
        & (F.col("host").isNotNull())
        & (F.col("host") != "")
        & (F.col("src_host") != F.col("host"))
    )
    pairs = keyed.groupBy("host", "anchor_text").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return pairs.groupBy("host").agg(
        F.sum("n").cast("long").alias("n_anchors"),
        F.count(F.lit(1)).cast("long").alias("n_anchor_texts"),
        F.min(
            F.struct(
                (-F.col("n")).alias("neg_n"),
                F.col("anchor_text").alias("t"),
            )
        ).alias("_top"),
    ).select(
        "host",
        "n_anchors",
        "n_anchor_texts",
        F.col("_top.t").alias("top_anchor_text"),
    )
