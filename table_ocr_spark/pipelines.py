"""End-to-end training-corpus pipeline: the composition the individual
operators exist for. One call takes a raw Common-Crawl-style pages
table to a deduplicated, quality-filtered, PII-scrubbed text corpus
with per-stage audit counts.

Stage order. Each stage is a DataFrame → DataFrame transform, and each
stage LEAF is checkpointed (``dedup._stage_leaf``) by ONE global
aggregate that also fills every report count of that leaf, so no
count re-runs a stage and no stage's plan carries its upstream
stages. Stages that share a leaf are bracketed together:

[leaf 1: extraction — n_input, n_extracted, n_quality_pass]
1. latest-capture dedup (re-crawled urls: newest wins — W3); the same
   url window counts each url's captures, whose sum is n_input
2. kernel extraction (map-only mapInArrow; html crosses one exchange,
   the latest-capture window's — see ``extract_documents``)
3. empty extractions stay in the leaf (they count toward n_input, not
   n_extracted) and drop out with the quality flag
4. Gopher-style quality flag, computed in place (the
   ``gopher_quality`` rule terms); the passing rows are a filter
[leaf 2: exact dedup — n_after_exact_dedup]
5. exact dedup on normalized text (canonical = min url): one window
   over the content key
[leaf 3: near dedup + PII — n_after_near_dedup, n_had_pii]
6. MinHash+LSH near-dup removal at the given Jaccard threshold
   (exact-verified pairs → connected-component closure → longest-text
   survivor per cluster, ties to min url; keyed by a per-row id, since
   input without warc_ts can repeat a url; the CC convergence jobs run
   eagerly at this stage)
7. PII redaction (emails/phones → typed placeholders) of the survivors
[leaf: the clean rows; n_contaminated = the rows it drops]
8. (optional) benchmark decontamination — drop docs whose k-shingle
   overlap with a benchmark set crosses the threshold
[leaf: n_after_sample]
9. (optional) deterministic down-sampling — md5-threshold membership,
   reproducible from the recipe alone
10. (optional) sequence packing — per-doc global start_offset + seq_id
    via the two-phase distributed prefix sum (needs a numeric doc key)
[leaf: the corpus rows with their token stats, no count]
11. (optional) global quality tiers — exact order-statistic cutoffs
    over the pinned 6-dp quality score (bounded histogram, two
    map-only passes), tier column appended in place
[leaf: n_after_budget]
12. (optional) token-budget down-sampling per tier — the exact-integer
    membership rule (u64(md5(url))·T_s < B_s·2^64), expected kept
    tokens = the budget
13. (``materialize_tiered_corpus``) the tier=K/ layout and every
    tier's packed shards in one grouped plan, whatever the tier count

At 10^12 docs every stage is either map-only or a hash-partitioned
equi-join/aggregation; nothing is quadratic and nothing collects to
the driver except the (tiny) stage-count report.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table_ocr_spark.operators.dedup import (
    _exact_dedup_survivors,
    _stage_leaf,
    cluster_survivors,
    duplicate_clusters,
    minhash_lsh_pairs,
)
from table_ocr_spark.operators.extract import extract_documents, latest_capture
from table_ocr_spark.operators.textstats import (
    _bound_tokens,
    _gopher_terms,
    _token_stat_terms,
    redact_pii,
)


@dataclass
class CorpusReport:
    """Row counts of one :func:`build_training_corpus` call, each read
    from the aggregate that materializes its stage leaf."""

    #: input rows: every capture, re-crawls and empty payloads included
    n_input: int
    #: latest captures per url (every row without ``warc_ts``) whose
    #: extracted text is non-empty
    n_extracted: int
    #: of those, the docs passing the Gopher quality rules
    n_quality_pass: int
    #: of those, one doc per normalized text (the min url)
    n_after_exact_dedup: int
    #: of those, one survivor per MinHash near-dup cluster
    n_after_near_dedup: int
    #: of those, the docs with at least one email or phone redacted
    n_had_pii: int
    #: docs the benchmark decontamination dropped (0: stage skipped)
    n_contaminated: int = 0
    #: docs the deterministic sample kept (-1: stage skipped)
    n_after_sample: int = -1
    #: rows the token budget kept, repeats included when upsampling
    #: (-1: stage skipped)
    n_after_budget: int = -1


def ingest_crawl(
    spark,
    warc_glob: str,
    keep_statuses: tuple = (200,),
    html_only: bool = True,
    with_digest: bool = False,
    with_redirects: bool = False,
    with_revisits: bool = False,
) -> DataFrame:
    """WARC files → the canonical pages frame (BASELINE.json input
    hint): (url, warc_ts timestamp, html binary, text, lang) — the
    exact input :func:`build_training_corpus` / the extraction
    pipeline take, so a crawl snapshot feeds the corpus builder with
    NO intermediate conversion job.

    Stages (all map-only; the file is the parallel grain):
    1. ``read_warc`` — streaming record parse, response records only
    2. status + Content-Type gate (non-HTML responses are the
       multimodal path's input, not this one's; NULL Content-Type is
       kept — legacy servers omit it and the charset sniffer still
       handles the bytes)
    3. charset sniff (BOM on raw bytes → meta → http-equiv) + bulk
       decode to clean UTF-8; ``html`` is re-encoded UTF-8 bytes so
       every downstream operator sees ONE encoding
    4. WARC-Date → timestamp (malformed dates → NULL, row kept —
       latest-capture treats NULL as oldest)

    ``text``/``lang`` are NULL here: they are EXTRACTION outputs, and
    the corpus builder computes them from ``html``.

    ``with_digest`` appends a ``digest`` column — sha1 hex of the
    RE-ENCODED UTF-8 bytes (charset-normalized: the same content
    shipped under a different transport encoding — BOM'd utf-16 one
    crawl, plain utf-8 the next — digests identically, where CC's
    raw-payload sha1-b32 would call it a change; content whose
    DECODED text differs, including its own meta charset
    declaration, still registers). This is exactly the
    capture-history shape
    :func:`operators.frontier.revisit_schedule` consumes, and it
    rides :func:`sources.cdx.write_cdx` ``extra_cols`` into the CDX
    index.

    ``with_redirects`` appends ``n_redirect_aliases`` — how many
    OTHER captured urls 3xx-chain to this page (resolved via
    :mod:`operators.redirects` over the snapshot's redirect captures,
    latest capture per src) — the alias count dedup and authority
    consolidation key on. Makes the call partially EAGER (the
    pointer-doubling walk runs its bounded rounds at build time).

    ``with_revisits`` materializes WARC ``revisit`` records
    (digest-deduped captures — what CC emits for unchanged re-fetches)
    via :func:`sources.warc.resolve_revisits` BEFORE the gates, so a
    resolved revisit becomes a page carrying its donor's payload under
    its own (url, warc_ts, status); revisits whose digest matches no
    stored response are DROPPED (an empty page row would poison the
    corpus). To read revisit records at all, pass them through the
    reader: this path uses ``warc_types=("response", "revisit")``."""
    from table_ocr_spark.sources.warc import read_warc

    types = ("response", "revisit") if with_revisits else ("response",)
    return crawl_pages(
        read_warc(spark, warc_glob, warc_types=types),
        keep_statuses=keep_statuses,
        html_only=html_only,
        with_digest=with_digest,
        with_redirects=with_redirects,
        with_revisits=with_revisits,
    )


def crawl_pages(
    parsed: DataFrame,
    keep_statuses: tuple = (200,),
    html_only: bool = True,
    with_digest: bool = False,
    with_redirects: bool = False,
    redirect_max_hops: int = 16,
    with_revisits: bool = False,
) -> DataFrame:
    """The WARC-records → canonical-pages transform of
    :func:`ingest_crawl`, factored out so it applies to ANY records
    frame with the ``read_warc`` schema — a batch read, a
    ``read_warc_stream`` micro-batch (``streaming.crawl``), or a
    caller-assembled frame. Same stages, same pins; see
    :func:`ingest_crawl`."""
    from table_ocr_spark.operators.pagemeta import (
        decode_payloads,
        sniff_charset,
    )

    if with_revisits:
        # BATCH-ONLY flag: the donor pick is a global groupBy(digest) +
        # join — on a streaming frame that needs state the micro-batch
        # path deliberately doesn't carry (streaming/crawl.py runs the
        # default). A revisit's donor may live in an EARLIER file than
        # any one micro-batch sees; resolve revisits over the full
        # snapshot in batch, as CC consumers do.
        from table_ocr_spark.sources.warc import resolve_revisits

        # resolved revisits become pages carrying the donor payload
        # under their own capture identity; unresolved ones (digest
        # matched no stored response) are dropped — an empty page row
        # would poison the corpus. Non-revisit rows carry NULL flags
        # and pass untouched.
        parsed = resolve_revisits(parsed).where(
            F.col("revisit_resolved").isNull()
            | F.col("revisit_resolved")
        )
    gate = F.col("http_status").isin(*[int(x) for x in keep_statuses])
    if html_only:
        gate = gate & (
            F.col("http_content_type").isNull()
            | F.col("http_content_type").startswith("text/html")
        )
    kept = parsed.where(gate)
    staged = kept.withColumn("charset", sniff_charset(F.col("html")))
    decoded = decode_payloads(
        staged, keep_columns=("url", "warc_ts", "charset")
    )
    html_bytes = F.encode(F.col("decoded_text"), "UTF-8")
    digest_cols = (
        [F.sha1(html_bytes).alias("digest")] if with_digest else []
    )
    out = decoded.select(
        F.col("url"),
        F.to_timestamp(
            F.replace(F.col("warc_ts"), F.lit("Z"), F.lit("+00:00"))
        ).alias("warc_ts"),
        html_bytes.alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        *digest_cols,
    )
    if with_redirects:
        # the snapshot's 3xx captures (gated OUT of the pages rows
        # above) resolve to final destinations; each kept page gets
        # the count of chain sources landing on it. ISO-8601 warc_ts
        # strings order lexicographically, so the latest-capture
        # argmax works on the raw column.
        from table_ocr_spark.operators.redirects import (
            redirect_edges,
            resolve_redirects,
        )

        resolved = resolve_redirects(
            redirect_edges(parsed, ts_col="warc_ts"),
            max_hops=redirect_max_hops,
        )
        aliases = (
            resolved.where(~F.col("redirect_loop"))
            .groupBy("final_url")
            .agg(F.count("*").alias("n_redirect_aliases"))
        )
        out = (
            out.join(
                aliases, out["url"] == aliases["final_url"], "left"
            )
            .drop("final_url")
            .withColumn(
                "n_redirect_aliases",
                F.coalesce("n_redirect_aliases", F.lit(0)),
            )
        )
    return out


@dataclass
class FrontierReport:
    n_pages: int
    n_links: int
    n_candidates: int
    n_novel: int
    n_unblocked: int
    n_allowed: int
    n_planned: int


def next_frontier(
    pages: DataFrame,
    seen_urls: DataFrame = None,
    robots: DataFrame = None,
    blocked=None,
    agent: str = "*",
    respect_nofollow: bool = True,
    resolve_relative: bool = True,
    delay_s: float = 1.0,
    workers: int = 64,
    max_per_host: int = None,
    respect_crawl_delay: bool = True,
    prioritize: str = None,
    authority: DataFrame = None,
    broadcast_authority: bool = False,
    audit: bool = False,
):
    """One full crawl-loop turn: the pages just fetched → the next
    round's politeness-scheduled fetch plan. This is the composition
    the round-4 crawl stack exists for:

    1. ``extract_links`` — anchor hrefs (map-only regex;
       ``respect_nofollow`` drops rel=nofollow edges); with
       ``resolve_relative`` (default) relative hrefs resolve against
       the document's effective base — its first ``<base href>`` if
       present, else the page url (``resolve_href``, RFC 3986 §5 —
       most real links are relative, a frontier that drops them
       starves)
    2. ``canonical_url`` + distinct — frontier candidates
    3. anti-join against ``seen_urls`` (column ``url``, assumed
       already canonical — it is this function's own prior output
       plus the urls already fetched) — only NOVEL urls advance
    4. ``filter_blocked_hosts`` (optional domain blocklist)
    5. robots gate (optional ``(host, robots_txt)`` frame →
       ``robots_rules(agent)`` → ``filter_robots_allowed``)
    6. ``plan_fetches`` — per-host fetch sequence, host-sticky
       worker, eta politeness lower bound; with ``robots`` given and
       ``respect_crawl_delay`` (default), each host's declared
       Crawl-delay raises its effective delay above the ``delay_s``
       floor (``robots_crawl_delays`` → ``host_delays``)

    ``prioritize`` orders each host's fetch queue by link evidence
    instead of url order (the reference fetches its one queue FIFO,
    ``table_ocr/batch.py:221-247``; a crawler fetches what the web
    vouches for first — OPIC/indegree frontier ordering):

    - ``"indegree"`` — priority = number of DISTINCT EXTERNAL
      referring hosts of the candidate url in this batch (the
      spam-resistant count ``host_authority`` uses: one link farm is
      one referrer). Internal links still DISCOVER a url (it stays a
      candidate) but vouch nothing (priority 0) — else every site
      boosts itself.
    - ``"authority"`` — same distinct-external-referrer rollup, but
      each referrer counts its weight from ``authority`` — any
      ``(host, weight)`` frame, e.g. ``host_authority(...)``'s
      ``(host, in_hosts)`` from PRIOR rounds (this batch's graph
      works too, but prior-round authority is the OPIC shape).
      Referrers absent from the frame weigh 0; duplicate hosts take
      their max weight. ``broadcast_authority`` forces a broadcast
      join for curated frames (at crawl scale the weight table is
      host-cardinality — leave it a hash join).

    With ``max_per_host`` the cap keeps each host's HIGHEST-priority
    urls (``plan_fetches`` seats priority-descending), turning the
    per-host budget into an authority-weighted harvest — CC's
    frontier budgeting. Priority changes ordering only; the candidate
    SET is identical to the unprioritized run, and ties (equal
    priority) fall back to url order. ``"indegree"`` plans are fully
    deterministic (priorities are integer-valued counts); with
    ``"authority"`` the priority is a float sum of weights, so
    determinism holds to the float-sum reproducibility of the weight
    rollup — urls whose sums differ below that noise can swap seats
    across runs (harmless for fetch scheduling; pin integer weights
    if byte-stable plans matter).

    Returns ``(plan, FrontierReport)``. With ``audit=False`` (the
    default) the whole thing is ONE lazy plan and the report carries
    -1s except ``n_planned`` is left uncounted too (count it when you
    consume the plan); ``audit=True`` persists the candidate frame
    and pays one count per stage — turn it on for crawl-ops
    dashboards, not for the hot loop.

    Scale shape: stages 1-2 are map-only (with ``prioritize`` the
    stage-2 single url-keyed distinct becomes TWO narrow exchanges —
    the (url, referrer-host) pair dedup, then the url rollup; both
    carry id-width rows only, and block M measures the pair within
    ~6% of the plain path at 3.5M anchors — plus for ``"authority"``
    one host-keyed join against the weight table); 3 is one
    left-anti join on the canonical url (Bloom-prunable); 4-5 are
    the bounded-side joins their operators document; 6 is the host
    window. Nothing collects to the driver."""
    from table_ocr_spark.operators.frontier import plan_fetches
    from table_ocr_spark.operators.linkgraph import extract_links, resolve_href
    from table_ocr_spark.operators.robots import (
        filter_robots_allowed,
        robots_tables,
    )
    from table_ocr_spark.operators.urlnorm import (
        canonical_url,
        filter_blocked_hosts,
        host_canonical,
    )

    if prioritize not in (None, "indegree", "authority"):
        raise ValueError(
            "prioritize must be None, 'indegree' or 'authority', "
            f"got {prioritize!r}"
        )
    if prioritize == "authority" and authority is None:
        raise ValueError(
            "prioritize='authority' needs an authority (host, weight) frame"
        )

    links = extract_links(
        pages,
        absolute_only=not resolve_relative,
        with_base=resolve_relative,
    )
    if respect_nofollow:
        links = links.filter(~F.col("nofollow"))
    # relative hrefs resolve against the document's effective base —
    # the first <base href> when present (itself page-url-resolved),
    # else the page url (extract_links computes it in the harvest
    # pass, since html does not travel past it)
    target = (
        resolve_href(F.col("base_url"), F.col("href"))
        if resolve_relative
        else F.col("href")
    )
    # only fetchable web urls enter the frontier: resolve_href
    # passes any scheme:// through verbatim (ftp:, irc:), and a
    # crawler fetches http(s) only — same pin extract_links'
    # absolute-edge filter applies on the non-resolving path
    _fetchable = F.col("url").rlike("^(?i)https?://")
    if prioritize is None:
        candidates = (
            links.select(canonical_url(target).alias("url"))
            .where(_fetchable)
            .dropDuplicates(["url"])
        )
    else:
        # (candidate url, referring host) pairs; external = the
        # referrer vouches for someone else's page. Both hosts are
        # functions of the pair key, so the dedup keeps a
        # deterministic row.
        pairs = (
            links.select(
                host_canonical(F.col("url")).alias("_src_host"),
                canonical_url(target).alias("url"),
            )
            .where(_fetchable)
            .dropDuplicates(["url", "_src_host"])
            .withColumn(
                "_ext",
                # '' is host_canonical's unparseable-source sentinel —
                # a referrer with no identifiable host vouches nothing
                (F.col("_src_host") != "")
                & (F.col("_src_host") != host_canonical(F.col("url"))),
            )
        )
        if prioritize == "authority":
            w = (
                authority.select(
                    F.col(authority.columns[0]).alias("_src_host"),
                    F.col(authority.columns[1])
                    .cast("double")
                    .alias("_w"),
                )
                .groupBy("_src_host")
                .agg(F.max("_w").alias("_w"))
            )
            if broadcast_authority:
                w = F.broadcast(w)
            pairs = pairs.join(w, "_src_host", "left")
            vouch = F.coalesce(F.col("_w"), F.lit(0.0))
        else:
            vouch = F.lit(1.0)
        candidates = pairs.groupBy("url").agg(
            F.sum(F.when(F.col("_ext"), vouch).otherwise(F.lit(0.0)))
            .cast("double")
            .alias("_priority")
        )

    counts = {}
    if audit:
        candidates = candidates.persist()
        counts["n_pages"] = pages.count()
        counts["n_links"] = links.count()
        counts["n_candidates"] = candidates.count()

    novel = candidates
    if seen_urls is not None:
        novel = candidates.join(
            seen_urls.select("url").dropDuplicates(["url"]),
            "url",
            "left_anti",
        )
    if audit:
        novel = novel.persist()
        counts["n_novel"] = novel.count()

    unblocked = (
        filter_blocked_hosts(novel, blocked)
        if blocked is not None
        else novel
    )
    if audit:
        counts["n_unblocked"] = unblocked.count()

    allowed = unblocked
    host_delays = None
    robots_combined = None
    if robots is not None:
        # one parse pass over the bodies serves both the allow/deny
        # rules and the per-host Crawl-delay. Persist ONLY under
        # audit (the stage-count actions below materialize and reuse
        # the parse, and the audit block releases the handle);
        # without audit no action runs inside this function, so a
        # persist could never be released without leaking one cached
        # frame per call (the streaming crawl loop calls this every
        # micro-batch) — the caller's plan action instead re-parses
        # the robots frame at most twice, bounded by one row per host
        rules, delays, robots_combined = robots_tables(
            robots, agent=agent, persist=audit, return_combined=True
        )
        allowed = filter_robots_allowed(unblocked, rules)
        if respect_crawl_delay:
            host_delays = delays
    if audit:
        allowed = allowed.persist()
        counts["n_allowed"] = allowed.count()
    plan = plan_fetches(
        allowed,
        delay_s=delay_s,
        workers=workers,
        max_per_host=max_per_host,
        host_delays=host_delays,
        priority_col="_priority" if prioritize is not None else None,
    )
    report = FrontierReport(
        n_pages=counts.get("n_pages", -1),
        n_links=counts.get("n_links", -1),
        n_candidates=counts.get("n_candidates", -1),
        n_novel=counts.get("n_novel", -1),
        n_unblocked=counts.get("n_unblocked", -1),
        n_allowed=counts.get("n_allowed", -1),
        n_planned=plan.count() if audit else -1,
    )
    if audit:
        # the caches existed to serve the stage counts just taken;
        # release them HERE or every audited call (e.g. a streaming
        # micro-batch loop forwarding audit=True) leaks three
        # persisted frames for the session's lifetime. The caller's
        # eventual plan action recomputes the chain once — the same
        # work the audit=False path does on its only action.
        allowed.unpersist()
        novel.unpersist()
        candidates.unpersist()
        if robots_combined is not None:
            robots_combined.unpersist()
    return plan, report


def build_training_corpus(
    pages: DataFrame,
    minhash_threshold: float = 0.8,
    shingle_k: int = 3,
    benchmark: DataFrame | None = None,
    contamination_threshold: float = 0.2,
    sample_fraction: float | None = None,
    n_tiers: int | None = None,
    token_budget: int | None = None,
    tier_mix: dict | None = None,
    allow_upsampling: bool = False,
) -> tuple[DataFrame, CorpusReport]:
    """pages(url, warc_ts, html, ...) → (corpus(url, text, n_emails,
    n_phones), per-stage counts). Each stage output is a checkpointed
    plan leaf (``_truncate_plan``: localCheckpoint, or the reliable
    checkpoint when the session has a checkpoint dir), materialized by
    the one aggregate per leaf that fills that stage's report counts
    (see the module docstring for which stages share a leaf); the
    returned DataFrame is a small lazy plan over the last leaf. Pass
    ``benchmark`` (a (doc_id-or-any, text) frame) to drop contaminated
    docs, and ``sample_fraction`` for a deterministic final
    down-sample. ``n_tiers`` appends a global quality-tier column
    (and ``n_tokens``); ``token_budget`` (requires ``n_tiers``)
    down-samples to that many kept tokens in expectation, split per
    tier by ``tier_mix`` shares (default: proportional).
    ``allow_upsampling=True`` routes the budget stage through
    :func:`~table_ocr_spark.operators.sampling.token_budget_upsample`
    instead: a budget past one corpus pass repeats tiers for multiple
    epochs (an ``epoch`` column appears on the output) — the
    data-constrained mix recipe; without it an over-corpus budget
    silently caps at one pass."""
    # argument contract checks BEFORE the first materializing job —
    # a typo must fail in milliseconds, not after hours of extraction
    if token_budget is not None and n_tiers is None:
        raise ValueError("token_budget requires n_tiers (budgets are per tier)")
    if allow_upsampling and token_budget is None:
        raise ValueError(
            "allow_upsampling requires token_budget — without a budget "
            "there is no upsampling stage to route through (this would "
            "otherwise no-op silently after the full pipeline ran)"
        )
    if "warc_ts" in pages.columns:
        captures = latest_capture(pages, count_col="_n")
    else:
        captures = pages.withColumn("_n", F.lit(1).cast("long"))
    # extraction + quality: one leaf of every latest capture, empty
    # extractions included, so its one aggregate counts the input (the
    # url window's capture counts), the extractions and the passes
    extracted = extract_documents(captures, keep_columns=["_n"]).select(
        "url", F.col("extracted_text").alias("text"), "_n"
    )
    # empty text has no tokens, so it fails the Gopher length rule
    flagged, c_extract = _stage_leaf(
        extracted.select("url", "text", "_n", *_bound_tokens("text")).select(
            "url", "text", "_n", _gopher_terms()["quality_pass"].alias("_q")
        ),
        n_input=F.coalesce(F.sum("_n"), F.lit(0)),
        n_extracted=F.count_if(F.length("text") > 0),
        n_quality=F.count_if("_q"),
    )
    passed = flagged.filter("_q").select("url", "text")

    # near dedup keys each row by its own id, ordered by url first:
    # input without warc_ts can hold several rows of one url, and a url
    # key would give their distinct texts one near-dup id and one keep
    # flag. The id is drawn inside the leaf, so every reader sees the
    # same one; on url-unique input it orders exactly as the url does.
    uniq, c_exact = _stage_leaf(
        _exact_dedup_survivors(passed, text_col="text", id_col="url")
        .withColumn(
            "_id", F.struct("url", F.monotonically_increasing_id().alias("_row"))
        )
    )

    pairs = minhash_lsh_pairs(
        uniq, text_col="text", id_col="_id", k=shingle_k,
        threshold=minhash_threshold,
    )
    # transitive closure + best-representative survivor (longest text,
    # ties to min id, so to min url) — near-dup is not transitive, so
    # dropping one side of every pair would over-keep (two docs both
    # similar to a third but not to each other would BOTH survive). The
    # CC loop runs its convergence jobs here, so this stage is eager.
    clusters = duplicate_clusters(uniq, pairs, id_col="_id")
    scores = uniq.select("_id", F.length("text").cast("double").alias("_len"))
    keep = (
        cluster_survivors(clusters, scores, id_col="_id", score_col="_len")
        .filter(F.col("keep"))
        .select("_id")
    )
    # the survivors and their redaction share one leaf
    clean, c_near = _stage_leaf(
        redact_pii(
            uniq.join(keep, "_id", "left_semi"), text_col="text", id_col="url"
        ),
        n_had_pii=F.count_if("had_pii"),
    )
    corpus = clean.select(
        "url", F.col("redacted_text").alias("text"), "n_emails", "n_phones"
    )

    n_contaminated = 0
    if benchmark is not None:
        from table_ocr_spark.operators.decontaminate import contamination_stats

        stats = contamination_stats(
            corpus, benchmark, text_col="text", id_col="url",
            threshold=contamination_threshold,
        )
        dirty = stats.filter(F.col("is_contaminated")).select("url")
        corpus, c_clean = _stage_leaf(corpus.join(dirty, "url", "left_anti"))
        n_contaminated = c_near["n"] - c_clean["n"]

    n_after_sample = -1
    if sample_fraction is not None:
        from table_ocr_spark.operators.sampling import deterministic_sample

        corpus, c_sample = _stage_leaf(
            deterministic_sample(corpus, sample_fraction, key="url")
        )
        n_after_sample = c_sample["n"]

    n_after_budget = -1
    if n_tiers is not None:
        from table_ocr_spark.operators.tiers import score_tiers

        # the stats ride on the corpus rows: the cutoff pass and the
        # tier label read one leaf, with no join back by url
        terms = _token_stat_terms()
        with_stats, _ = _stage_leaf(
            corpus.select(*corpus.columns, *_bound_tokens("text")).select(
                *corpus.columns, terms["n_tokens"].alias("n_tokens"),
                terms["quality_score"].alias("quality_score"),
            )
        )
        corpus = score_tiers(
            with_stats, "quality_score", n_tiers=n_tiers
        ).drop("quality_score")
        if token_budget is not None:
            from table_ocr_spark.operators.sampling import (
                token_budget_sample,
                token_budget_upsample,
            )

            budget_op = (
                token_budget_upsample if allow_upsampling
                else token_budget_sample
            )
            corpus, c_budget = _stage_leaf(budget_op(
                corpus, token_budget, strata_col="tier",
                weight_col="n_tokens", mix=tier_mix, key="url",
            ))
            n_after_budget = c_budget["n"]

    return corpus, CorpusReport(
        n_input=c_extract["n_input"],
        n_extracted=c_extract["n_extracted"],
        n_quality_pass=c_extract["n_quality"],
        n_after_exact_dedup=c_exact["n"],
        n_after_near_dedup=c_near["n"],
        n_had_pii=c_near["n_had_pii"],
        n_contaminated=n_contaminated,
        n_after_sample=n_after_sample,
        n_after_budget=n_after_budget,
    )


def materialize_tiered_corpus(
    corpus: DataFrame,
    path: str,
    capacity: int = 2048,
    seqs_per_shard: int = 1024,
) -> dict:
    """Stage 13 — the STORAGE composition of the tier surface
    (VERDICT r3 #6): a tiered corpus (``url``, ``text``, ``tier`` and
    optionally ``n_tokens``, as :func:`build_training_corpus` returns
    with ``n_tiers``) becomes

    - ``<path>/corpus/tier=K/`` — Hive layout, planning-time tier
      pruning (:func:`~table_ocr_spark.sources.tiered.write_tiered`);
    - ``<path>/shards/tier=K/shard=S/`` — per-tier loader-ready packed
      index, each tier its own token stream from offset 0.

    One grouped plan serves every tier: one scan of ``corpus/``,
    ``pack_sequences(group_col="tier")``, a url re-attach join on
    ``(tier, _pack_id)``, ``write_training_shards(group_col="tier")``
    and one ``groupBy(tier)`` report aggregate — the job count does
    not grow with the tier count. The packing key ``xxhash64(url)`` at
    ``bucket_width`` 2^46 spans 2^18 buckets per tier at any corpus
    size, so up to 15 tiers fit ``pack_sequences``' ``max_buckets``
    guard. A key collision (P ≈ n²/2^65 per tier) would give two docs
    one packing slot; acceptable for a loader index.

    Returns ``{tier: {"n_docs": ..., "n_seqs": ..., "n_shards": ...}}``
    in ascending tier order.
    """
    from table_ocr_spark.operators.packing import (
        pack_sequences,
        write_training_shards,
    )
    from table_ocr_spark.sources.tiered import write_tiered

    if "tier" not in corpus.columns:
        raise ValueError(
            "materialize_tiered_corpus: no 'tier' column — build "
            "the corpus with n_tiers set (or append score_tiers output)"
        )
    write_tiered(corpus, f"{path}/corpus")
    spark = corpus.sparkSession
    keyed = spark.read.parquet(f"{path}/corpus").withColumn(
        "_pack_id", F.xxhash64("url")
    )
    packed = pack_sequences(
        keyed,
        capacity,
        id_col="_pack_id",
        weight_col="n_tokens" if "n_tokens" in keyed.columns else None,
        bucket_width=1 << 46,
        group_col="tier",
    )
    # re-attach the url so shards are self-describing
    packed = packed.join(
        keyed.select("tier", "_pack_id", "url"), ["tier", "_pack_id"]
    ).drop("_pack_id")
    write_training_shards(
        packed, f"{path}/shards", seqs_per_shard, group_col="tier"
    )
    rows = (
        spark.read.parquet(f"{path}/shards")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("seq_id").alias("n_seqs"),
            F.countDistinct("shard").alias("n_shards"),
        )
        .collect()
    )
    return {
        r["tier"]: {k: r[k] for k in ("n_docs", "n_seqs", "n_shards")}
        for r in sorted(rows, key=lambda r: r["tier"])
    }


def publish_extraction(
    pages: DataFrame,
    out_dir: str,
    n_wet_files: int = 8,
    n_cdx_files: int = 8,
    extra_cdx_cols: tuple = (),
) -> tuple[DataFrame, DataFrame]:
    """Publish extracted pages the way Common Crawl publishes a
    segment: WET text shards + a sorted CDX url index, both
    byte-deterministic, under ``out_dir/wet`` and ``out_dir/cdx``.

    ``pages`` needs (url, warc_ts, text). Returns the two per-file
    manifests (each an eagerly-materialized ACTION — the files exist
    when this returns); their rows double as lineage entries, and
    because both sinks are byte-reproducible for fixed file counts a
    re-publication after a crash is idempotent, the same contract as
    the extraction pipeline's bucketed resume.

    Scale shape: one exchange per sink (url-hash buckets for WET,
    boundary-ranged file ids for CDX) — publishing is exactly two
    shuffles of the narrow (url, ts, text) projection, and the html
    column never enters either plan.
    """
    import os as _os

    from table_ocr_spark.sources.cdx import write_cdx
    from table_ocr_spark.sources.wet import write_wet

    wet_manifest = write_wet(
        pages, _os.path.join(out_dir, "wet"), n_files=n_wet_files
    )
    cdx_manifest = write_cdx(
        pages,
        _os.path.join(out_dir, "cdx"),
        n_files=n_cdx_files,
        extra_cols=extra_cdx_cols,
    )
    return wet_manifest, cdx_manifest


def sitemap_frontier(
    sitemaps: DataFrame,
    body_col: str = "sitemap_xml",
    delay_s: float = 1.0,
    workers: int = 64,
    max_per_host: int = None,
    host_delays: DataFrame = None,
) -> tuple[DataFrame, DataFrame]:
    """Seed a crawl frontier from fetched sitemap bodies: parse
    urlset/index entries, schedule the listed urls with RECENCY
    priority (``<lastmod>`` descending — ISO-8601 date strings order
    lexicographically, so the string IS the sort key; urls without
    one fetch last), and surface nested ``<sitemap>`` locs as the
    next round of sitemap fetches.

    Returns ``(plan, nested)``: a ``plan_fetches`` frame over the
    listed urls, and the distinct nested sitemap urls still to fetch
    (the sitemapindex recursion, one level per crawl turn — the loop
    shape ``next_frontier`` uses for pages).
    """
    from table_ocr_spark.operators.frontier import plan_fetches
    from table_ocr_spark.operators.sitemaps import parse_sitemaps

    parsed = parse_sitemaps(sitemaps, key_cols=(), body_col=body_col)
    # the same fetchability pin as next_frontier: relative locs,
    # entity garbage, and non-http schemes never enter the plan
    fetchable = F.col("loc").rlike("^(?i)https?://")
    urls = parsed.filter((F.col("kind") == "url") & fetchable).select(
        F.col("loc").alias("url"), "lastmod"
    )
    # no pre-aggregation here: plan_fetches(priority_col=...) already
    # reduces duplicate urls with groupBy/max — a url listed in
    # several sitemaps keeps its most recent lastmod in that one pass
    plan = plan_fetches(
        urls,
        priority_col="lastmod",
        delay_s=delay_s,
        workers=workers,
        max_per_host=max_per_host,
        host_delays=host_delays,
    )
    nested = (
        parsed.filter((F.col("kind") == "sitemap") & fetchable)
        .select(F.col("loc").alias("sitemap_url"))
        .distinct()
    )
    return plan, nested


def crawl_to_shards(
    spark,
    warc_glob: str,
    path: str,
    n_tiers: int = 3,
    token_budget: int | None = None,
    tier_mix: dict | None = None,
    capacity: int = 2048,
    seqs_per_shard: int = 1024,
    keep_statuses: tuple = (200,),
    html_only: bool = True,
    minhash_threshold: float = 0.8,
    shingle_k: int = 3,
    benchmark: DataFrame | None = None,
    allow_upsampling: bool = False,
) -> dict:
    """THE north-star composition in one call: raw WARC container
    bytes → loader-ready packed training shards.

        ingest_crawl (parse → charset → decode → canonical pages)
        → build_training_corpus (extract → quality → exact dedup →
          MinHash CC closure → survivors → PII → [decontaminate] →
          tiers → [token budget])
        → materialize_tiered_corpus (tier=K/ Hive layout → one
          pack_sequences grouped by tier → tier=K/shard=S/ shards)

    Returns the full audit trail:
    ``{"n_records_kept": pages the status/type gate kept,
       "corpus": CorpusReport (per-stage counts),
       "tiers": {tier: {n_docs, n_seqs, n_shards}},
       "corpus_path": ..., "shards_path": ...}``.

    Every stage is the already-rehearsed operator — this function
    adds NO new plan shape, only the composition, so its scale
    argument is the conjunction of its stages' arguments (each
    documented at its definition). The one new obligation is
    honored here: ``ingest_crawl``'s output is fed UNMATERIALIZED
    into the corpus builder (no intermediate write), so Catalyst
    fuses the decode projection into the extraction scan.

    Reference parity: this is the Spark-native analogue of the
    reference's project run loop — PDFs in, per-document results +
    exports out (`table_ocr/core.py` + `ui/utils.py` export path) —
    at crawl scale with the curation stages a trillion-document
    corpus needs in between.
    """
    pages = ingest_crawl(
        spark,
        warc_glob,
        keep_statuses=keep_statuses,
        html_only=html_only,
    )
    corpus, report = build_training_corpus(
        pages,
        minhash_threshold=minhash_threshold,
        shingle_k=shingle_k,
        benchmark=benchmark,
        n_tiers=n_tiers,
        token_budget=token_budget,
        tier_mix=tier_mix,
        allow_upsampling=allow_upsampling,
    )
    tier_report = materialize_tiered_corpus(
        corpus,
        path,
        capacity=capacity,
        seqs_per_shard=seqs_per_shard,
    )
    return {
        "n_records_kept": report.n_input,
        "corpus": report,
        "tiers": tier_report,
        "corpus_path": f"{path}/corpus",
        "shards_path": f"{path}/shards",
    }
