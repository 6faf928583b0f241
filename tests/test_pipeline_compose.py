"""The composed training-corpus pipeline: stage counts, dedup
behavior, and PII scrubbing end-to-end on a corpus with planted
duplicates and PII."""

import datetime as dt

from pyspark.sql import functions as F

from table_ocr_spark.datagen import write_pages_parquet
from table_ocr_spark.pipelines import build_training_corpus


def _planted_pages(spark, tmp_path):
    """60 datagen pages plus a planted exact dup and a PII page:
    ``(pages, url the dup copies)``."""
    pq = str(tmp_path / "pages.parquet")
    write_pages_parquet(pq, n_docs=60, seed=21, dup_frac=0.0)
    base = spark.read.parquet(pq)

    # plant: exact text dup under a different url (source chosen from
    # docs that PASS the quality filter — the pinned symbol-ratio rule
    # is ASCII-centric, so CJK/Arabic fixtures are filtered), and a PII
    # page
    passing = base.filter(
        (F.col("lang") == "en")
        & (F.size(F.split("text", r"\s+")) >= 12)
    )
    dup = passing.limit(1).select(
        F.lit("https://mirror.example/copy").alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    pii_html = (
        b"<html><body><article><p>reach me at someone@example.org or "
        b"555-123-4567 for details about the documented corpus and more "
        b"filler words to pass the quality filter easily</p></article>"
        b"</body></html>"
    )
    pii = spark.createDataFrame(
        [("https://pii.example/p1", None, bytearray(pii_html), "", "en")],
        base.schema,
    )
    src_url = passing.limit(1).collect()[0]["url"]
    return base.unionByName(dup).unionByName(pii), src_url


def test_training_corpus_pipeline(spark, tmp_path):
    pages, src_url = _planted_pages(spark, tmp_path)
    corpus, rep = build_training_corpus(pages)
    rows = {r["url"]: r for r in corpus.collect()}

    assert rep.n_input == 62
    assert rep.n_extracted == 62
    # the planted exact dup must be gone; its canonical (lexicographic
    # min url) survives
    assert rep.n_after_exact_dedup == rep.n_quality_pass - 1
    # exactly ONE of the two identical-text urls remains (the
    # lexicographic min is the canonical survivor)
    survivors = {u for u in ("https://mirror.example/copy", src_url) if u in rows}
    assert survivors == {min("https://mirror.example/copy", src_url)}
    texts = [r["text"] for r in rows.values()]
    assert len(texts) == len(set(texts))

    # PII page survived filters and was scrubbed
    pii_row = rows["https://pii.example/p1"]
    assert pii_row["n_emails"] == 1 and pii_row["n_phones"] == 1
    assert "<EMAIL>" in pii_row["text"] and "<PHONE>" in pii_row["text"]
    assert "someone@example.org" not in pii_row["text"]

    assert rep.n_had_pii == 1
    assert rep.n_after_near_dedup <= rep.n_after_exact_dedup


def test_training_corpus_plan_is_flat(spark, tmp_path):
    # every stage output is a checkpointed plan leaf: a cached stage
    # would embed its whole upstream plan (an InMemoryRelation), which
    # Spark re-renders at every job of every later stage
    pages, _ = _planted_pages(spark, tmp_path)
    corpus, _ = build_training_corpus(pages)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        corpus._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryRelation" not in plan


def test_training_corpus_reliable_checkpoint_path(spark, tmp_path):
    # with a checkpoint dir set, stage leaves are eager reliable
    # checkpoints (no persisted copy): same report and same corpus as
    # the localCheckpoint path. n_tiers adds the tiered-corpus leaf.
    pages, _ = _planted_pages(spark, tmp_path)
    corpus, rep = build_training_corpus(pages, n_tiers=2)
    want = sorted(map(tuple, corpus.collect()))
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        corpus2, rep2 = build_training_corpus(pages, n_tiers=2)
        assert rep2 == rep
        assert sorted(map(tuple, corpus2.collect())) == want
    finally:
        # unset so the rest of the session-scoped suite stays on the
        # localCheckpoint path (scala setter: Option[String] = None)
        getattr(jsc, "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_training_corpus_optional_stages(spark, tmp_path):
    pq = str(tmp_path / "pages2.parquet")
    write_pages_parquet(pq, n_docs=50, seed=33, dup_frac=0.0)
    pages = spark.read.parquet(pq)

    # benchmark = the text of a few known pages -> those get dropped
    bench = (
        pages.limit(3)
        .select(F.col("url").alias("doc_id"), "text")
    )
    corpus, rep = build_training_corpus(
        pages, benchmark=bench, contamination_threshold=0.5,
        sample_fraction=0.6,
    )
    urls = {r["url"] for r in corpus.collect()}
    assert rep.n_contaminated >= 1          # benchmark members removed
    assert rep.n_after_sample == len(urls)
    assert rep.n_after_sample < rep.n_after_near_dedup

    # deterministic: the same recipe returns the same corpus
    corpus2, rep2 = build_training_corpus(
        pages, benchmark=bench, contamination_threshold=0.5,
        sample_fraction=0.6,
    )
    assert {r["url"] for r in corpus2.collect()} == urls
    assert rep2.n_after_sample == rep.n_after_sample


def test_training_corpus_tier_budget_stages(spark, tmp_path):
    pq = str(tmp_path / "pages.parquet")
    write_pages_parquet(pq, n_docs=80, seed=33, dup_frac=0.0)
    pages = spark.read.parquet(pq)

    # tiers only: tier + n_tokens appended, nothing dropped
    corpus, rep = build_training_corpus(pages, n_tiers=3)
    rows = corpus.collect()
    assert {"tier", "n_tokens"} <= set(corpus.columns)
    assert rep.n_after_budget == -1
    tiers_seen = {r["tier"] for r in rows}
    assert tiers_seen <= {0, 1, 2} and len(tiers_seen) > 1

    # budget stage drops rows and the kept set is tier-stratified
    full_tokens = sum(r["n_tokens"] for r in rows)
    corpus2, rep2 = build_training_corpus(
        pages, n_tiers=3, token_budget=full_tokens // 3
    )
    assert 0 < rep2.n_after_budget < len(rows)

    # budget without tiers is a contract error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires n_tiers"):
        build_training_corpus(pages, token_budget=100)

    # allow_upsampling: a budget past one corpus pass repeats docs for
    # multiple epochs; tokens emitted land on the budget in expectation
    corpus3, rep3 = build_training_corpus(
        pages, n_tiers=3, token_budget=2 * full_tokens,
        allow_upsampling=True,
    )
    rows3 = corpus3.collect()
    assert "epoch" in corpus3.columns
    assert rep3.n_after_budget > len(rows)  # amplified past one pass
    emitted = sum(r["n_tokens"] for r in rows3)
    assert abs(emitted - 2 * full_tokens) / (2 * full_tokens) < 0.25
    # the capped sampler cannot: same budget without the flag keeps
    # at most one copy of everything
    corpus4, rep4 = build_training_corpus(
        pages, n_tiers=3, token_budget=2 * full_tokens
    )
    assert rep4.n_after_budget == len(rows)


def test_full_tier_chain_to_shards(spark, tmp_path):
    # VERDICT r3 #6: extract -> quality -> dedup closure -> survivors
    # -> tiers -> budget -> tier=K/ layout -> per-tier packed shards,
    # end to end through the two public compositions
    from table_ocr_spark.pipelines import materialize_tiered_corpus

    pq = str(tmp_path / "pages.parquet")
    write_pages_parquet(pq, n_docs=120, seed=77, dup_frac=0.2)
    pages = spark.read.parquet(pq)

    corpus, rep = build_training_corpus(
        pages, n_tiers=2, token_budget=10_000_000  # budget >> corpus
    )
    out = str(tmp_path / "tiered")
    report = materialize_tiered_corpus(
        corpus, out, capacity=64, seqs_per_shard=4
    )

    # every tier written, doc counts conserved end to end
    assert set(report) == {0, 1}
    assert sum(t["n_docs"] for t in report.values()) == rep.n_after_budget

    # tier read is partition-pruned and matches the report
    from table_ocr_spark.sources.tiered import read_tier

    t0 = read_tier(spark, f"{out}/corpus", 0)
    assert t0.count() == report[0]["n_docs"]
    assert set(t0.columns) >= {"url", "text", "n_tokens", "tier"}

    # shard contract per tier: start_offset-sorted inside each shard,
    # offsets are the exclusive prefix sum of n_tokens, and the url
    # rides along (self-describing loader index)
    for t, stats in report.items():
        shards = spark.read.parquet(f"{out}/shards/tier={t}")
        assert shards.count() == stats["n_docs"]
        assert {"url", "n_tokens", "start_offset", "seq_id", "shard"} <= set(
            shards.columns
        )
        rows = sorted(
            shards.collect(), key=lambda r: r["start_offset"]
        )
        running = 0
        for r in rows:
            assert r["start_offset"] == running
            running += r["n_tokens"]
        for shard_id in {r["shard"] for r in rows}:
            offs = [r["start_offset"] for r in shards.filter(
                F.col("shard") == shard_id).collect()]
            # parquet row order within the shard file IS offset order
            assert offs == sorted(offs)

    # the one grouped pass writes, for every tier, the rows a per-tier
    # loop writes: read_tier, pack at the default bucket width, then
    # re-attach the url
    from table_ocr_spark.operators.packing import pack_sequences

    cols = ["url", "n_tokens", "start_offset", "seq_id"]
    for t in report:
        keyed = read_tier(spark, f"{out}/corpus", t).withColumn(
            "_pack_id", F.xxhash64("url")
        )
        ref = pack_sequences(
            keyed, 64, id_col="_pack_id", weight_col="n_tokens"
        ).join(keyed.select("_pack_id", "url"), "_pack_id")
        want = {tuple(r) for r in ref.select(*cols).collect()}
        shards = spark.read.parquet(f"{out}/shards/tier={t}")
        assert {tuple(r) for r in shards.select(*cols).collect()} == want
        assert shards.filter(F.col("shard") != F.floor(
            F.col("seq_id") / 4)).count() == 0


def test_shard_tail_job_count_does_not_grow_with_tiers(spark, tmp_path):
    # materialize_tiered_corpus packs, writes and reports every tier in
    # one grouped plan, so 4 tiers cost the jobs 2 tiers cost
    from table_ocr_spark.local_frames import local_frame
    from table_ocr_spark.pipelines import materialize_tiered_corpus

    sc = spark.sparkContext
    jobs = {}
    for n_tiers in (2, 4):
        corpus = local_frame(
            spark,
            [(f"https://t.example/{i}", f"doc {i}", i % 17 + 1, i % n_tiers)
             for i in range(200)],
            "url string, text string, n_tokens long, tier long",
        )
        group = f"shard-tail-{n_tiers}"
        sc.setJobGroup(group, group)
        try:
            report = materialize_tiered_corpus(
                corpus, str(tmp_path / group), capacity=64, seqs_per_shard=4
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sorted(report) == list(range(n_tiers))
        jobs[n_tiers] = len(sc.statusTracker().getJobIdsForGroup(group))
    # 13 on Spark 4.1; a per-tier loop would run 4 + 12 per tier
    assert jobs[2] == jobs[4] <= 14, jobs


def _article(words: str) -> bytearray:
    return bytearray(
        f"<html><body><article><p>{words}</p></article></body></html>".encode()
    )


def _doc_words(tag: str) -> str:
    # 14 distinct tokens per doc: passes the Gopher rules, and no two
    # docs share a 3-shingle
    return " ".join(f"{tag}w{j}" for j in range(14))


def test_corpus_report_counts_from_the_extraction_leaf(spark):
    # n_input is the sum of the url window's capture counts and
    # n_extracted the latest captures with text, both from the one
    # aggregate that materializes the extraction leaf
    from table_ocr_spark.operators.extract import (
        extract_documents,
        latest_capture,
    )

    t1 = dt.datetime(2026, 3, 1, 9, 0, tzinfo=dt.timezone.utc)
    t2 = dt.datetime(2026, 3, 2, 9, 0, tzinfo=dt.timezone.utc)
    rows = [
        # one url captured three times: NULL ts (oldest) and two
        # equal-ts redeliveries, tie-broken on the html hash
        ("http://a.test/", None, _article(_doc_words("old")), None, "en"),
        ("http://a.test/", t1, _article(_doc_words("redeliv1")), None, "en"),
        ("http://a.test/", t1, _article(_doc_words("redeliv2")), None, "en"),
        # latest capture extracts to empty text; the older one has text
        ("http://b.test/", t1, _article(_doc_words("bold")), None, "en"),
        ("http://b.test/", t2, bytearray(b"<html><body></body></html>"),
         None, "en"),
    ] + [
        (f"http://c{i}.test/", t1, _article(_doc_words(f"c{i}")), None, "en")
        for i in range(5)
    ] + [
        # two equal captures of one url: one latest capture with
        # warc_ts; without it, two rows of one url and one text
        ("http://d.test/", t1, _article(_doc_words("same")), None, "en"),
        ("http://d.test/", t1, _article(_doc_words("same")), None, "en"),
        # x.test's latest text is its own; its older text is also
        # w.test's, and w.test < x.test
        ("http://x.test/", t2, _article(_doc_words("xown")), None, "en"),
        ("http://x.test/", t1, _article(_doc_words("shared")), None, "en"),
        ("http://w.test/", t1, _article(_doc_words("shared")), None, "en"),
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )

    corpus, rep = build_training_corpus(pages)
    assert rep.n_input == len(rows) == 15
    # latest captures: a.test, b.test (empty), c0..c4, d, x, w
    assert rep.n_extracted == 9
    picked = (
        extract_documents(latest_capture(pages))
        .filter(F.col("url") == "http://a.test/")
        .collect()
    )
    assert len(picked) == 1
    got = {r.url: r.text for r in corpus.collect()}
    assert got["http://a.test/"] == picked[0].extracted_text
    assert "http://b.test/" not in got
    assert got["http://x.test/"] == _doc_words("xown")
    assert got["http://w.test/"] == _doc_words("shared")
    assert rep.n_quality_pass == rep.n_after_near_dedup == len(got) == 9

    # without warc_ts every row is its own capture, and exact dedup
    # keeps ONE row per normalized text, the min url's: d.test's two
    # equal rows collapse to one, and x.test's copy of w.test's text
    # goes while x.test's own text stays
    corpus2, rep2 = build_training_corpus(pages.drop("warc_ts"))
    assert rep2.n_input == 15
    assert rep2.n_extracted == rep2.n_quality_pass == 14
    want = {
        ("http://a.test/", _doc_words(t)) for t in ("old", "redeliv1", "redeliv2")
    } | {
        ("http://b.test/", _doc_words("bold")),
        ("http://d.test/", _doc_words("same")),
        ("http://x.test/", _doc_words("xown")),
        ("http://w.test/", _doc_words("shared")),
    } | {(f"http://c{i}.test/", _doc_words(f"c{i}")) for i in range(5)}
    got2 = [(r.url, r.text) for r in corpus2.collect()]
    assert sorted(got2) == sorted(want)
    assert rep2.n_after_exact_dedup == rep2.n_after_near_dedup == 12


def test_near_dedup_keys_rows_not_urls(spark):
    # without warc_ts one url can carry several texts: x.test has its
    # own text and a near-dup of w.test's (last token changed, Jaccard
    # 11/13). Near dedup drops that one row; a url key dropped x.test's
    # own text with it, since both rows shared one keep flag
    shared = _doc_words("shared")
    near = shared.rsplit(" ", 1)[0] + " sharedz13"
    rows = [
        ("http://w.test/", _article(shared)),
        ("http://x.test/", _article(_doc_words("xown"))),
        ("http://x.test/", _article(near)),
    ] + [(f"http://c{i}.test/", _article(_doc_words(f"c{i}"))) for i in range(3)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    corpus, rep = build_training_corpus(pages)
    got = sorted((r.url, r.text) for r in corpus.collect())
    assert got == sorted(
        [("http://w.test/", shared), ("http://x.test/", _doc_words("xown"))]
        + [(f"http://c{i}.test/", _doc_words(f"c{i}")) for i in range(3)]
    )
    assert (rep.n_after_exact_dedup, rep.n_after_near_dedup) == (6, 5)


def test_build_training_corpus_counts_only_through_stage_leaves():
    # every report count comes from a stage leaf's materializing
    # aggregate; a separate action here would re-run the stage's whole
    # upstream only to fill the report
    import ast
    import pathlib

    from table_ocr_spark import pipelines

    path = pathlib.Path(pipelines.__file__)
    (fn,) = [
        node for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.FunctionDef)
        and node.name == "build_training_corpus"
    ]
    actions = {"count", "collect", "first", "head", "take", "toPandas"}
    sites = [
        f"pipelines.py:{node.lineno} .{node.func.attr}()"
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in actions
    ]
    assert sites == [], "actions outside _stage_leaf: " + ", ".join(sites)


def _planted_warc(tmp_path):
    """40 captures of distinct pages over 5 hosts plus a later re-crawl
    of one of them that carries an email address: ``a.warc``."""
    from table_ocr_spark.sources.warc import build_warc_record

    def rec(i, ts="2026-03-01T09:00:00Z", extra=""):
        body = (
            f"<article><p>unique page body {i} with several distinct "
            f"words alpha{i} beta{i * 7} gamma {extra}</p></article>"
        ).encode()
        block = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
            b"\r\n\r\n" + body
        )
        return build_warc_record(
            f"http://site{i % 5}.test/p{i}", ts, block, http=False
        )

    recs = [rec(i) for i in range(40)]
    recs.append(rec(3, "2026-03-02T09:00:00Z", "mail me at a@b.org"))
    (tmp_path / "a.warc").write_bytes(b"".join(recs))


def test_corpus_build_computes_each_stage_once(spark, tmp_path):
    # SQL executions of one build_training_corpus call, from the
    # session's SQL status store: the WARC parse (the binaryFile scan
    # feeding read_warc) and the PII redaction each sit under exactly
    # one execution, the one that materializes their stage leaf
    from table_ocr_spark.pipelines import ingest_crawl

    _planted_warc(tmp_path)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        lst = store.executionsList()
        return {
            e.executionId(): e.physicalPlanDescription()
            for e in (lst.apply(i) for i in range(lst.size()))
        }

    before = set(executions())
    group = "corpus-build-once"
    sc.setJobGroup(group, group)
    try:
        _, rep = build_training_corpus(
            ingest_crawl(spark, str(tmp_path / "*")), n_tiers=2
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plans = [p for i, p in executions().items() if i not in before]
    assert (rep.n_input, rep.n_extracted, rep.n_had_pii) == (41, 40, 1)
    assert sum("Scan binaryFile" in p for p in plans) == 1
    assert sum("<EMAIL>" in p for p in plans) == 1
    # 33 on Spark 4.1 when run alone (CC's edge leaf, which here holds
    # no pair, ends the CC stage in its count); 44 when the WARC was
    # parsed twice, quality and exact dedup were url self-joins and the
    # redaction ran per consumer
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 35, jobs


def test_warm_corpus_build_compiles_almost_nothing(spark, tmp_path):
    # whole-stage codegen keeps generated classes in an LRU; one call's
    # distinct plan shapes (about 140 here) overflow Spark's default
    # 100 entries, and a cyclic pattern larger than an LRU gets almost
    # no hits, so at that size every warm call recompiles nearly every
    # class. The session's pinned cache holds them all. Earlier tests may have
    # compiled some of these classes already, so a first call's count
    # can be small; the bound is a quarter of it or of Spark's default.
    from table_ocr_spark.pipelines import ingest_crawl

    _planted_warc(tmp_path)
    metrics = spark._jvm.org.apache.spark.metrics.source
    compiled = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiles_per_call():
        before = compiled.getCount()
        build_training_corpus(
            ingest_crawl(spark, str(tmp_path / "*")), n_tiers=2
        )
        return compiled.getCount() - before

    first = compiles_per_call()
    second = compiles_per_call()
    cap = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert first < cap, (first, cap)
    assert second <= max(first, 100) / 4, (first, second)


class TestIngestCrawl:
    def test_warc_to_corpus_end_to_end(self, spark, tmp_path):
        import gzip

        from table_ocr_spark.pipelines import (
            build_training_corpus,
            ingest_crawl,
        )
        from table_ocr_spark.sources.warc import build_warc_record

        def rec(i, ctype="text/html; charset=utf-8", status=200, lang_bytes=None):
            body = (
                f"<article><p>unique page body {i} with several distinct "
                f"words alpha{i} beta{i*7} gamma</p></article>"
            ).encode()
            if lang_bytes is not None:
                body = lang_bytes
            block = (
                f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n\r\n"
            ).encode() + body
            return build_warc_record(
                f"http://site{i % 5}.test/p{i}",
                f"2026-03-{(i % 27) + 1:02d}T09:00:00Z",
                block,
                http=False,
            )

        recs = [rec(i) for i in range(20)]
        recs.append(rec(100, ctype="image/png"))        # filtered: not html
        recs.append(rec(101, status=404))               # filtered: status
        # latin-1 page: decoded via its meta charset, re-encoded utf-8
        recs.append(
            rec(
                102,
                lang_bytes=b'<meta charset="iso-8859-1"><article><p>'
                + "se\xf1al latina body with several distinct words here"
                .encode("latin-1")
                + b"</p></article>",
            )
        )
        (tmp_path / "a.warc").write_bytes(b"".join(recs[:12]))
        (tmp_path / "b.warc.gz").write_bytes(
            b"".join(gzip.compress(r, mtime=0) for r in recs[12:])
        )

        pages = ingest_crawl(spark, str(tmp_path) + "/*")
        rows = pages.collect()
        assert len(rows) == 21  # 20 html + the latin-1 page
        by_url = {r.url: r for r in rows}
        latin = by_url["http://site2.test/p102"]
        assert "se\u00f1al latina" in bytes(latin.html).decode("utf-8")
        assert rows[0].warc_ts is not None

        corpus, report = build_training_corpus(pages)
        assert report.n_extracted == 21
        got = {r.url: r.text for r in corpus.collect()}
        assert (
            got["http://site0.test/p5"]
            == "unique page body 5 with several distinct words alpha5 "
            "beta35 gamma"
        )

    def test_ingest_digest_charset_invariant(self, spark, tmp_path):
        """with_digest: sha1 over the charset-NORMALIZED bytes, so the
        same content shipped under a different transport encoding
        (BOM'd utf-16 vs plain utf-8) digests identically — the
        revisit_schedule capture-history contract."""
        import hashlib

        from table_ocr_spark.pipelines import ingest_crawl
        from table_ocr_spark.sources.warc import build_warc_record

        content = "señal <b>x</b>"
        def rec(url, ts, body):
            block = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + body
            )
            return build_warc_record(url, ts, block, http=False)

        recs = [
            rec("http://a.test/p", "2026-01-01T00:00:00Z",
                content.encode("utf-8")),
            # same text shipped as BOM'd utf-16le: the sniffer picks
            # the BOM, decode strips it, re-encoded bytes identical
            rec("http://a.test/p", "2026-01-02T00:00:00Z",
                b"\xff\xfe" + content.encode("utf-16-le")),
            rec("http://a.test/p", "2026-01-03T00:00:00Z",
                "changed".encode("utf-8")),
        ]
        (tmp_path / "d.warc").write_bytes(b"".join(recs))
        pages = ingest_crawl(spark, str(tmp_path) + "/*", with_digest=True)
        rows = sorted(pages.collect(), key=lambda r: str(r.warc_ts))
        assert rows[0].digest == rows[1].digest  # charset-invariant
        assert rows[2].digest != rows[0].digest  # real change visible
        assert rows[0].digest == hashlib.sha1(
            content.encode("utf-8")
        ).hexdigest()
        # feeds revisit_schedule directly: 3 captures, 1 change
        from table_ocr_spark.operators.frontier import revisit_schedule

        r = revisit_schedule(pages).collect()[0]
        assert r["n_captures"] == 3 and r["n_changes"] == 1


class TestNextFrontier:
    """One crawl-loop turn: links out of the fetched pages → novel,
    unblocked, robots-allowed urls → politeness fetch plan."""

    def _inputs(self, spark):
        from pyspark.sql import functions as F

        pages = spark.createDataFrame(
            [
                (
                    "http://a.test/start",
                    '<a href="http://new.test/x">n</a>'
                    '<a href="http://new.test/x#frag">dup-after-canon</a>'
                    '<a href="http://seen.test/old">seen</a>'
                    '<a href="http://ads.bad/banner">blocked</a>'
                    '<a href="http://poli.test/private/x">disallowed</a>'
                    '<a href="http://poli.test/ok">allowed</a>'
                    '<a href="http://spam.test/u" rel="nofollow">nf</a>'
                    '<a href="/relative">rel</a>',
                ),
                ("http://b.test/start", '<a href="http://new.test/y">m</a>'),
            ],
            "url string, html string",
        )
        seen = spark.createDataFrame(
            [("http://seen.test/old",)], "url string"
        )
        robots = spark.createDataFrame(
            [("poli.test", "User-agent: *\nDisallow: /private/")],
            "host string, robots_txt string",
        )
        return pages, seen, robots

    def test_full_loop(self, spark):
        from table_ocr_spark.pipelines import next_frontier

        pages, seen, robots = self._inputs(spark)
        plan, rep = next_frontier(
            pages,
            seen_urls=seen,
            robots=robots,
            blocked=["ads.bad"],
            delay_s=3.0,
            workers=4,
            audit=True,
        )
        rows = {r["url"]: r for r in plan.collect()}
        assert set(rows) == {
            "http://new.test/x",
            "http://new.test/y",
            "http://poli.test/ok",
            # the relative anchor resolves against its page url
            "http://a.test/relative",
        }
        # per-host seq + eta: new.test has two urls in url order
        assert rows["http://new.test/x"]["seq"] == 0
        assert rows["http://new.test/y"]["seq"] == 1
        assert rows["http://new.test/y"]["eta_s"] == 3.0
        assert (
            rows["http://new.test/x"]["worker"]
            == rows["http://new.test/y"]["worker"]
        )
        # audit counts: 9 anchors across both pages (8 absolute + the
        # relative one, which resolves), 1 nofollow dropped, the
        # #frag dup collapses after canonicalization, then
        # seen/blocked/disallowed drop one each
        assert rep.n_pages == 2
        assert rep.n_links == 8
        assert rep.n_candidates == 7
        assert rep.n_novel == 6
        assert rep.n_unblocked == 5
        assert rep.n_allowed == 4
        assert rep.n_planned == 4

    def test_prioritized_frontier(self, spark):
        """Authority-driven ordering: a host's fetch queue seats urls
        by distinct-external-referrer evidence, internal links
        discover but don't vouch, and max_per_host keeps the
        highest-priority urls."""
        from table_ocr_spark.pipelines import next_frontier

        # hub.test/popular is vouched for by two external hosts;
        # hub.test/niche by one; hub.test/self only by hub.test
        # itself (internal — discovers, priority 0). Repeated links
        # from one referrer count once.
        pages = spark.createDataFrame(
            [
                (
                    "http://a.test/p",
                    '<a href="http://hub.test/popular">1</a>'
                    '<a href="http://hub.test/popular">again</a>'
                    '<a href="http://hub.test/niche">2</a>',
                ),
                ("http://b.test/p", '<a href="http://hub.test/popular">3</a>'),
                ("http://hub.test/p", '<a href="http://hub.test/self">4</a>'),
            ],
            "url string, html string",
        )
        plan, _ = next_frontier(pages, prioritize="indegree", delay_s=2.0)
        rows = {r["url"]: r for r in plan.collect()}
        assert set(rows) == {
            "http://hub.test/popular",
            "http://hub.test/niche",
            "http://hub.test/self",
        }
        assert rows["http://hub.test/popular"]["seq"] == 0
        assert rows["http://hub.test/niche"]["seq"] == 1
        assert rows["http://hub.test/self"]["seq"] == 2
        assert rows["http://hub.test/niche"]["eta_s"] == 2.0

        # authority weighting flips the order: b.test's vouch weighs
        # 10, a.test's two vouches weigh 1 each — niche (a only, 1.0)
        # now trails popular (a+b, 11.0); unknown hosts weigh 0
        authority = spark.createDataFrame(
            [("a.test", 1), ("b.test", 10)], "host string, in_hosts int"
        )
        plan2, _ = next_frontier(
            pages,
            prioritize="authority",
            authority=authority,
            broadcast_authority=True,
        )
        rows2 = {r["url"]: r["seq"] for r in plan2.collect()}
        assert rows2["http://hub.test/popular"] == 0
        assert rows2["http://hub.test/niche"] == 1

        # the per-host budget keeps the top-priority urls
        plan3, _ = next_frontier(pages, prioritize="indegree", max_per_host=1)
        assert [r["url"] for r in plan3.collect()] == [
            "http://hub.test/popular"
        ]

        # candidate SET identical to the unprioritized run
        base, _ = next_frontier(pages)
        assert {r["url"] for r in base.collect()} == set(rows)

        import pytest as _pytest

        with _pytest.raises(ValueError):
            next_frontier(pages, prioritize="authority")
        with _pytest.raises(ValueError):
            next_frontier(pages, prioritize="pagerank")

    def test_lazy_default_builds_one_plan(self, spark):
        from table_ocr_spark.pipelines import next_frontier

        pages, seen, robots = self._inputs(spark)
        plan, rep = next_frontier(pages, seen_urls=seen, robots=robots)
        assert rep.n_planned == -1 and rep.n_links == -1
        assert plan.count() == 5  # no blocklist: ads.bad stays
        # loop closure: feeding the plan back as seen_urls yields
        # nothing new from the same pages
        plan2, _ = next_frontier(
            pages,
            seen_urls=plan.select("url").union(seen.select("url")),
            robots=robots,
        )
        assert plan2.count() == 0


class TestPublishExtraction:
    def test_wet_cdx_segment_publication(self, spark, tmp_path):
        import gzip
        import os

        from pyspark.sql import functions as F

        from table_ocr_spark.pipelines import publish_extraction
        from table_ocr_spark.sources.cdx import cdx_lookup
        from table_ocr_spark.sources.warc import read_warc

        did = F.col("id")
        pages = spark.range(40).select(
            F.concat(
                F.lit("http://p"), (did % 5).cast("string"),
                F.lit(".test/d"), did.cast("string"),
            ).alias("url"),
            F.timestamp_seconds(1700000000 + did).alias("warc_ts"),
            F.concat(F.lit("text of "), did.cast("string")).alias("text"),
        )
        out = str(tmp_path / "segment")
        wet_m, cdx_m = publish_extraction(
            pages, out, n_wet_files=3, n_cdx_files=2
        )
        assert sum(r["n_records"] for r in wet_m.collect()) == 40
        assert sum(r["n_records"] for r in cdx_m.collect()) == 40
        # WET round-trips through our own WARC reader
        back = read_warc(
            spark, os.path.join(out, "wet", "*.warc.wet.gz"),
            warc_types=("conversion",),
        )
        assert back.count() == 40
        # CDX lookup finds one site's captures
        hits = cdx_lookup(spark, os.path.join(out, "cdx"), "test,p3)")
        assert hits.count() == 8
        # idempotent re-publication: byte-identical files
        before = {
            f: open(os.path.join(out, "cdx", f), "rb").read()
            for f in os.listdir(os.path.join(out, "cdx"))
        }
        publish_extraction(pages, out, n_wet_files=3, n_cdx_files=2)
        for f, b in before.items():
            assert open(os.path.join(out, "cdx", f), "rb").read() == b, f


class TestSitemapFrontier:
    def test_seed_plan_and_nested(self, spark):
        from pyspark.sql import functions as F

        from table_ocr_spark.pipelines import sitemap_frontier

        body1 = (
            "<urlset>"
            "<url><loc>http://s.test/old</loc>"
            "<lastmod>2025-01-01</lastmod></url>"
            "<url><loc>http://s.test/new</loc>"
            "<lastmod>2026-05-05</lastmod></url>"
            "<url><loc>http://s.test/undated</loc></url>"
            "</urlset>"
        )
        # the same url listed again with an OLDER lastmod: max wins
        body2 = (
            "<urlset>"
            "<url><loc>http://s.test/new</loc>"
            "<lastmod>2024-01-01</lastmod></url>"
            "<sitemap><loc>http://s.test/more.xml</loc></sitemap>"
            "</urlset>"
        )
        sitemaps = spark.createDataFrame(
            [(body1,), (body2,)], "sitemap_xml string"
        )
        plan, nested = sitemap_frontier(sitemaps, delay_s=2.0)
        rows = {r["url"]: r for r in plan.collect()}
        # recency order: new (2026) first, old (2025) second,
        # undated last
        assert rows["http://s.test/new"]["seq"] == 0
        assert rows["http://s.test/old"]["seq"] == 1
        assert rows["http://s.test/undated"]["seq"] == 2
        assert rows["http://s.test/old"]["eta_s"] == 2.0
        assert [r["sitemap_url"] for r in nested.collect()] == [
            "http://s.test/more.xml"
        ]


class TestIngestRedirects:
    def test_alias_counts_from_snapshot_redirects(self, spark, tmp_path):
        from table_ocr_spark.pipelines import ingest_crawl
        from table_ocr_spark.sources.warc import build_warc_record

        def page(url):
            return build_warc_record(
                url, "2026-03-01T09:00:00Z",
                b"<article><p>body words here</p></article>",
            )

        def redir(url, to, ts="2026-03-01T09:00:00Z"):
            return build_warc_record(
                url, ts, b"", http_status=301, location=to,
            )

        recs = [
            page("http://a.test/final"),
            page("http://b.test/other"),
            # two-hop chain into a.test/final
            redir("http://a.test/old1", "http://a.test/mid"),
            redir("http://a.test/mid", "http://a.test/final"),
            # direct hop into a.test/final
            redir("http://c.test/moved", "http://a.test/final"),
            # a loop: contributes no aliases
            redir("http://l.test/x", "http://l.test/x"),
            # an earlier stale capture of old1 pointing elsewhere:
            # the later capture above must win the ts argmax
            redir("http://a.test/old1", "http://stale.test/",
                  ts="2026-02-01T09:00:00Z"),
        ]
        (tmp_path / "r.warc").write_bytes(b"".join(recs))

        pages = ingest_crawl(
            spark, str(tmp_path) + "/*", with_redirects=True
        )
        got = {r.url: r.n_redirect_aliases for r in pages.collect()}
        assert got == {
            "http://a.test/final": 3,  # old1 (2 hops), mid, c.test/moved
            "http://b.test/other": 0,
        }


class TestCrawlPagesTransform:
    def test_crawl_pages_equals_ingest_crawl(self, spark, tmp_path):
        """crawl_pages is the factored records→pages transform of
        ingest_crawl; applying it to read_warc's frame must reproduce
        ingest_crawl byte-for-byte on the same files."""
        from table_ocr_spark.pipelines import crawl_pages, ingest_crawl
        from table_ocr_spark.sources.warc import build_warc_record, read_warc

        recs = [
            build_warc_record(
                f"http://s{i % 3}.test/p{i}",
                f"2026-04-{(i % 27) + 1:02d}T09:00:00Z",
                f"<article><p>crawl pages body {i}</p></article>".encode(),
            )
            for i in range(9)
        ]
        (tmp_path / "c.warc").write_bytes(b"".join(recs))
        glob = str(tmp_path) + "/*"
        a = sorted(map(tuple, ingest_crawl(spark, glob).collect()))
        b = sorted(map(tuple, crawl_pages(read_warc(spark, glob)).collect()))
        assert a == b and len(a) == 9


class TestCrawlToShards:
    def test_warc_bytes_to_packed_shards_one_call(self, spark, tmp_path):
        """The north-star composition: .warc.gz container bytes in,
        tier=K/shard=S packed sets out, with the per-stage audit
        counts closed-form on a planted corpus."""
        import gzip

        from table_ocr_spark.pipelines import crawl_to_shards
        from table_ocr_spark.sources.warc import build_warc_record

        def rec(i, text):
            body = (
                f"<article><p>{text}</p></article>"
            ).encode()
            return build_warc_record(
                f"http://s{i % 7}.test/p{i}",
                "2026-05-01T09:00:00Z",
                body,
            )

        # 40 unique long docs + 4 exact dups of doc 0 + 1 non-html
        def words(i):
            # vary doc length so quality scores spread across tiers
            return " ".join(
                f"w{(i * 31 + j * 7) % 9973}x{j}"
                for j in range(40 + (i * 13) % 40)
            )

        recs = [rec(i, words(i)) for i in range(40)]
        dup_text = words(0)
        recs += [rec(100 + k, dup_text) for k in range(4)]
        png = build_warc_record(
            "http://s0.test/img", "2026-05-01T09:00:00Z",
            (b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\nPNG"),
            http=False,
        )
        recs.append(png)
        (tmp_path / "in.warc.gz").write_bytes(
            b"".join(gzip.compress(r, mtime=0) for r in recs)
        )

        out = str(tmp_path / "out")
        rep = crawl_to_shards(
            spark, str(tmp_path) + "/*.warc.gz", out,
            n_tiers=2, capacity=128, seqs_per_shard=4,
        )
        c = rep["corpus"]
        assert rep["n_records_kept"] == 44        # png gated out
        assert c.n_extracted == 44
        # 4 of the 5 identical docs drop at exact dedup
        assert c.n_after_exact_dedup == c.n_quality_pass - 4
        # every surviving doc lands in exactly one tier's shards
        total_docs = sum(t["n_docs"] for t in rep["tiers"].values())
        assert total_docs == c.n_after_near_dedup
        assert set(rep["tiers"]) == {0, 1}
        # shard files exist on disk under shards/tier=K/
        import glob as _g

        files = _g.glob(f"{out}/shards/tier=*/*/*.parquet") + _g.glob(
            f"{out}/shards/tier=*/*.parquet"
        )
        assert files, "no shard parquet written"
        # the packed index reconstructs the corpus: token sums match
        packed = spark.read.parquet(f"{out}/shards/tier=0").unionByName(
            spark.read.parquet(f"{out}/shards/tier=1")
        )
        corpus = spark.read.parquet(f"{out}/corpus")
        assert packed.count() == corpus.count()
        from pyspark.sql import functions as F2

        t_packed = packed.agg(F2.sum("n_tokens")).collect()[0][0]
        t_corpus = corpus.agg(F2.sum("n_tokens")).collect()[0][0]
        assert t_packed == t_corpus
