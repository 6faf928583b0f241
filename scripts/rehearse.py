#!/usr/bin/env python
"""Scale rehearsals from one registry. Each block synthesizes a corpus
of N rows on the executors, times the operators it rehearses, and then
checks their outputs against a closed form. Every BASELINE.md 1M/4M
rehearsal row comes from one of these blocks.

Usage: python scripts/rehearse.py <block>... [--n N] [--sf DIR]

``all`` runs every block, in the order below. N defaults to 1,000,000.
DIR holds the ``documents.parquet`` that the sf-based blocks replicate
to N docs (default: the sf0.1 test tables).

Blocks, with the script (and crawl-stack block letter) that BASELINE.md
rows cite:

  warc_ingest          rehearse_crawl_stack.py A
  page_metadata        rehearse_crawl_stack.py B
  linkgraph            rehearse_crawl_stack.py C
  gopher_repetition    rehearse_crawl_stack.py D
  ccnet_buckets        rehearse_crawl_stack.py E
  repeated_paragraphs  rehearse_crawl_stack.py F
  robots               rehearse_crawl_stack.py G
  wet_sink             rehearse_crawl_stack.py H
  sitemaps             rehearse_crawl_stack.py I
  frontier_plan        rehearse_crawl_stack.py J
  cdx_index            rehearse_crawl_stack.py K
  crawl_loop           rehearse_crawl_stack.py L
  authority_loop       rehearse_crawl_stack.py M
  revisit_schedule     rehearse_crawl_stack.py N
  redirects            rehearse_crawl_stack.py O
  cdx_merge            rehearse_crawl_stack.py P
  crawl_health         rehearse_crawl_stack.py Q
  wat_sidecar          rehearse_crawl_stack.py R
  revisit_resolve      rehearse_crawl_stack.py S
  scale                scale_rehearsal.py (its "full tier chain" tail
                       is the tier_chain block)
  tier_chain           rehearse_tier_chain.py
  north_star           rehearse_north_star.py
  span_removal         rehearse_span_removal.py
  webfilter            rehearse_webfilter.py
  classifier           rehearse_classifier.py
  bpe                  rehearse_bpe.py
  ngram                rehearse_ngram.py
  pq                   rehearse_pq.py
  semdedup             rehearse_semdedup.py (its old n_dup and k
                       arguments are now derived from N)

All blocks share one session: ``get_spark``'s default master
(``local[$SPARK_GRAFT_CPUS]``), 64 shuffle partitions, and no console
progress bars (they emit \\r-glued lines that swallow the timing prints
when the output is piped). A block's SQL confs are set for that block
only. Local mode concentrates every executor's storage in one JVM, so
the heap must scale with the corpus (a real cluster holds data per
executor constant by growing executors instead): each block records the
GB per 1M docs it needs, and the driver gets max(8, largest x N / 1M)
GB over the selected blocks unless SPARK_DRIVER_MEM is set.

Each timed step prints one line, ``[probe x/cpus] block.step: wall``,
where x is ``bench.probe_effective_cores`` at procs=cpus, taken right
after the step: the hosts these ran on carry co-tenant load, and block
timings have been observed to swing >10x in loaded windows, so every
number self-qualifies. At exit one JSON line lists every step as
``{block, step, n, wall_s, probe}``.

Run this file as ``__main__``: cloudpickle ships ``__main__``'s
functions to the Python workers by value, which the mapInPandas writers
and generators below need. Imported from scripts/, they would pickle by
reference and fail on workers, which do not carry scripts/ on their
path.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# importing bench also puts the checkout on the PYTHONPATH the Spark
# Python workers import the package through
from bench import probe_effective_cores  # noqa: E402

BLOCKS: dict = {}
SMALL_SPLITS = {"spark.sql.files.maxPartitionBytes": "4m"}


def block(gb_per_m: int = 0, confs: dict | None = None):
    """Register a block under its function name. ``gb_per_m`` is the
    driver heap it needs per 1M docs; ``confs`` are its SQL confs."""

    def add(fn):
        BLOCKS[fn.__name__] = (fn, gb_per_m, confs or {})
        return fn

    return add


class Rehearsal:
    """What a block gets: the session, N, the sf dir, its scratch dir,
    the ``doc_id`` range frame over N, and the step timer."""

    def __init__(self, spark, n: int, sf: str, root: str):
        self.spark, self.n, self.sf, self.root = spark, n, sf, root
        self.cpus = spark.sparkContext.defaultParallelism
        self.base = spark.range(n).withColumnRenamed("id", "doc_id")
        self.block = self.work = None
        self.steps: list[dict] = []

    def docs(self):
        return self.spark.read.parquet(f"{self.sf}/documents.parquet")

    @contextlib.contextmanager
    def step(self, label: str, items: int = 0, unit: str = "docs"):
        """Time the body, then probe, print the step's line and record
        it. The body may set ``.items`` (for a rate) and ``.note``."""
        s = types.SimpleNamespace(items=items, note="")
        t0 = time.perf_counter()
        yield s
        wall = time.perf_counter() - t0
        probe = probe_effective_cores(procs=self.cpus)
        rate = f" ({s.items / wall:,.0f} {unit}/s)" if s.items else ""
        note = f"; {s.note}" if s.note else ""
        print(f"[probe {probe:.1f}/{self.cpus}] {self.block}.{label}: "
              f"{wall:.1f} s{rate}{note}", flush=True)
        self.steps.append({"block": self.block, "step": label, "n": self.n,
                           "wall_s": round(wall, 3), "probe": probe})


# ------------------------------------------------------- shared pieces
def replicate(docs, n: int):
    """Re-key ``docs`` into max(1, n // |docs|) replicas with unique
    doc_ids (doc_id * reps + replica); every other column is copied."""
    reps = max(1, n // max(docs.count(), 1))
    return (
        docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .withColumn("doc_id", (F.col("doc_id") * reps + F.col("rep")).cast("long"))
        .drop("rep")
    )


def salt(w, i):
    """Word ``w`` at position ``i`` with a per-(doc, word) numeric salt
    suffix (why: crawl_mix)."""
    return F.concat(
        w, (F.abs(F.xxhash64(w, i, F.col("doc_id"), F.lit("s"))) % 9973).cast("string")
    )


def crawl_mix(docs, n: int):
    """``docs`` replicated to ``n`` rows in the realistic crawl mix, all
    deterministic expressions over the re-keyed doc_id:

      90% unique   — per-replica word permutation (sort words by
                     xxhash64(word, pos, doc_id)) with a per-(doc, word)
                     numeric salt suffix. The salt matters: the synthetic
                     corpus draws from a ~31-word vocabulary, so UNSALTED
                     permutations of different docs still share k-word
                     shingles at rates that make every LSH band bucket hot
                     and the candidate-verify join quadratic in the corpus
                     (measured: >80 GB shuffle at 1M docs — ENOSPC). Real
                     web text has a ~10^6-word vocabulary; the salt
                     restores that property (cross-doc shingle overlap ~0)
                     while keeping token counts and near-Gopher word-length
                     stats intact;
      8%  exact    — byte-identical replicas (exact-dedup fodder);
      2%  near-dup — base text + one unique trailing token (J ~= 0.99:
                     exact dedup misses them, MinHash+CC must catch them).

    The class is doc_id % 100 of the re-keyed id, so a base doc needs at
    least 100 replicas before its exact class is a block of copies that
    exact dedup collapses to one survivor (the 0.88-0.94 band the mix
    blocks assert; with 4 replicas per base, 20k rows on sf0.1, exact
    dedup drops 5% and the band is missed). Below 100 x |docs| rows the
    mix therefore replicates only the first n // 100 base docs; at 1M
    rows on sf0.1 (200 replicas) every base doc is used.
    """
    df = replicate(docs.orderBy("doc_id").limit(max(1, n // 100)), n)
    words = F.split(F.col("text"), " ")
    permuted = F.array_join(
        F.transform(
            F.array_sort(
                F.transform(
                    words,
                    lambda w, i: F.struct(
                        F.xxhash64(w, i, F.col("doc_id")).alias("k"),
                        salt(w, i).alias("w"),
                    ),
                )
            ),
            lambda s: s["w"],
        ),
        " ",
    )
    cls = F.col("doc_id") % 100
    return df.withColumn(
        "text",
        F.when(cls < 90, permuted)
        .when(cls < 98, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" nd"), F.col("doc_id").cast("string"))),
    )


def write_warc(recs, out_dir: str, n_files: int):
    """(doc_id, rec) WARC records -> ``n_files`` .warc.gz files under
    ``out_dir``, each record its own gzip member (the CC layout), built
    in parallel. Returns Row(n, files, bytes)."""
    os.makedirs(out_dir)

    def writer(batches):
        import gzip as _gz

        import pandas as _pd

        # a group's rows may span several Arrow batches: compress
        # incrementally into per-group buffers, write once per file
        bufs: dict = {}
        counts: dict = {}
        for pdf in batches:
            for g, grp in pdf.groupby("g"):
                buf = bufs.setdefault(int(g), [])
                for rec in grp["rec"]:
                    buf.append(_gz.compress(rec.encode("utf-8"), mtime=0))
                counts[int(g)] = counts.get(int(g), 0) + len(grp)
        rows = []
        for g, buf in bufs.items():
            path = os.path.join(out_dir, f"part-{g:05d}.warc.gz")
            data = b"".join(buf)
            with open(path, "wb") as f:
                f.write(data)
            rows.append((path, counts[g], len(data)))
        if rows:
            yield _pd.DataFrame(rows, columns=["path", "n", "bytes"])

    return (
        recs.select((F.col("doc_id") % n_files).alias("g"), "rec")
        .repartition(n_files, "g")
        .mapInPandas(writer, "path string, n long, bytes long")
        .groupBy()
        .agg(F.sum("n").alias("n"), F.count("*").alias("files"),
             F.sum("bytes").alias("bytes"))
        .collect()[0]
    )


DIM = 64
COPY_OFF = 1_000_000_000
VEC_SCHEMA = "vec_id long, embedding array<float>"


def mix_vec(ids: np.ndarray) -> np.ndarray:
    """(n,) int64 -> (n, DIM) float64 in [-1, 1): splitmix64 avalanche
    of (id*DIM + coord) — identical in the Spark kernel and the
    driver-side check. A LINEAR mix is not enough here: without the
    avalanche, ids at a fixed stride share a constant per-coordinate
    shift mod 2^64 and become accidental near-duplicates that beat the
    planted ones (caught by the pq planted-truth assert)."""
    j = np.arange(DIM, dtype=np.uint64).reshape(1, -1)
    i = ids.astype(np.uint64).reshape(-1, 1)
    z = i * np.uint64(DIM) + j + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(32)).astype(np.float64) / float(2**31) - 1.0


def embed(ids):
    """(id) frame -> (vec_id, embedding) with mix_vec vectors generated
    on the executors; a COPY_OFF id carries its base id's exact vector."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            base_ids = np.where(ids >= COPY_OFF, ids - COPY_OFF, ids)
            vecs = mix_vec(base_ids).astype(np.float32)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})

    return ids.repartition(64).mapInPandas(gen, schema=VEC_SCHEMA)


# ------------------------------------------------------ crawl stack
@block(gb_per_m=48)
def warc_ingest(run):
    """A. WARC ingest chain: real .warc.gz files on disk (per-record
    gzip members, the CC layout) → read_warc → charset sniff+decode →
    HTML extraction kernel; reports docs/s for the FULL chain (the
    north-star metric's shape) and asserts byte-identity per url on a
    sample."""
    from table_ocr_spark.operators.extract import extract_documents
    from table_ocr_spark.operators.pagemeta import decode_payloads, sniff_charset
    from table_ocr_spark.sources.warc import read_warc, warc_record_expr

    spark, n, did = run.spark, run.n, F.col("doc_id")
    workdir = os.path.join(run.work, "warc")
    body = F.concat(
        F.lit("<article><p>document "),
        did.cast("string"),
        F.lit(" body words repeated for mass "),
        F.repeat(F.lit("token "), 40),
        F.lit("</p></article>"),
    )
    recs = run.base.select(
        "doc_id",
        warc_record_expr(
            F.concat(F.lit("http://h"), (did % 997).cast("string"),
                     F.lit(".test/p"), did.cast("string")),
            F.lit("2026-01-01T00:00:00Z"),
            body,
        ).alias("rec"),
    )
    with run.step("build", items=n) as s:
        built = write_warc(recs, workdir, n_files=256)
        s.note = f"{built.files} .warc.gz files, {built.bytes / 1e6:.0f} MB"
    assert built.n == n, built

    with run.step("parse", items=n):
        n_parsed = read_warc(spark, workdir + "/*.warc.gz").count()
    assert n_parsed == n, n_parsed

    # full ingest chain: parse -> sniff -> decode -> extract
    with run.step("chain", items=n):
        parsed = read_warc(spark, workdir + "/*.warc.gz")
        staged = parsed.withColumn("charset", sniff_charset(F.col("html")))
        decoded = decode_payloads(
            staged, keep_columns=("url", "warc_ts", "http_status")
        )
        pages = decoded.select(
            "url", F.col("decoded_text").cast("binary").alias("html")
        )
        ext = extract_documents(pages)
        agg = ext.agg(
            F.count("*").alias("n"),
            F.sum(F.length("extracted_text")).alias("chars"),
        ).collect()[0]
    assert agg.n == n, agg
    # byte-identity spot check on a sample of urls
    sample = ext.where(
        F.regexp_extract("url", r"/p(\d+)$", 1).cast("long") % max(1, n // 13) == 0
    ).collect()
    assert sample, "empty sample"
    for r in sample:
        i = int(r.url.rsplit("/p", 1)[1])
        want = (
            f"document {i} body words repeated for mass "
            + "token " * 40
        ).rstrip()  # the kernel's pinned trailing-ws trim
        assert r.extracted_text == want, r.url


@block(gb_per_m=48)
def page_metadata(run):
    """B. page_metadata at 1M binary pages (closed-form charset mix)."""
    from table_ocr_spark.operators.pagemeta import page_metadata

    n, did = run.n, F.col("doc_id")
    head = F.concat(
        F.lit('<html lang="en"><head><title> Doc '),
        did.cast("string"),
        F.lit(' </title><meta name="description" content="desc '),
        did.cast("string"),
        F.lit('"><link rel="canonical" href="http://c.test/'),
        did.cast("string"),
        F.lit('">'),
        F.when(did % 4 == 1, F.lit('<meta charset="ISO-8859-1">'))
        .when(did % 4 == 2, F.lit(
            '<meta http-equiv="Content-Type" '
            'content="text/html; charset=Windows-1252">'))
        .when(did % 4 == 3, F.lit('<meta charset="latin-1">'))
        .otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    bom = F.when(did % 4 == 3, F.lit(bytes([0xEF, 0xBB, 0xBF]))) \
           .otherwise(F.lit(b""))
    pages = run.base.select(
        F.concat(F.lit("u"), did.cast("string")).alias("url"),
        F.concat(bom, head.cast("binary")).alias("html"),
    ).persist()
    pages.count()
    with run.step("page_metadata", items=n):
        counts = dict(
            page_metadata(pages).groupBy("charset").count().collect()
        )
    q, r = divmod(n, 4)
    want = {
        "utf-8": 2 * q + min(r, 1) + (1 if r > 3 else 0),
        "iso-8859-1": q + (1 if r > 1 else 0),
        "windows-1252": q + (1 if r > 2 else 0),
    }
    want["utf-8"] = n - want["iso-8859-1"] - want["windows-1252"]
    got = {k: v for k, v in counts.items()}
    assert got == want, (got, want)


@block(gb_per_m=48)
def linkgraph(run):
    """C. linkgraph: host_link_graph + host_authority +
    anchor_text_signals at 1M pages × 3-4 anchors (closed-form
    edge/authority counts)."""
    from table_ocr_spark.operators.linkgraph import (
        anchor_text_signals,
        host_authority,
        host_link_graph,
    )

    n, did = run.n, F.col("doc_id")
    h = (did % 50).cast("string")
    h7 = ((did * 7) % 50).cast("string")
    html = F.concat(
        F.lit('<a href="http://h'), h7,
        F.lit('.test/x"> A'), (did % 5).cast("string"),
        F.lit(' </a><a href="/rel">r</a>'),
        F.lit('<a href="HTTPS://Hub.test:8080/y">hub link</a>'),
        F.when(did % 3 == 0, F.concat(
            F.lit('<a href="http://h'), h, F.lit('.test/self">s</a>'),
        )).otherwise(F.lit("")),
    )
    pages = run.base.select(
        F.concat(F.lit("http://h"), h, F.lit(".test/p"),
                 did.cast("string")).alias("url"),
        html.alias("html"),
    ).persist()
    pages.count()
    with run.step("host_link_graph+authority", items=n, unit="pages"):
        auth = {r.host: r for r in
                host_authority(host_link_graph(pages)).collect()}
    assert len(auth) == 51, len(auth)  # 50 hN + hub
    assert auth["hub.test"]["in_links"] == n
    assert auth["hub.test"]["in_hosts"] == 50
    # neighbor links: (did*7)%50 == k has n/50 pages; gcd(7,50)=1
    # => every host gets exactly n/50 inbound neighbor links, but
    # pages on hK itself contribute a SELF edge (excluded). did on
    # host k: did%50==k; neighbor (did*7)%50==k iff did%50==k*43%50
    # -> self only when 7k==k mod 50 -> k==0. Host h0 loses its
    # n/50 self-pair links from in/out.
    assert auth["h1.test"]["in_links"] == n // 50
    with run.step("anchor_text_signals", items=n, unit="pages"):
        anch = {r.host: r for r in anchor_text_signals(pages).collect()}
    assert anch["hub.test"]["n_anchors"] == n
    assert anch["hub.test"]["top_anchor_text"] == "hub link"
    # dst host hK's sources are pages with did%50 == 43k (mod 50),
    # so did%5 is CONSTANT per host: text == a((3k) % 5)
    assert anch["h1.test"]["n_anchors"] == n // 50
    assert anch["h1.test"]["n_anchor_texts"] == 1
    assert anch["h1.test"]["top_anchor_text"] == "a3"
    assert anch["h2.test"]["top_anchor_text"] == "a1"


@block(gb_per_m=48)
def gopher_repetition(run):
    """D. gopher_repetition_rules at 1M docs (closed-form pass
    split)."""
    from table_ocr_spark.operators.webfilter import gopher_repetition_rules

    n, did = run.n, F.col("doc_id")
    # half the docs: 8 lines whose tokens never repeat a bigram
    # WITHIN the doc (gopher rules are within-doc; a naive "line k
    # of document N" synth fails top-2-gram at 0.5 — measured);
    # half: one line repeated 6x + 2 distinct (fail dup-line hard)
    uniq = F.concat_ws(
        "\n",
        *[
            F.concat(
                F.lit("w"), ((did * 7 + k * 13) % 997).cast("string"),
                F.lit(" x"), ((did * 3 + k * 5) % 911).cast("string"),
                F.lit(" y"), ((did + k * 31) % 883).cast("string"),
                F.lit(f" z{k}e"),
            )
            for k in range(8)
        ],
    )
    dup_line = F.concat(F.lit("repeated line of document "),
                        did.cast("string"))
    dup = F.concat_ws(
        "\n",
        *([dup_line] * 6
          + [F.concat(F.lit("unique a "), did.cast("string")),
             F.concat(F.lit("unique b "), did.cast("string"))]),
    )
    docs = run.base.select(
        "doc_id",
        F.when(did % 2 == 0, uniq).otherwise(dup).alias("text"),
    ).persist()
    docs.count()
    with run.step("gopher_repetition_rules", items=n):
        passed = dict(
            gopher_repetition_rules(docs)
            .groupBy("repetition_pass").count().collect()
        )
    assert passed.get(True, 0) == (n + 1) // 2, passed
    assert passed.get(False, 0) == n // 2, passed


@block(gb_per_m=48)
def ccnet_buckets(run):
    """E. ccnet_buckets at 1M docs × 5 langs (per-lang bucket
    partition)."""
    from table_ocr_spark.operators.ccnet import ccnet_buckets

    n, did = run.n, F.col("doc_id")
    langs = F.element_at(
        F.array(*[F.lit(x) for x in ("en", "es", "de", "fr", "pt")]),
        (did % 5 + 1).cast("int"),
    )
    # near-continuous score spread: the common-token fraction
    # varies 20 ways AND the rare tail token varies 997 ways, so
    # per-lang terciles cut a fine-grained distribution (a
    # constant-prefix synth collapses to a handful of 6-dp mass
    # points and the ties-sit-low rule parks a whole language in
    # 'head' — observed at 1M)
    # 200 mixture levels x ~2 tail-count values = ~80 distinct
    # 6-dp scores PER LANGUAGE (did%5 fixes did%200 to 40 levels),
    # clusters of ~2.5k docs each at 1M — fine enough that exact
    # terciles land within one cluster of n/15
    text = F.concat(
        F.repeat(F.lit("the "), (did % 200 + 1).cast("int")),
        F.lit("w"), (did % 997).cast("string"),
    )
    docs = run.base.select("doc_id", text.alias("text"),
                           langs.alias("lang")).persist()
    docs.count()
    with run.step("ccnet_buckets", items=n):
        dist = (
            ccnet_buckets(docs)
            .groupBy("lang", "bucket").count()
            .collect()
        )
    per_lang: dict = {}
    for r in dist:
        per_lang.setdefault(r.lang, {})[r.bucket] = r["count"]
    assert set(per_lang) == {"en", "es", "de", "fr", "pt"}
    for lang, buckets in per_lang.items():
        assert sum(buckets.values()) == n // 5, (lang, buckets)
        # exact-quantile thirds up to score ties
        for b, c in buckets.items():
            assert abs(c - n // 15) < n // 50, (lang, b, c)


@block(gb_per_m=48)
def repeated_paragraphs(run):
    """F. remove_repeated_paragraphs at 1M docs (every doc sheds
    exactly its one planted boilerplate paragraph)."""
    from table_ocr_spark.operators.textstats import remove_repeated_paragraphs

    n, did = run.n, F.col("doc_id")
    text = F.concat(
        F.lit("unique opening paragraph of document "),
        did.cast("string"),
        F.lit("\n\nThis site uses cookies. By continuing you agree."
              "\nSee our privacy policy for details."),
        F.lit("\n\nunique closing paragraph "),
        did.cast("string"),
        F.lit(" with more words"),
    )
    docs = run.base.select("doc_id", text.alias("text")).persist()
    docs.count()
    with run.step("remove_repeated_paragraphs", items=n):
        agg = remove_repeated_paragraphs(docs).agg(
            F.count("*").alias("n"),
            F.sum("n_dropped").alias("dropped"),
            F.sum("n_kept").alias("kept"),
            F.sum(
                F.contains(F.col("text_clean"), F.lit("cookies"))
                .cast("long")
            ).alias("leaks"),
        ).collect()[0]
    assert agg.n == n and agg.dropped == n and agg.kept == 2 * n
    assert agg.leaks == 0


@block(gb_per_m=48)
def robots(run):
    """G. robots.txt: rule parse over 10k hosts × 10 rules + allow/deny
    decisions for 1M urls (closed-form allow split)."""
    from table_ocr_spark.operators.robots import robots_decisions, robots_rules

    n, did = run.n, F.col("doc_id")
    n_hosts = 10_000
    # one star group, 9 prefix Disallows + 1 longer '$'-anchored
    # Allow that re-admits /p5/ urls (did%20==5 -> did ends in 5)
    body = (
        "User-agent: *\n"
        + "".join(f"Disallow: /p{i}/\n" for i in range(1, 10))
        + "Allow: /p5/i*5$\n"
    )
    robots = (
        run.spark.range(n_hosts)
        .select(
            F.concat(F.lit("h"), F.col("id").cast("string"),
                     F.lit(".test")).alias("host"),
            F.lit(body).alias("robots_txt"),
        )
    )
    urls = run.base.select(
        F.concat(
            F.lit("http://h"), (did % n_hosts).cast("string"),
            F.lit(".test/p"), (did % 20).cast("string"),
            F.lit("/i"), did.cast("string"),
        ).alias("url")
    ).persist()
    urls.count()
    with run.step("robots_rules+decisions", items=n, unit="urls"):
        rules = robots_rules(robots)
        dec = robots_decisions(urls, rules)
        agg = dec.agg(
            F.count("*").alias("n"),
            F.sum(F.col("allowed").cast("long")).alias("allowed"),
        ).collect()[0]
    # allowed iff did%20 in {0,5,10..19}: 12/20 of all urls
    assert agg.n == n and agg.allowed == n // 20 * 12, agg


@block(gb_per_m=48)
def wet_sink(run):
    """H. WET sink: write_wet 1M docs → 64 .warc.wet.gz files, read
    back through read_warc, byte-identity spot check."""
    from table_ocr_spark.sources.warc import read_warc
    from table_ocr_spark.sources.wet import write_wet

    spark, n, did = run.spark, run.n, F.col("doc_id")
    pages = run.base.select(
        F.concat(F.lit("http://h"), (did % 1000).cast("string"),
                 F.lit(".test/p"), did.cast("string")).alias("url"),
        F.lit("2026-01-01T00:00:00Z").alias("warc_ts"),
        F.concat(F.lit("extracted text of document "),
                 did.cast("string"),
                 F.lit(" — unicode café, repeated payload words "
                       "to give the record some mass")).alias("text"),
    ).persist()
    pages.count()
    out = os.path.join(run.work, "wet")
    with run.step("write_wet", items=n):
        manifest = write_wet(pages, out, n_files=64)
    n_recs = sum(r["n_records"] for r in manifest.collect())
    assert n_recs == n, n_recs
    with run.step("read_back", items=n, unit="recs"):
        back = read_warc(spark, out + "/*.warc.wet.gz",
                         warc_types=("conversion",))
        got = back.agg(
            F.count("*").alias("n"),
            F.sum(F.length("html")).alias("octets"),
        ).collect()[0]
    assert got.n == n, got
    # byte-identity spot check on a deterministic sample
    sample = {
        r["url"]: bytes(r["html"])
        for r in back.filter(
            F.xxhash64("url") % 10_000 == 0
        ).collect()
    }
    want = {
        r["url"]: r["text"].encode("utf-8")
        for r in pages.filter(
            F.xxhash64("url") % 10_000 == 0
        ).collect()
    }
    assert sample == want and sample


@block(gb_per_m=48)
def sitemaps(run):
    """I. sitemap parse: 1M sitemap bodies × 11 entries (urlset +
    nested index + entity-escaped locs), closed-form entry counts."""
    from table_ocr_spark.operators.sitemaps import parse_sitemaps

    n, dids = run.n, F.col("doc_id").cast("string")
    entry = F.concat(
        F.lit("<url><loc>http://s"), dids, F.lit(".test/u"),
    )
    body = F.concat(
        F.lit("<urlset>"),
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), F.lit(9)),
                lambda i: F.concat(
                    entry, i.cast("string"),
                    F.lit("?a=1&amp;b=2</loc><lastmod>2026-01-0"),
                    (i % 9 + 1).cast("string"),
                    F.lit("</lastmod></url>"),
                ),
            ),
        ),
        F.lit("<sitemap><loc>http://s"), dids,
        F.lit(".test/idx.xml</loc></sitemap></urlset>"),
    )
    sm = run.base.select("doc_id", body.alias("sitemap_xml")).persist()
    sm.count()
    with run.step("parse_sitemaps", items=11 * n, unit="entries"):
        agg = parse_sitemaps(sm, key_cols=("doc_id",)).agg(
            F.count("*").alias("n"),
            F.sum((F.col("kind") == "url").cast("long")).alias("n_urls"),
            F.sum(F.contains(F.col("loc"), F.lit("&b=2")).cast("long"))
            .alias("n_decoded"),
        ).collect()[0]
    assert agg.n == 11 * n and agg.n_urls == 10 * n, agg
    assert agg.n_decoded == 10 * n, agg


@block(gb_per_m=48)
def frontier_plan(run):
    """J. frontier plan: 1M urls over 100k hosts (Zipf-ish sizes via a
    quadratic host map), per-host seq/eta closed-form asserts."""
    from table_ocr_spark.operators.frontier import plan_fetches

    n, did = run.n, F.col("doc_id")
    n_hosts = 100_000
    # quadratic map -> host sizes ramp from ~1 to ~2n/n_hosts urls
    # (a skew stand-in: host 99999 is ~2x the mean, host 0 tiny)
    host_id = (
        (did * did % (4 * n)) * n_hosts / (4 * n)
    ).cast("long")
    urls = run.base.select(
        F.concat(
            F.lit("http://f"), host_id.cast("string"),
            F.lit(".test/p"), did.cast("string"),
        ).alias("url")
    ).persist()
    urls.count()
    with run.step("plan_fetches", items=n, unit="urls") as s:
        plan = plan_fetches(urls, delay_s=0.5, workers=256)
        agg = plan.agg(
            F.count("*").alias("n"),
            F.countDistinct("host").alias("hosts"),
            F.max("seq").alias("max_seq"),
            F.sum((F.col("eta_s") == F.col("seq") * 0.5).cast("long"))
            .alias("eta_ok"),
        ).collect()[0]
        s.note = f"{agg.hosts:,} hosts, max per-host queue {agg.max_seq + 1}"
    assert agg.n == n and agg.eta_ok == n, agg
    # host-sticky workers: every host maps to exactly one worker
    w_per_host = plan.groupBy("host").agg(
        F.countDistinct("worker").alias("w")
    ).agg(F.max("w")).collect()[0][0]
    assert w_per_host == 1


@block(gb_per_m=48)
def cdx_index(run):
    """K. CDX index: write_cdx 1M urls -> 64 globally-sorted cdx-*.gz +
    cluster.idx, manifest totals closed-form, one pruned site lookup
    (candidate files strictly < 64), read-back count."""
    from table_ocr_spark.sources.cdx import (
        candidate_files,
        cdx_lookup,
        read_cdx,
        write_cdx,
    )

    spark, n, did = run.spark, run.n, F.col("doc_id")
    n_hosts = 100_000
    host_id = ((did * did % (4 * n)) * n_hosts / (4 * n)).cast("long")
    pages = run.base.select(
        F.concat(
            F.lit("http://c"), host_id.cast("string"),
            F.lit(".test/p"), did.cast("string"),
        ).alias("url"),
        F.timestamp_seconds(1700000000 + did % 86400).alias("warc_ts"),
    ).persist()
    pages.count()
    out = os.path.join(run.work, "cdx")
    with run.step("write_cdx_cold", items=n, unit="urls"):
        m = write_cdx(pages, out, n_files=64)
    # second write re-times steady state: the first pays
    # cold-session JIT/codegen (the 64-branch CASE chain) —
    # the same cold/warm split the linkgraph block shows
    shutil.rmtree(out)
    with run.step("write_cdx_warm", items=n, unit="urls"):
        m = write_cdx(pages, out, n_files=64)
    rows = m.collect()
    assert sum(r["n_records"] for r in rows) == n, rows
    # global order across files: manifest ranges must chain
    rows.sort(key=lambda r: r["file"])
    for a, b in zip(rows, rows[1:]):
        assert a["last_key"] <= b["first_key"], (a, b)
    with run.step("read_cdx", items=n, unit="urls"):
        n_back = read_cdx(spark, out).count()
    assert n_back == n
    cands = candidate_files(out, "test,c0)")
    with run.step("site_lookup") as s:
        n_hit = cdx_lookup(spark, out, "test,c0)").count()
        s.note = f"touching {len(cands)}/64 files ({n_hit} captures)"
    assert 0 < len(cands) < 64, cands
    assert n_hit > 0


@block(gb_per_m=48)
def crawl_loop(run):
    """L. crawl-loop turn: next_frontier over 1M pages x 4 anchors
    (relative resolution, nofollow, robots allow/deny + Crawl-delay,
    seen anti-join), closed-form plan count and delay split."""
    from table_ocr_spark.pipelines import next_frontier

    spark, n, did = run.spark, run.n, F.col("doc_id")
    n_hosts = max(1, n // 20)  # 20 pages per host
    h = (did % n_hosts).cast("string")
    pages = run.base.select(
        F.concat(F.lit("http://f"), h, F.lit(".test/d/p"),
                 did.cast("string")).alias("url"),
        F.concat(
            F.lit('<a href="http://n'), h, F.lit('.test/x'),
            did.cast("string"), F.lit('">a</a>'),
            F.lit('<a href="../r'), did.cast("string"),
            F.lit('">r</a><a href="#top">f</a>'),
            F.lit('<a href="http://spam.test/u'),
            (did % 10).cast("string"),
            F.lit('" rel="nofollow">s</a>'),
        ).alias("html"),
    ).persist()
    pages.count()
    k = F.col("id")
    robots = spark.range(n_hosts).select(
        F.concat(F.lit("f"), k.cast("string"), F.lit(".test"))
        .alias("host"),
        F.when(k % 5 == 0,
               F.lit("User-agent: *\nCrawl-delay: 3"))
        .otherwise(F.lit("User-agent: *\nDisallow:"))
        .alias("robots_txt"),
    ).union(
        spark.range(0, n_hosts, 2).select(
            F.concat(F.lit("n"), k.cast("string"), F.lit(".test"))
            .alias("host"),
            F.lit("User-agent: *\nDisallow: /x").alias("robots_txt"),
        )
    )
    seen = run.base.where(did % 10 == 0).select(
        F.concat(F.lit("http://n"), h, F.lit(".test/x"),
                 did.cast("string")).alias("url")
    )
    with run.step("next_frontier", items=4 * n, unit="anchors") as s:
        plan, _ = next_frontier(
            pages, seen_urls=seen, robots=robots,
            delay_s=1.0, workers=512,
        )
        agg = plan.agg(
            F.count("*").alias("n"),
            F.sum((F.col("delay_s") == 3.0).cast("long")).alias("slow"),
            F.sum((F.col("eta_s") != F.col("seq") * F.col("delay_s"))
                  .cast("long")).alias("bad_eta"),
        ).collect()[0]
        s.note = f"{agg.n:,} planned fetches, {agg.slow:,} on Crawl-delay hosts"
    # absolute n-host links: n minus robots-blocked (even hosts)
    # minus seen (i%10==0 on odd hosts); relative f-host links:
    # all n survive (f robots only set delays)
    n_abs = n - ((n + 1) // 2) - sum(
        1 for i in range(0, n, 10) if (i % n_hosts) % 2 == 1
    )
    want = n + n_abs
    slow_want = sum(1 for i in range(n) if (i % n_hosts) % 5 == 0)
    assert agg.n == want, (agg.n, want)
    assert agg.slow == slow_want and agg.bad_eta == 0, agg


@block(gb_per_m=48)
def authority_loop(run):
    """M. authority loop: host_pagerank over the 1M-page host graph
    (ring + sink structure collapses to an exact 2-variable recurrence
    — per-iterate closed-form twin), then
    next_frontier(prioritize=...) with nested referrer sets so the
    per-host fetch order is closed-form; times the priority aggregate
    against the plain frontier on the same pages."""
    from table_ocr_spark.operators.linkgraph import host_link_graph, host_pagerank
    from table_ocr_spark.pipelines import next_frontier

    n, did = run.n, F.col("doc_id")
    # H f-hosts in a ring, each also linking the tgt.test sink;
    # tier(h) = h % 4 nests the tgt referrer sets: u0 is linked
    # by ALL hosts, u1 by 3/4, u2 by 1/2, u3 by 1/4 — so both
    # the graph (ring + dangling sink) and the per-host fetch
    # order are closed-form
    H = max(4, (n // 20) // 4 * 4)
    h = did % H
    tier = h % 4
    u_links = [
        F.when(
            tier >= j,
            F.lit(f'<a href="http://tgt.test/u{j}">t</a>'),
        ).otherwise(F.lit(""))
        for j in range(4)
    ]
    pages = run.base.select(
        F.concat(
            F.lit("http://f"), h.cast("string"), F.lit(".test/p"),
            did.cast("string"),
        ).alias("url"),
        F.concat(
            F.lit('<a href="http://f'),
            ((h + 1) % H).cast("string"),
            F.lit('.test/r">n</a>'),
            *u_links,
        ).alias("html"),
    ).persist()
    pages.count()

    iters = 20
    with run.step("host_pagerank") as s:
        g = host_link_graph(pages)
        pr = host_pagerank(g, max_iters=iters, tol=1e-300)
        ranks = {r.host: r.rank for r in pr.collect()}
        s.note = f"{iters} rounds, {H + 1:,} hosts, {2 * H:,} edges"
    # exact per-iterate twin: by ring symmetry every f-host holds
    # the same rank r; tgt is the one dangling node. Each f-host
    # splits 0.5/0.5 between tgt and the next ring host.
    N = H + 1
    d = 0.85
    r = R = 1.0 / N
    for _ in range(iters):
        r, R = (
            (1 - d) / N + d * (0.5 * r + R / N),
            (1 - d) / N + d * (0.5 * r * H + R / N),
        )
    assert len(ranks) == N, len(ranks)
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    assert abs(ranks["tgt.test"] - R) < 1e-9, (ranks["tgt.test"], R)
    for probe_host in ("f0.test", f"f{H // 2}.test"):
        assert abs(ranks[probe_host] - r) < 1e-9, probe_host

    # each timing is ONE action over a persisted plan; ordering
    # asserts run untimed afterwards (a collect + count pair
    # would execute the pipeline twice and double the timing).
    # 1 ring anchor + mean(tier+1) = 2.5 tgt anchors per page
    # (tier uniform over 0..3 since 4 | H and H | n)
    with run.step("frontier_plain", items=7 * n // 2, unit="anchors"):
        plain, _ = next_frontier(pages)
        n_plain = plain.count()
    plan, _ = next_frontier(pages, prioritize="indegree")
    plan = plan.persist()
    with run.step("frontier_indegree", items=7 * n // 2, unit="anchors"):
        n_prior = plan.count()
    # candidates: H ring urls + the 4 tgt urls, identical sets
    assert n_plain == n_prior == H + 4, (n_plain, n_prior, H)
    rows = {
        x["url"]: x["seq"]
        for x in plan.where(F.col("host") == "tgt.test").collect()
    }
    plan.unpersist()
    # nested referrer counts (H, 3H/4, H/2, H/4) force the order
    assert [rows[f"http://tgt.test/u{j}"] for j in range(4)] == [
        0, 1, 2, 3,
    ], rows

    # rank-weighted priority agrees (nested sets x uniform ring
    # ranks are monotone) — this is the PageRank->frontier loop
    plan2, _ = next_frontier(
        pages, prioritize="authority",
        authority=pr.select("host", "rank"),
    )
    plan2 = plan2.persist()
    with run.step("frontier_pagerank", items=7 * n // 2, unit="anchors"):
        n_auth = plan2.count()
    assert n_auth == n_plain
    rows2 = {
        x["url"]: x["seq"]
        for x in plan2.where(F.col("host") == "tgt.test").collect()
    }
    assert rows2 == rows, (rows2, rows)


@block(gb_per_m=48)
def revisit_schedule(run):
    """N. revisit scheduling: revisit_schedule over ~1M captures with a
    (captures, changes) grid chosen so every per-url interval — and
    their corpus-wide sum — is closed-form."""
    from table_ocr_spark.operators.frontier import revisit_schedule

    n = run.n
    # url i carries k = (i%4)+1 captures at j·D (mean 2.5 →
    # ~n capture rows), digests all "A" except the LAST capture of
    # even-i urls with k≥2, which is "B": n_changes ∈ {0, 1} and
    # every interval is closed-form with no clamp in play
    D = 86400.0
    U = (2 * n) // 5
    k_of = F.col("id") % 4 + 1
    caps = (
        run.spark.range(U)
        .select(
            F.col("id"),
            k_of.alias("_k"),
            F.explode(F.sequence(F.lit(0), k_of - 1)).alias("_j"),
        )
        .select(
            F.concat(
                F.lit("http://r"), (F.col("id") % 99991).cast("string"),
                F.lit(".test/p"), F.col("id").cast("string"),
            ).alias("url"),
            F.timestamp_seconds(F.col("_j") * F.lit(D)).alias(
                "warc_ts"
            ),
            F.when(
                (F.col("id") % 2 == 0)
                & (F.col("_k") >= 2)
                & (F.col("_j") == F.col("_k") - 1),
                F.lit("B"),
            )
            .otherwise(F.lit("A"))
            .alias("digest"),
        )
        .persist()
    )
    n_caps = caps.count()
    with run.step("revisit_schedule", items=n_caps, unit="captures"):
        sched = revisit_schedule(caps)
        agg = sched.agg(
            F.count("*").alias("urls"),
            F.sum("n_changes").alias("chg"),
            F.sum("interval_s").alias("tot_int"),
        ).collect()[0]
    # python twin of the same grid
    want_chg = want_int = 0.0
    for i in range(U):
        k = i % 4 + 1
        if k == 1:
            want_int += 7 * D
            continue
        chg = 1 if i % 2 == 0 else 0
        want_chg += chg
        want_int += (k - 1) * D / (chg + 1)
    assert agg.urls == U and agg.chg == want_chg, agg
    assert abs(agg.tot_int - want_int) < 1e-3 * U, (
        agg.tot_int, want_int,
    )


@block(gb_per_m=48)
def redirects(run):
    """O. redirect chains: redirect_edges → resolve_redirects over ~1M
    captures arranged in 16-deep chains (relative Locations on odd
    hops) + a self-loop family, max_hops=10 so the bound bites at depth
    11-15; resolved/loop counts, the hops sum, AND every resolved
    final_url are closed-form exact."""
    from table_ocr_spark.operators.redirects import redirect_edges, resolve_redirects

    spark, n = run.spark, run.n
    # nn urls in B = nn/16 blocks; block b holds the 16-chain
    # p(16b+15) -> ... -> p(16b) (terminal). All urls of a block
    # share host h<b>, so the odd hops can use ROOT-RELATIVE
    # Locations ('/p<i-1>') and still resolve onto the chain.
    # Plus L detached self-loop urls. With max_hops=10: chain
    # positions 1-10 resolve to the block base (hops = position),
    # 11-15 exceed the bound -> loop, self-loops -> loop.
    B = n // 16
    nn = B * 16
    L = n // 100
    i = F.col("id")
    c = i % 16
    blk = (i / 16).cast("long")
    url = F.concat(
        F.lit("http://h"), blk.cast("string"),
        F.lit(".test/p"), i.cast("string"),
    )
    prev_abs = F.concat(
        F.lit("http://h"), blk.cast("string"),
        F.lit(".test/p"), (i - 1).cast("string"),
    )
    loc = (
        F.when(c == 0, F.lit(None).cast("string"))
        .when(c % 2 == 1, F.concat(F.lit("/p"), (i - 1).cast("string")))
        .otherwise(prev_abs)
    )
    chain_caps = spark.range(nn).select(
        url.alias("url"),
        F.when(c == 0, F.lit(200)).otherwise(F.lit(301)).alias(
            "http_status"
        ),
        loc.alias("redirect_location"),
    )
    loop_url = F.concat(
        F.lit("http://loop"), i.cast("string"), F.lit(".test/")
    )
    loop_caps = spark.range(L).select(
        loop_url.alias("url"),
        F.lit(301).alias("http_status"),
        loop_url.alias("redirect_location"),
    )
    caps = chain_caps.unionByName(loop_caps)
    with run.step("resolve_redirects", items=15 * B + L, unit="urls"):
        res = resolve_redirects(redirect_edges(caps), max_hops=10)
        agg = res.agg(
            F.count("*").alias("srcs"),
            F.sum(
                F.when(~F.col("redirect_loop"), 1).otherwise(0)
            ).alias("resolved"),
            F.sum(
                F.when(F.col("redirect_loop"), 1).otherwise(0)
            ).alias("looped"),
            F.sum("hops").alias("hops_sum"),
        ).collect()[0]
    assert agg.srcs == 15 * B + L, agg
    assert agg.resolved == 10 * B, agg
    assert agg.looped == 5 * B + L, agg
    assert agg.hops_sum == 55 * B, agg
    # every resolved final_url must equal its block base exactly
    exp = spark.range(nn).select(
        url.alias("url"),
        F.concat(
            F.lit("http://h"), blk.cast("string"),
            F.lit(".test/p"), (blk * 16).cast("string"),
        ).alias("exp_final"),
        c.alias("_c"),
    ).filter((F.col("_c") >= 1) & (F.col("_c") <= 10))
    n_match = (
        res.join(exp, "url")
        .filter(F.col("final_url") == F.col("exp_final"))
        .count()
    )
    assert n_match == 10 * B, (n_match, 10 * B)


@block(gb_per_m=48)
def cdx_merge(run):
    """P. incremental CDX merge: base index of 1M urls (64 files), then
    a 10k-capture single-site increment via merge_cdx — asserts only
    the site's candidate files were rewritten (everything else
    byte-identical) and times the merge against the full re-index of
    the union."""
    from table_ocr_spark.sources.cdx import (
        candidate_files,
        merge_cdx,
        read_cdx,
        write_cdx,
    )

    spark, n = run.spark, run.n
    base_dir = os.path.join(run.work, "base")
    out_dir = os.path.join(run.work, "merged")
    full_dir = os.path.join(run.work, "full")
    i = F.col("id")
    urls = spark.range(n).select(
        F.concat(
            F.lit("http://h"), (i % 100000).cast("string"),
            F.lit(".test/p"), i.cast("string"),
        ).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
    )
    with run.step("base_build", items=n, unit="urls"):
        write_cdx(urls, base_dir, n_files=64)
    base_bytes = {
        f: os.path.getsize(os.path.join(base_dir, f))
        for f in os.listdir(base_dir)
    }

    inc = spark.range(10_000).select(
        F.concat(
            F.lit("http://h777.test/new"), i.cast("string")
        ).alias("url"),
        F.to_timestamp(F.lit("2026-02-01 00:00:00")).alias("warc_ts"),
    )
    with run.step("merge_cdx", items=10_000, unit="captures"):
        merge_cdx(inc, base_dir, out_dir)
    cands = set(candidate_files(base_dir, "test,h777)"))
    changed = set()
    for f in os.listdir(out_dir):
        if not f.endswith(".gz"):
            continue
        same = (
            os.path.getsize(os.path.join(out_dir, f))
            == base_bytes.get(f)
            and open(os.path.join(out_dir, f), "rb").read()
            == open(os.path.join(base_dir, f), "rb").read()
        )
        if not same:
            changed.add(f)
    assert changed and changed <= cands, (changed, cands)
    n_merged = read_cdx(spark, out_dir).count()
    assert n_merged == n + 10_000, n_merged

    with run.step("full_reindex", items=n + 10_000, unit="urls"):
        write_cdx(
            urls.unionByName(inc), full_dir, n_files=64
        )


@block(gb_per_m=48)
def crawl_health(run):
    """Q. crawl health + chunking: crawl_health over 1M captures of
    100k hosts (closed-form outcome mix / distinct-url / digest-pair
    counts per host size), and chunk_documents over 1M docs with a
    closed-form chunk-count/token-sum grid."""
    from table_ocr_spark.operators.crawlstats import crawl_health
    from table_ocr_spark.operators.packing import chunk_documents

    spark, n = run.spark, run.n
    i = F.col("id")
    # 1M captures over 100k hosts (10 captures/host): urls repeat
    # with period 500000 (5 distinct paths per host), statuses
    # cycle by id%10 (6x 2xx, 1x 3xx, 1x 4xx, 1x 5xx, 1x NULL),
    # digest = the capture's epoch (id // 500000) so every capture
    # is a distinct (url, digest) pair: ud == n for n <= 1M. (An
    # id%2 digest COLLIDES: the url period 500000 is even, so both
    # epochs of a url share parity — caught by this assert's first
    # run.)
    caps = spark.range(n).select(
        F.concat(
            F.lit("http://h"), (i % 100000).cast("string"),
            F.lit(".test/p"), (i % 500000).cast("string"),
        ).alias("url"),
        F.when(i % 10 <= 5, F.lit(200))
        .when(i % 10 == 6, F.lit(301))
        .when(i % 10 == 7, F.lit(404))
        .when(i % 10 == 8, F.lit(503))
        .alias("http_status"),
        F.concat(
            F.lit("d"), (i / 500000).cast("long").cast("string")
        ).alias("digest"),
        F.repeat(F.lit("x"), 100).alias("html"),
    )
    with run.step("crawl_health", items=n, unit="caps"):
        h = crawl_health(caps, digest_col="digest", exact=True)
        agg = h.agg(
            F.count("*").alias("hosts"),
            F.sum("n_captures").alias("caps"),
            F.sum("n_urls").alias("urls"),
            F.sum("n_2xx").alias("x2"),
            F.sum("n_3xx").alias("x3"),
            F.sum("n_4xx").alias("x4"),
            F.sum("n_5xx").alias("x5"),
            F.sum("n_other").alias("oth"),
            F.sum("total_bytes").alias("b"),
            F.sum("n_url_digests").alias("ud"),
        ).collect()[0]
    H = min(n, 100000)
    assert agg.hosts == H and agg.caps == n, agg
    assert agg.urls == min(n, 500000), agg
    assert (agg.x2, agg.x3, agg.x4, agg.x5, agg.oth) == (
        6 * n // 10, n // 10, n // 10, n // 10, n // 10,
    ), agg
    assert agg.b == 100 * n and agg.ud == n, agg

    with run.step("chunk_documents", items=n):
        # docs of 0/30/75/120 tokens by id%4 -> chunks 0/1/2/3 at
        # max=50 stride=40 (75: ceil(25/40)+1=2; 120: ceil(70/40)+1=3)
        ntok = (i % 4) * 15 + (i % 4 > 1).cast("int") * (
            (i % 4) * 15 - 30
        )
        # sequence(1, 0) DESCENDS (the chunk operator's own pinned
        # trap) -> empty-doc rows need the explicit empty array
        words = F.when(
            ntok > 0, F.sequence(F.lit(1), ntok)
        ).otherwise(F.array().cast("array<long>"))
        docs = spark.range(n).select(
            i.alias("doc_id"),
            F.array_join(
                F.transform(
                    words,
                    lambda j: F.concat(F.lit("w"), j.cast("string")),
                ),
                " ",
            ).alias("text"),
        )
        ch = chunk_documents(docs, max_tokens=50, overlap=10)
        got = ch.groupBy((F.col("doc_id") % 4).alias("m")).agg(
            F.count("*").alias("nc"), F.sum("chunk_tokens").alias("tk")
        ).collect()
    got = {r.m: (r.nc, r.tk) for r in got}
    q = n // 4  # docs per residue class (n % 4 == 0 at 1M)
    # m=0: 0 tokens -> no rows; m=1: 15*1=15 tokens... recompute:
    # token count = (m*15) + (m>1)*(m*15-30): m=1 -> 15, m=2 ->
    # 30+0=30, m=3 -> 45+15=60. chunks at max50/stride40: 15->1,
    # 30->1, 60->2 (covers 0..50 + 40..60 => tokens 50+20=70)
    assert 0 not in got, got
    assert got[1] == (q, 15 * q), got
    assert got[2] == (q, 30 * q), got
    assert got[3] == (2 * q, 70 * q), got


@block(gb_per_m=48)
def wat_sidecar(run):
    """R. WAT sidecar: write_wat 1M pages → 64 .warc.wat.gz files, read
    back through read_wat; record / link / nofollow counts closed-form
    exact and sampled envelopes field-exact."""
    from table_ocr_spark.sources.wat import read_wat, write_wat

    spark, n, did = run.spark, run.n, F.col("doc_id")
    dids = did.cast("string")
    html = F.concat(
        F.lit("<html><head><title>Page "), dids,
        F.lit("</title></head><body>"),
        F.lit('<a href="http://x.test/a'), dids, F.lit('">l</a>'),
        F.lit('<a href="/rel/'), dids, F.lit('">r</a>'),
        F.lit('<a href="http://y.test/nf" rel="nofollow">n</a>'),
        F.lit("</body></html>"),
    )
    pages = run.base.select(
        F.concat(F.lit("http://h"), (did % 1000).cast("string"),
                 F.lit(".test/p"), dids).alias("url"),
        F.lit("2026-01-01T00:00:00Z").alias("warc_ts"),
        html.cast("binary").alias("html"),
    ).persist()
    pages.count()
    out = os.path.join(run.work, "wat")
    with run.step("write_wat", items=n, unit="pages"):
        manifest = write_wat(pages, out, n_files=64)
    recs = manifest.collect()
    n_recs = sum(r["n_records"] for r in recs)
    assert n_recs == n, n_recs
    with run.step("read_wat", items=n, unit="recs"):
        back = read_wat(spark, out + "/*.warc.wat.gz")
        got = back.agg(
            F.count("*").alias("n"),
            F.sum(F.size("links")).alias("lk"),
            F.sum(F.size(F.filter(
                "links", lambda x: x["nofollow"]
            ))).alias("nf"),
        ).collect()[0]
    # closed-form: 3 links per page, exactly 1 nofollow each
    assert got.n == n and got.lk == 3 * n and got.nf == n, got
    sample = {
        r["url"]: r
        for r in back.filter(
            F.xxhash64("url") % 10_000 == 0
        ).collect()
    }
    assert sample
    for u, r in sample.items():
        i = u.rsplit("p", 1)[1]
        assert r["title"] == f"Page {i}"
        assert [x["url"] for x in r["links"]] == [
            f"http://x.test/a{i}", f"/rel/{i}",
            "http://y.test/nf",
        ]


@block(gb_per_m=48)
def revisit_resolve(run):
    """S. revisit resolution: resolve_revisits over ~1M records — 80%
    responses (unique digests), 10% revisits each pointing at a
    specific response, 10% revisits with dangling digests;
    resolved/unresolved/passthrough counts and every sampled donor
    payload closed-form exact."""
    from table_ocr_spark.sources.warc import resolve_revisits

    n, did = run.n, F.col("doc_id")
    # grid: id%10==0 -> revisit of response id+1; id%10==5 ->
    # revisit with a dangling digest; everything else a response
    # with a unique digest and a payload derived from its id
    is_rev_ok = did % 10 == 0
    is_rev_gone = did % 10 == 5
    records = run.base.select(
        F.when(is_rev_ok | is_rev_gone, F.lit("revisit"))
        .otherwise(F.lit("response")).alias("warc_type"),
        F.concat(F.lit("http://h"), (did % 997).cast("string"),
                 F.lit(".test/p"), did.cast("string")).alias("url"),
        F.when(is_rev_ok | is_rev_gone,
               F.lit("2026-02-01T00:00:00Z"))
        .otherwise(F.lit("2026-01-01T00:00:00Z")).alias("warc_ts"),
        F.when(is_rev_ok | is_rev_gone, F.encode(F.lit(""), "UTF-8"))
        .otherwise(F.encode(
            F.concat(F.lit("<html>"), did.cast("string"),
                     F.lit("</html>")), "UTF-8")).alias("html"),
        F.when(is_rev_ok,
               F.concat(F.lit("sha256:r"), (did + 1).cast("string")))
        .when(is_rev_gone,
              F.concat(F.lit("sha256:gone"), did.cast("string")))
        .otherwise(
            F.concat(F.lit("sha256:r"), did.cast("string"))
        ).alias("payload_digest"),
    ).persist()
    records.count()

    with run.step("resolve_revisits", items=n, unit="recs"):
        out = resolve_revisits(records).persist()
        got = out.agg(
            F.count("*").alias("n"),
            F.sum(F.col("revisit_resolved").cast("int")).alias("res"),
            F.sum((~F.col("revisit_resolved")).cast("int")).alias("un"),
            F.sum(F.col("revisit_resolved").isNull().cast("int")
                  ).alias("thru"),
        ).collect()[0]
    exp_rev = len(range(0, n, 10))
    exp_gone = len(range(5, n, 10))
    assert got.n == n, got
    assert got.res == exp_rev and got.un == exp_gone, got
    assert got.thru == n - exp_rev - exp_gone, got
    sample = out.where(
        F.coalesce(F.col("revisit_resolved"), F.lit(False))
        & (F.xxhash64("url") % 1_000 == 0)
    ).collect()
    assert sample
    for r in sample:
        i = int(r["url"].rsplit("p", 1)[1])
        assert bytes(r["html"]).decode() == f"<html>{i + 1}</html>", r
        assert r["revisit_of_url"].endswith(f"p{i + 1}"), r


# ------------------------------------------------ sf-replica corpora
@block(confs=SMALL_SPLITS)
def scale(run):
    """Large-corpus rehearsal: the recorded evidence that the operator
    plans survive well past bench SF (BASELINE.md "Scale rehearsal"
    rows). Round 3 adds the training-shard sink (VERDICT r2 #10): pack
    1M documents into fixed-capacity sequences and materialize the
    sorted per-shard parquet layout, so the two-phase prefix sum AND
    the shard write pattern have a recorded large-corpus number like
    extract/dedup do.

    Builds the corpus once (base documents replicated with unique
    ids, text quadrupled so kernel work dominates task constants),
    then times:
      extract          — map-only Arrow kernel over 1M pages
      exact_dedup      — (xxhash64, md5)-keyed clustering over 1M docs
      line_repetition  — map-only dup-line kernel over 1M docs
      novel_documents  — 500k new anti-joined against 500k seen
      dsir_weights     — hashed-bigram LLR over 1M docs (1% target slice)
      blocked_hosts    — 1M REAL-host urls vs a 10k-entry list
      bm25 + splits    — 2-query, stop-word and 32-query batches;
                         eTLD+1 assign_splits with subdomain cohesion
      tiers+budget     — score_tiers + exact token-budget sample over 1M docs
      duplicate_clusters — CC over ~400k edges incl. a 10k-node chain
      cluster_survivors  — best-score survivor per cluster over 1M docs
      pack+shards      — pack_sequences + write_training_shards over 1M docs
    """
    from table_ocr_spark.operators.dedup import (
        cluster_survivors,
        duplicate_clusters,
        exact_dedup,
        novel_documents,
    )
    from table_ocr_spark.operators.docpages import documents_as_pages
    from table_ocr_spark.operators.extract import extract_documents
    from table_ocr_spark.operators.importance import dsir_weights
    from table_ocr_spark.operators.packing import pack_sequences, write_training_shards
    from table_ocr_spark.operators.retrieval import bm25_topk
    from table_ocr_spark.operators.sampling import token_budget_sample
    from table_ocr_spark.operators.splits import assign_splits
    from table_ocr_spark.operators.textstats import line_repetition_stats, token_stats
    from table_ocr_spark.operators.tiers import score_tiers
    from table_ocr_spark.operators.urlnorm import filter_blocked_hosts

    spark, work = run.spark, run.work

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    heavy = run.docs().withColumn(
        "text", F.concat_ws(" ", "text", "text", "text", "text")
    )
    docs_path = os.path.join(work, "docs")
    replicate(heavy, run.n).repartition(64).write.parquet(docs_path)
    big = spark.read.parquet(docs_path)
    n_total = big.count()
    pages_path = os.path.join(work, "pages")
    documents_as_pages(big).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    with run.step("extract", items=n_total):
        noop(extract_documents(pages))
    with run.step("exact_dedup", items=n_total):
        noop(exact_dedup(big))
    with run.step("line_repetition", items=n_total):
        noop(line_repetition_stats(big))
    seen = big.filter(F.col("doc_id") % 2 == 0)
    new = big.filter(F.col("doc_id") % 2 == 1)
    with run.step("novel_documents", items=n_total):
        noop(novel_documents(new, seen))
    dsir_target = big.filter(F.col("doc_id") % 100 == 0)
    with run.step("dsir_weights", items=n_total):
        noop(dsir_weights(big, dsir_target))

    # REAL hosts (documents_as_pages pins its own 'doc:<id>' urls,
    # which are hostless and would make this a no-op pass-through —
    # review r3 pass 4): ~20k distinct hosts, some subdomained, a
    # few percent matching the list
    urls = big.select(
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("cdn.")).otherwise(F.lit("")),
            F.lit("host"),
            (F.col("doc_id") % 20_000).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    blist = [f"host{i}.example.com" for i in range(10_000)]
    with run.step("blocked_hosts", items=n_total, unit="urls") as s:
        kept = filter_blocked_hosts(urls, blist).count()
        s.note = f"kept {kept} (10k-entry list)"

    qdf = spark.createDataFrame(
        [("q1", "dup merge scan"), ("q2", "spark hash join")],
        "query_id string, query_text string",
    )
    with run.step("bm25_topk_2q"):
        top = bm25_topk(big, qdf, k=10, max_df_ratio=1.0)
        n_top = top.count()
    assert n_top == 20, "bm25 should fill k for both queries"

    # stop-word-heavy query (r4 verdict #2): the highest-df corpus
    # term makes EVERY doc a candidate at max_df_ratio=1.0; the
    # two-phase top-k must keep this from funneling 1M candidate
    # rows through one reducer
    by_df = (
        big.select(F.explode(F.array_distinct(
            F.split(F.col("text"), r"\s+"))).alias("t"))
        .where(F.col("t") != "")
        .groupBy("t").count().orderBy(F.desc("count"))
    )
    top_term = by_df.first()
    stop_q = spark.createDataFrame(
        [("sw", f"{top_term['t']} dup merge")],
        "query_id string, query_text string",
    )
    with run.step("bm25_topk_stopword") as s:
        n_sw = bm25_topk(big, stop_q, k=10, max_df_ratio=1.0).count()
        s.note = f"term {top_term['t']!r}: df {top_term['count']}/{n_total}"
    assert n_sw == 10

    # a 32-query labeling batch (~96 usable terms): the kernel
    # pays one token pass per doc for the whole batch
    # skip stop words, keep mid-df terms
    words = [r["t"] for r in by_df.limit(120).collect()][20:116]
    batch = spark.createDataFrame(
        [(f"b{i}", " ".join(words[3 * i:3 * i + 3]))
         for i in range(32)],
        "query_id string, query_text string",
    )
    with run.step("bm25_topk_32q") as s:
        n_b = bm25_topk(big, batch, k=10, max_df_ratio=1.0).count()
        s.note = f"{n_b} rows"

    # eTLD+1 default (r4): subdomained urls over 20k distinct
    # registrable sites — www./cdn. of one site must cohere
    split_urls = big.select(
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("www.")).otherwise(
                F.lit("cdn.")
            ),
            F.lit("site"),
            (F.col("doc_id") % 20_000).cast("string"),
            F.lit(".co.uk/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    with run.step("assign_splits", items=n_total, unit="urls") as s:
        split_counts = {
            r["split"]: r["c"]
            for r in assign_splits(split_urls, {"val": 0.1, "test": 0.1})
            .groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        s.note = f"{split_counts}"
    assert set(split_counts) == {"train", "val", "test"}
    # subdomain cohesion: no registrable site straddles splits
    straddlers = (
        assign_splits(split_urls, {"val": 0.1, "test": 0.1})
        .select(
            F.regexp_extract("url", r"(site\d+\.co\.uk)", 1).alias("s"),
            "split",
        )
        .groupBy("s")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddlers == 0, f"{straddlers} sites straddle splits"

    with run.step("tiers+budget", items=n_total) as s:
        tiers = score_tiers(token_stats(big), "quality_score", n_tiers=4)
        # 100 kept tokens/doc against ~200 actual (4x text): the
        # budget keeps about half at any N (100M at 1M docs)
        kept_budget = token_budget_sample(
            tiers, budget=100 * run.n, strata_col="tier",
            weight_col="n_tokens",
        )
        n_kept = kept_budget.count()
        s.note = f"kept {n_kept}"
    assert 0 < n_kept < n_total, "budget sample kept everything/nothing"

    # dup-pair graph: ~40% of docs in 2-3-node chains PLUS one
    # 10k-node chain that forces pointer jumping through ~14
    # rounds — the worst realistic diameter stress
    short_chains = big.select("doc_id").filter(
        (F.col("doc_id") % 5) < 2
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
    )
    long_chain = spark.range(9_999).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    cc_pairs = short_chains.union(long_chain)
    with run.step("duplicate_clusters", items=n_total):
        clusters = duplicate_clusters(big, cc_pairs)
        noop(clusters)
    with run.step("cluster_survivors", items=n_total):
        scores = big.select(
            "doc_id", F.length("text").cast("double").alias("quality_score")
        )
        noop(cluster_survivors(clusters, scores))

    shard_path = os.path.join(work, "shards")
    with run.step("pack+shards", items=n_total):
        packed = pack_sequences(big, capacity=2048)
        write_training_shards(packed, shard_path, seqs_per_shard=1024)
    out = spark.read.parquet(shard_path)
    # spot-check the sink contract: rows inside a shard are
    # start_offset-sorted (loader streams with zero sorting)
    one = (
        out.filter(F.col("shard") == out.select(F.min("shard")).first()[0])
        .select("start_offset").toPandas()["start_offset"].tolist()
    )
    assert one == sorted(one), "shard not sorted by start_offset"


@block(confs=SMALL_SPLITS)
def tier_chain(run):
    """Full-tier-chain rehearsal (VERDICT r3 #6): raw pages -> extract
    -> quality -> exact dedup -> minhash CC closure -> survivors -> PII
    -> tiers -> token budget -> tier=K/ layout -> per-tier packed shard
    sets, one composition end to end at 1M pages.

    Corpus shape matters here: the scale block's pure-replica corpus
    is the dedup WORST case (every replica exact-identical), so exact
    dedup collapses 1M -> ~5k and the tier/budget/shard stages
    downstream see almost nothing — fine for the dedup stages, useless
    as evidence for the rest of the chain. This block builds the
    realistic crawl mix instead (crawl_mix)."""
    from table_ocr_spark.operators.docpages import documents_as_pages
    from table_ocr_spark.pipelines import build_training_corpus, materialize_tiered_corpus

    spark, target = run.spark, run.n
    # base-weight text (~1.6 KB/doc — realistic web-page extract),
    # NOT the 4x-quadrupled corpus the scale block uses: at 1M
    # near-unique docs the MinHash verify stage shuffles the shingle
    # sets, and 4x text quadruples that exchange past the rehearsal
    # host's ~80 GB scratch space (measured: the quadrupled run died
    # on ENOSPC in the CC init). Doc COUNT is the axis this block
    # pins; per-doc weight is the scale block's.
    pages = documents_as_pages(crawl_mix(run.docs(), target))
    pages_path = os.path.join(run.work, "pages")
    pages.repartition(64).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    n_total = pages.count()

    with run.step("full_tier_chain", items=n_total, unit="pages") as s:
        # ~10 kept tokens/doc against ~50 actual tokens/doc -> the
        # budget stage genuinely down-samples (~20%) at any corpus size
        corpus, rep = build_training_corpus(
            pages, n_tiers=4, token_budget=10 * target
        )
        chain_path = os.path.join(run.work, "tiered")
        chain_report = materialize_tiered_corpus(corpus, chain_path)
        n_chain_docs = sum(t["n_docs"] for t in chain_report.values())
        s.note = (f"{n_chain_docs} docs in {len(chain_report)} tiers "
                  f"({ {t: x['n_shards'] for t, x in chain_report.items()} } "
                  f"shards); stages: {rep}")
    assert n_chain_docs == rep.n_after_budget
    assert set(chain_report) == set(range(4))
    # the mix must have exercised every stage: exact dedup collapses
    # only the 8% exact class (each base keeps one survivor), the
    # near-dup class must survive exact dedup and die in CC closure,
    # and the budget stage must have actually down-sampled
    assert 0.88 * n_total < rep.n_after_exact_dedup < 0.94 * n_total, rep
    assert rep.n_after_near_dedup < rep.n_after_exact_dedup, rep
    assert 0 < rep.n_after_budget < rep.n_after_near_dedup, rep

    # layout contract: planning-time partition pruning on tier=K/
    one_tier = spark.read.parquet(os.path.join(chain_path, "corpus"))
    pruned = one_tier.filter(F.col("tier") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "tier" in plan


# local mode concentrates EVERY executor's storage in one JVM: at 4M
# docs the default 8g heap hit storage-eviction thrash in the
# near-dup→CC region and a Python worker crash. ~6 GB per 1M docs of
# this mix keeps the persisted edge/label frames resident.
@block(gb_per_m=6, confs=SMALL_SPLITS)
def north_star(run):
    """North-star single-call rehearsal (round-5 judge task #6): real
    .warc.gz container bytes in → loader-ready packed shard sets out,
    through ONE public call (`pipelines.crawl_to_shards`), timed end to
    end with closed-form asserts and the per-stage audit counts.

    The stages are individually rehearsed by the crawl-stack blocks and
    tier_chain; the number this block pins is the missing headline:
    container-bytes → shards in one composition, no intermediate
    materialization between ingest and the corpus builder.

    Corpus: the tier-chain realistic mix (crawl_mix), wrapped into
    per-record gzip members across 256 .warc.gz files — the CC layout
    the ingest path consumes at file grain.

    TOS_CHECKPOINT_DIR=1 routes every plan cut (stage leaves and the CC
    rounds) through the RELIABLE checkpoint branch (checkpoint(eager=
    True), dedup._truncate_plan) — the cluster-deployment path that
    survives executor loss — instead of the sandbox default
    localCheckpoint. Set it to a path to use that path verbatim. The
    checkpoint dir stays set for the blocks that run after this one.
    The shard digest line lets two runs (either path, any commit)
    compare their shards."""
    import glob as _g

    from table_ocr_spark.pipelines import crawl_to_shards
    from table_ocr_spark.sources.warc import warc_record_expr

    spark, target = run.spark, run.n
    ckpt = os.environ.get("TOS_CHECKPOINT_DIR")
    if ckpt:
        ckpt_dir = ckpt if ckpt != "1" else os.path.join(run.root, "ckpt")
        spark.sparkContext.setCheckpointDir(ckpt_dir)
        print(f"reliable checkpoint dir: {ckpt_dir}")
    mixed = crawl_mix(run.docs(), target)
    recs = mixed.select(
        "doc_id",
        warc_record_expr(
            F.concat(
                F.lit("https://north.example/"),
                F.col("doc_id").cast("string"),
            ),
            F.lit("2026-01-01T00:00:00Z"),
            F.concat(
                F.lit("<article><p>"), F.col("text"),
                F.lit("</p></article>"),
            ),
        ).alias("rec"),
    )
    warc_dir = os.path.join(run.work, "warc")
    with run.step("build") as s:
        built = write_warc(recs, warc_dir, n_files=256)
        s.items = built.n
        s.note = f"{built.files} .warc.gz files, {built.bytes / 1e6:.0f} MB"
    n_total = int(built.n)

    # ---------------- THE single call: container bytes -> shards
    out = os.path.join(run.work, "tiered")
    with run.step("crawl_to_shards", items=n_total) as s:
        rep = crawl_to_shards(
            spark,
            warc_dir + "/*.warc.gz",
            out,
            n_tiers=4,
            token_budget=10 * target,
        )
        c = rep["corpus"]
        n_shard_docs = sum(t["n_docs"] for t in rep["tiers"].values())
        s.note = (f"{n_shard_docs} docs in {len(rep['tiers'])} tiers; "
                  f"stages: {c}")

    # closed-form asserts (the tier-chain mix contract)
    assert c.n_input == n_total, (c.n_input, n_total)
    assert c.n_extracted == n_total, c
    assert 0.88 * n_total < c.n_after_exact_dedup < 0.94 * n_total, c
    assert c.n_after_near_dedup < c.n_after_exact_dedup, c
    assert 0 < c.n_after_budget < c.n_after_near_dedup, c
    assert n_shard_docs == c.n_after_budget
    assert set(rep["tiers"]) == set(range(4)), rep["tiers"]
    # shard files really exist under shards/tier=K/
    files = _g.glob(f"{out}/shards/tier=*/**/*.parquet", recursive=True)
    assert files, "no shard parquet written"
    # order-free digest of every shard row: two runs (local vs reliable
    # checkpoints, or two commits) wrote the same shards iff it matches
    shards = spark.read.parquet(f"{out}/shards")
    n_rows, digest = shards.agg(
        F.count(F.lit(1)), F.bit_xor(F.xxhash64(*shards.columns))
    ).first()
    print(f"north_star shard digest: {n_rows} rows, {digest}", flush=True)


@block(confs=SMALL_SPLITS)
def span_removal(run):
    """remove_duplicate_spans (the round-4 ExactSubstr-removal
    operator). Two corpus regimes, because the operator's cost has two
    distinct worst axes:

      realistic — per-doc salted-unique bodies (the crawl_mix salt:
                  cross-doc gram overlap ~0) with a fixed 10-token
                  passage planted at the FRONT of 10% of docs.
                  Expected removal is closed-form: grams inside the
                  passage are hot, grams straddling the passage/body
                  boundary contain salted tokens and stay unique, so
                  EXACTLY the 10 planted tokens drop per planted doc
                  (asserted in-run). This regime stresses the gram-count
                  exchange (~50M gram instances) with a tiny hot set.
      degenerate — every doc identical (the scale block's pure-replica
                  shape): every position covered, the kernel strips
                  100% of every doc. Maximum covered-position traffic
                  and maximum kernel work; the hot-gram set is tiny.
                  The worst case must be a slope, not a cliff."""
    from table_ocr_spark.operators.dedup import remove_duplicate_spans

    spark = run.spark
    replicated = replicate(run.docs(), run.n)
    # salted-unique body (the crawl_mix salt, minus the permutation —
    # position order is irrelevant to gram uniqueness)
    salted = F.array_join(F.transform(F.split(F.col("text"), " "), salt), " ")
    # the passage is followed by a PER-DOC-UNIQUE separator token:
    # without it, the boundary gram "…theta iota kappa <body0>" carries
    # only ONE salted token, and body0's value space (the ~31-word base
    # vocabulary x 9973 salts ~= 309k) collides birthday-style across
    # 100k planted docs (~28% gained a spurious +1 covered token when
    # this rehearsal first ran without the separator) — the separator
    # makes every passage/body boundary gram globally unique, so the
    # expected drop count is exactly closed-form
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    realistic = replicated.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.lit(passage + " uq"),
                F.col("doc_id").cast("string"),
                F.lit(" "),
                salted,
            ),
        ).otherwise(salted).alias("text"),
    )
    realistic.write.parquet(os.path.join(run.work, "realistic"))
    realistic = spark.read.parquet(os.path.join(run.work, "realistic"))
    n_total = realistic.count()
    n_planted = realistic.filter(F.col("doc_id") % 10 == 0).count()

    with run.step("realistic", items=n_total) as s:
        out = remove_duplicate_spans(realistic, k=5)
        agg = out.agg(
            F.sum("n_dropped").alias("drop"),
            F.sum(F.when(F.col("n_dropped") > 0, 1).otherwise(0)).alias("touched"),
        ).collect()[0]
        s.note = f"{agg['touched']} docs touched, {agg['drop']} tokens dropped"
    assert agg["touched"] == n_planted, (agg, n_planted)
    assert agg["drop"] == 10 * n_planted, (agg, n_planted)

    degenerate = replicated.select(
        "doc_id", F.lit("one two three four five six seven eight").alias("text")
    )
    degenerate.write.parquet(os.path.join(run.work, "degenerate"))
    degenerate = spark.read.parquet(os.path.join(run.work, "degenerate"))
    degenerate.count()
    with run.step("degenerate", items=n_total):
        dout = remove_duplicate_spans(degenerate, k=5)
        dagg = dout.agg(
            F.sum("n_dropped").alias("drop"), F.sum("n_kept").alias("kept")
        ).collect()[0]
    assert dagg["kept"] == 0 and dagg["drop"] == 8 * n_total, dagg


@block()
def webfilter(run):
    """operators/webfilter (C4 line cleaning + Gopher line-shape
    rules). Both operators are map-only, so the claim to rehearse is
    THROUGHPUT, not shuffle shape: the per-line HOF predicates run
    interpreted, and the question is whether a linear interpreted pass
    over ~8 lines/doc holds a crawl-scale rate on 32 cores (at 1000
    executors the same per-core rate is the whole story — there is no
    exchange to degrade).

    The corpus is the contract query's synthesized multi-line shape
    (__spark_entry__._webtext_synth) replicated to the target count, so
    the rehearsal exercises exactly the rule mix the oracle verifies:
    kept / short / blocklisted / unpunctuated / bullet / ellipsis lines
    plus doc_id-keyed lorem-ipsum and brace flags. Expected counts are
    closed-form in doc_id and asserted in-run."""
    import __spark_entry__ as em
    from table_ocr_spark.operators.webfilter import c4_clean, gopher_line_rules

    pages = em._webtext_synth(replicate(run.docs(), run.n)).persist()
    n_docs = pages.count()

    with run.step("c4_clean", items=n_docs) as s:
        agg = c4_clean(pages).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c4_pass").cast("long")).alias("n_pass"),
            F.sum("n_kept").alias("kept"),
            F.sum(F.col("has_doc_blocklist").cast("long")).alias("n_lorem"),
            F.sum(F.col("has_brace").cast("long")).alias("n_brace"),
        ).collect()[0]
        s.note = (f"pass={agg.n_pass} lorem={agg.n_lorem} "
                  f"brace={agg.n_brace} kept_lines={agg.kept}")
    # closed form: every doc keeps 4 lines (first/bullet/closing/final)
    # except %11 docs whose brace line fails terminal punct (3 kept);
    # %7 docs swap 'closing' for the lorem line (still kept). Flags:
    # lorem on %7, brace on %11; c4_pass iff neither flag (min-kept 3
    # is met by every doc).
    # replication keeps doc_id dense 0..n_docs-1, so the %7/%11
    # populations are closed-form ceilings (inclusion-exclusion)
    n7 = (n_docs + 6) // 7
    n11 = (n_docs + 10) // 11
    n_both = n7 + n11 - (n_docs + 76) // 77
    assert agg.n == n_docs
    assert agg.n_lorem == n7, (agg.n_lorem, n7)
    assert agg.n_brace == n11, (agg.n_brace, n11)
    assert agg.n_pass == n_docs - n_both, (agg.n_pass, n_docs - n_both)
    assert agg.kept == 4 * n_docs - n11, (agg.kept, 4 * n_docs - n11)

    with run.step("gopher_line_rules", items=n_docs) as s:
        gagg = gopher_line_rules(pages).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("gopher_line_pass").cast("long")).alias("n_pass"),
            F.sum("n_stopword_types").alias("stop_sum"),
        ).collect()[0]
        s.note = f"pass={gagg.n_pass} stop_sum={gagg.stop_sum}"
    assert gagg.n == n_docs


@block()
def classifier(run):
    """Hashed-ngram linear quality classifier
    (operators/importance.apply_linear_model + train_quality_classifier)
    and the multiclass lang-id head.

    Claims to rehearse:
    - the model build stays B-bounded: two explode→groupBy(bucket)
      aggregates whose exchange carries ≤ n_buckets rows per partition
      regardless of corpus size (the weight table is then ≤ B rows,
      broadcast);
    - scoring is one corpus-feature-stream pass with a single id-keyed
      exchange of partial (sum, count) pairs — throughput should track
      the DSIR scorer, which shares the plan shape;
    - correctness holds closed-form at scale: replicas of the same
      document text must receive EXACTLY the same score as the original
      (the score is a pure function of the text), and the pos-slice mean
      score must exceed the neg-slice mean (the training objective).

    Corpus: sf documents replicated to the target count with doc_id
    re-keyed (text repeats — the production case where near-identical
    boilerplate dominates the feature stream and bucket counts are
    heavy-hitter skewed; map-side combine is what absorbs it)."""
    from table_ocr_spark.operators.importance import (
        apply_langid_model,
        apply_linear_model,
        train_langid_classifier,
        train_quality_classifier,
    )

    docs = run.docs().select("doc_id", F.col("doc_id").alias("base_id"), "text")
    corpus = replicate(docs, run.n).repartition(64).persist()
    n_corpus = corpus.count()

    pos = corpus.filter(F.col("base_id") % 10 == 0)
    neg = corpus.filter(F.col("base_id") % 10 != 0)

    with run.step("train") as s:
        weights = train_quality_classifier(pos, neg).persist()
        n_w = weights.count()
        s.note = f"weight rows: {n_w}"
    assert n_w <= 10_000, n_w

    with run.step("score", items=n_corpus):
        scored = apply_linear_model(corpus, weights).persist()
        n_scored = scored.count()
    assert n_scored == n_corpus, (n_scored, n_corpus)

    # closed-form: replicas of one base text share one exact score
    j = scored.join(
        corpus.select("doc_id", "base_id"), "doc_id"
    )
    distinct_per_base = (
        j.groupBy("base_id")
        .agg(F.count_distinct("quality_score").alias("k"))
        .agg(F.max("k"))
        .collect()[0][0]
    )
    assert distinct_per_base == 1, (
        f"replica scores diverged: {distinct_per_base} distinct per base"
    )
    means = (
        j.groupBy((F.col("base_id") % 10 == 0).alias("is_pos"))
        .agg(F.avg("quality_score").alias("m"))
        .collect()
    )
    m = {r["is_pos"]: r["m"] for r in means}
    assert m[True] > m[False], m

    # ---- multiclass lang-id leg -----------------------------------
    # Same corpus with PLANTED language classes: class = base_id % 3,
    # marked by a class-specific token run appended to the text (one
    # distinct marker bigram per class, bucket-verified disjoint
    # below). NB must recover the planted label: the marker bigram is
    # frequent inside its class and UNSEEN in the others, so its
    # log-prob vs the unseen default dominates any shared-vocab noise
    # — a closed-form expectation that holds at any corpus size.
    markers = {0: "zqa", 1: "xqb", 2: "wqc"}
    langs = {0: "aa", 1: "bb", 2: "cc"}
    # marker bigram buckets must be pairwise distinct or the classes
    # alias (pinned hash: ((31*len + 7*first + last) * K) % 2^32 % B)
    bks = {
        ((7 * 31 + 7 * ord(t[0]) + ord(t[-1])) * 2654435761 % (1 << 32))
        % 10_000
        for t in markers.values()
    }
    assert len(bks) == 3, f"marker buckets collided: {bks}"

    lang_expr = (
        F.when(F.col("base_id") % 3 == 0, F.lit(langs[0]))
        .when(F.col("base_id") % 3 == 1, F.lit(langs[1]))
        .otherwise(F.lit(langs[2]))
    )
    mark_expr = (
        F.when(F.col("base_id") % 3 == 0, F.lit(f" {markers[0]} {markers[0]} {markers[0]} {markers[0]}"))
        .when(F.col("base_id") % 3 == 1, F.lit(f" {markers[1]} {markers[1]} {markers[1]} {markers[1]}"))
        .otherwise(F.lit(f" {markers[2]} {markers[2]} {markers[2]} {markers[2]}"))
    )
    lcorpus = corpus.select(
        "doc_id",
        "base_id",
        F.concat(F.col("text"), mark_expr).alias("text"),
        lang_expr.alias("lang"),
    ).persist()
    lcorpus.count()

    with run.step("langid_train") as s:
        lmodel = train_langid_classifier(
            lcorpus.filter(F.col("base_id") % 10 < 8)
        ).persist()
        n_lm = lmodel.count()
        s.note = f"model rows: {n_lm}"
    assert n_lm <= 10_000 * 3 + 2 * 3, n_lm  # <= B*C + 2C by construction

    with run.step("langid_score", items=n_corpus):
        lpred = apply_langid_model(lcorpus, lmodel).persist()
        n_lp = lpred.count()
    assert n_lp == n_corpus, (n_lp, n_corpus)

    lj = lpred.join(lcorpus.select("doc_id", "base_id", "lang"), "doc_id")
    # replicas of one base text must predict identically (pure text fn)
    ldistinct = (
        lj.groupBy("base_id")
        .agg(
            F.count_distinct("lang_pred").alias("kp"),
            F.count_distinct("lang_logprob").alias("ks"),
        )
        .agg(F.max("kp").alias("mp"), F.max("ks").alias("ms"))
        .collect()[0]
    )
    assert ldistinct["mp"] == 1 and ldistinct["ms"] == 1, dict(ldistinct.asDict())
    acc_row = lj.agg(
        F.avg((F.col("lang_pred") == F.col("lang")).cast("double")).alias("a")
    ).collect()[0]
    acc = acc_row["a"]
    assert acc >= 0.99, f"planted-label recovery accuracy {acc}"


@block()
def bpe(run):
    """BPE tokenizer swap-in (operators/bpe.train_bpe + bpe_token_count
    + pack_sequences weight integration).

    Claims to rehearse:
    - training's only distributed work is the bounded top-N sample scan
      (TakeOrderedAndProject) — wall time must be dominated by the
      driver-side merge loop and INDEPENDENT of corpus size;
    - counting is a map-only Arrow kernel with ZERO exchange, so
      throughput is pure CPU and the per-worker word cache must make the
      replicated corpus (the production boilerplate case) run at cache
      speed: every replica of a base text re-uses the distinct-word
      encodings;
    - correctness holds closed-form at scale: replicas of one base text
      get EXACTLY the same token count (pure text function), every count
      is >= the whitespace word count (merges only join within words,
      and each word carries an EOW symbol), and the BPE weights drive
      pack_sequences to a total equal to sum(n_bpe_tokens) — the
      swap-in contract."""
    from table_ocr_spark.operators.bpe import bpe_token_count, train_bpe
    from table_ocr_spark.operators.packing import pack_sequences
    from table_ocr_spark.operators.textstats import tokens

    docs = run.docs().select("doc_id", F.col("doc_id").alias("base_id"), "text")
    corpus = replicate(docs, run.n).repartition(64).persist()
    n_corpus = corpus.count()

    with run.step("train") as s:
        merges = train_bpe(corpus, n_merges=512, sample_docs=20_000)
        s.note = f"{len(merges)} merges learned on a 20k-doc sample"
    # the synthetic corpus has a small closed vocabulary, so training
    # legitimately exhausts (every sampled word fully merged) before
    # 512 merges; on real web text it runs to the requested count
    assert 0 < len(merges) <= 512, len(merges)

    with run.step("count", items=n_corpus):
        counted = bpe_token_count(corpus, merges).persist()
        n_counted = counted.count()
    assert n_counted == n_corpus

    # closed-form: replica-count exactness + per-doc lower bound
    bad = (
        counted.groupBy("base_id")
        .agg(F.count_distinct("n_bpe_tokens").alias("k"))
        .filter(F.col("k") != 1)
        .count()
    )
    assert bad == 0, f"{bad} base texts with diverging replica counts"
    under = counted.filter(
        F.col("n_bpe_tokens") < F.size(tokens(F.col("text")))
    ).count()
    assert under == 0, f"{under} docs counted below their word count"

    # swap-in contract: BPE weights drive packing; conservation holds
    with run.step("pack", items=n_corpus):
        packed = pack_sequences(
            counted, capacity=2048, weight_col="n_bpe_tokens"
        ).persist()
        total_packed = packed.agg(
            F.sum("n_tokens").alias("s"), F.max(
                F.col("start_offset") + F.col("n_tokens")
            ).alias("end")
        ).collect()[0]
    total_counted = counted.agg(F.sum("n_bpe_tokens")).collect()[0][0]
    assert total_packed["s"] == total_counted == total_packed["end"]


# ---------------------------------------------- synthetic corpora
REPLICA_MOD = 12  # ~8% of docs are replicas of base doc (id - id%MOD)
DOC_TOKENS = 40
VOCAB = 1_000


@block(gb_per_m=24)
def ngram(run):
    """Stupid-backoff trigram LM (textstats.ngram_logprob) and the
    corpus data card (report.corpus_report), with closed-form spot
    checks.

    Corpus: N synthetic documents over a pinned 1,000-word vocabulary —
    40 tokens each, drawn by a deterministic integer mix (no RNG
    state), with an 8% replica class (doc copies a base doc's text
    verbatim). Closed-form checks:

      - REPLICA EXACTNESS: the LM score is a pure function of the text,
        so every replica must score identically to its base (joined
        and asserted exactly, like the classifier rehearsal).
      - min_count=1 never backs off (self-scoring makes every count >=
        1): asserted backoff_frac == 0.0 for ALL docs on a 50k slice.
      - the card's corpus.docs/tokens rows equal independent counts.

    Times the trigram pass (gram-key joins + the two lag windows — the
    corpus-statistic-join family's cost shape) and the card's four
    aggregates."""
    from table_ocr_spark.operators.report import corpus_report
    from table_ocr_spark.operators.textstats import ngram_logprob

    n = run.n

    def gen(batches):  # executor-side deterministic generation
        import numpy as np
        import pandas as pd

        def mix(z):
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

        j = np.arange(DOC_TOKENS, dtype=np.uint64).reshape(1, -1)
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            # replica class: id % MOD == 1 copies id - 1's text
            src = np.where(ids % REPLICA_MOD == 1, ids - 1, ids)
            z = mix(
                src.astype(np.uint64).reshape(-1, 1) * np.uint64(DOC_TOKENS)
                + j
                + np.uint64(0x9E3779B97F4A7C15)
            )
            words = (z % np.uint64(VOCAB)).astype(np.int64)
            texts = [" ".join(f"w{w}" for w in row) for row in words]
            langs = np.where(ids % 3 == 0, "en", "de")
            yield pd.DataFrame(
                {"doc_id": ids, "text": texts, "lang": langs}
            )

    docs = (
        run.spark.range(n).repartition(64)
        .mapInPandas(gen, schema="doc_id long, text string, lang string")
    ).cache()
    total = docs.count()
    assert total == n

    with run.step("trigram_logprob", items=total):
        scored = ngram_logprob(docs, n=3, min_count=2).cache()
        n_scored = scored.count()
    assert n_scored == n

    # replica exactness: id%MOD==1 copies id-1's text verbatim
    reps = scored.filter(F.col("doc_id") % REPLICA_MOD == 1).select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.col("avg_neg_logprob").alias("rep_score"),
        F.col("backoff_frac").alias("rep_bo"),
    )
    bad = (
        scored.join(reps, "doc_id")
        .filter(
            (F.col("avg_neg_logprob") != F.col("rep_score"))
            | (F.col("backoff_frac") != F.col("rep_bo"))
        )
        .count()
    )
    assert bad == 0, f"{bad} replicas scored differently from their base"

    # min_count=1 never backs off (50k slice — the property is per-doc)
    slice_ = docs.filter(F.col("doc_id") < 50_000)
    nb = (
        ngram_logprob(slice_, n=3, min_count=1)
        .filter(F.col("backoff_frac") != 0.0)
        .count()
    )
    assert nb == 0, f"{nb} docs backed off at min_count=1"

    with run.step("corpus_report", items=total):
        card = {
            (r["section"], r["key"]): (r["n"], r["value"])
            for r in corpus_report(docs).collect()
        }
    assert card[("corpus", "docs")][0] == n
    assert card[("corpus", "tokens")][0] == n * DOC_TOKENS
    assert card[("corpus", "empty_docs")][0] == 0
    assert abs(card[("lang", "en")][1] - 1 / 3) < 0.01


QUERIES = [11, 222, 3333]
PLANTS_PER_QUERY = 5
K = 5


@block(gb_per_m=24)
def pq(run):
    """PQ ANN path (operators/similarity.py).

    Planted ground truth: N deterministic pseudo-random 64-dim vectors
    (mix_vec, no RNG state) plus, for each of 3 query ids, 5 planted
    near-duplicates (q + 0.02·perturbation, cosine ≈ 0.9995). A random
    unit vector pair in R^64 has cosine ~ N(0, 1/64) (std 0.125); the
    max over 1M samples stays ≲ 0.65, so the exact top-5 of every query
    IS its planted set — closed-form, asserted on the brute-force
    engine, then used to score PQ recall.

    Times brute_force_topk (the exact engine), PQ train / encode /
    search, steady-state serving from a persisted codes table, and
    IVF×PQ; reports code-table compression and PQ recall@5 against the
    planted truth (expected 1.0: planted ADC ≈ the reconstruction
    ceiling, random ADC ~ 0 ± quantization noise)."""
    from table_ocr_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    spark, n = run.spark, run.n
    base = embed(spark.range(n))

    # planted near-duplicates: ids n, n+1, ... copy each query's vector
    # with a small deterministic perturbation
    plants = []
    for qi, q in enumerate(QUERIES):
        qv = mix_vec(np.asarray([q]))[0]
        for p in range(PLANTS_PER_QUERY):
            pert = mix_vec(np.asarray([10_000_000 + qi * 100 + p]))[0]
            pv = qv + 0.02 * pert
            plants.append((n + qi * PLANTS_PER_QUERY + p,
                           [float(x) for x in pv.astype(np.float32)]))
    planted_ids = {
        q: {n + qi * PLANTS_PER_QUERY + p for p in range(PLANTS_PER_QUERY)}
        for qi, q in enumerate(QUERIES)
    }
    emb = base.unionByName(spark.createDataFrame(plants, VEC_SCHEMA)).cache()
    total = emb.count()
    assert total == n + len(QUERIES) * PLANTS_PER_QUERY

    # ---- exact engine: brute force (and the ground-truth check)
    def neighbors(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return got

    def recall_of(got):
        hits = sum(len(got.get(q, set()) & planted_ids[q]) for q in QUERIES)
        return hits / (len(QUERIES) * K)

    with run.step("brute_force_topk", items=total * len(QUERIES), unit="cosines"):
        bf = brute_force_topk(emb, QUERIES, k=K).collect()
    got_bf = neighbors(bf)
    for q in QUERIES:
        assert got_bf[q] == planted_ids[q], (
            f"planted truth violated for q={q}: {sorted(got_bf[q])}"
        )

    # ---- PQ: train (bounded driver k-means), encode (map-only), search
    with run.step("pq_train"):
        books = train_pq_codebooks(emb, m=16, ksub=16, max_train=65_536)
    # 16 B/vec codes vs DIM * 4 = 256 B/vec floats: 16x
    with run.step("pq_encode", items=total, unit="vec"):
        pq_encode(emb, books).write.format("noop").mode("overwrite").save()
    with run.step("pq_search", items=total * len(QUERIES), unit="ADC lookups") as s:
        pq = pq_topk(emb, QUERIES, k=K, codebooks=books).collect()
        recall = recall_of(neighbors(pq))
        s.note = f"recall@{K} vs planted truth = {recall:.3f}"
    assert recall >= 0.8, f"recall collapsed: {recall}"

    # ---- steady-state serving: codes PERSISTED once (the production
    # shape), each query batch scans the 16-byte table only
    codes_dir = os.path.join(run.work, "codes")
    pq_encode(emb, books).write.parquet(codes_dir)
    codes = spark.read.parquet(codes_dir)
    with run.step("pq_serve", items=total * len(QUERIES), unit="ADC lookups"):
        pq2 = pq_topk(emb, QUERIES, k=K, codebooks=books, codes=codes).collect()
    assert sorted(map(tuple, pq2)) == sorted(map(tuple, pq)), \
        "persisted-codes path diverged from inline encode"

    # ---- IVF×PQ: 1000 coarse cells (vec_id % 1000; planted rows take
    # their query's cell), so the scan touches ~|Q| cells ≈ 0.3% of the
    # corpus — the cell constraint is per-query inside the kernel
    labeled = emb.withColumn(
        "label",
        F.when(
            F.col("vec_id") >= n,
            # planted id -> its query's label
            F.element_at(
                F.array(*[F.lit(q % 1000) for q in QUERIES]),
                ((F.col("vec_id") - n) / PLANTS_PER_QUERY).cast("int") + 1,
            ),
        ).otherwise(F.col("vec_id") % 1000),
    )
    with run.step("ivf_pq") as s:
        ipq = ivf_pq_topk(labeled, QUERIES, k=K, codebooks=books).collect()
        recall_ivf = recall_of(neighbors(ipq))
        s.note = f"recall@{K} vs planted truth = {recall_ivf:.3f}"
    assert recall_ivf >= 0.8, f"ivf_pq recall collapsed: {recall_ivf}"


@block(gb_per_m=24)
def semdedup(run):
    """SemDeDup (operators/similarity.py semantic_dedup) with
    closed-form planted truth.

    Corpus: N deterministic pseudo-random 64-dim vectors (mix_vec, as
    in pq) plus EXACT copies of the first ``n_dup = N // 20`` ids under
    COPY_OFF. Random 64-dim cosines top out ≲ 0.65 over 1M pairs (see
    pq), so at threshold 0.99 the duplicate groups are EXACTLY the
    planted (base, copy) pairs — closed form:

      - output rows == n + n_dup (one audit row per input vector)
      - keep=false rows == n_dup, every one a COPY_OFF id (identical
        vectors tie on centroid_sim, so the min-id rule keeps the base)
      - every duplicate group has size 2; singletons everywhere else

    Stages timed separately: k-means training (bounded 65,536-vector
    driver sample), then the full semantic_dedup call (matmul
    assignment -> per-cell blocked-matmul pairs -> pointer-jumping CC
    -> survivor argmax).

    ``k`` grows with the corpus: 256 up to 4M vectors, then x4 per 4x
    N. Constant n/k cell size keeps the per-cell quadratic pair work
    LINEAR in n (the SemDeDup deployment rule; BASELINE.md's 16M row
    ran k=1024); k > 256 also exercises the wide-k trainer path."""
    from table_ocr_spark.operators.similarity import semantic_dedup, train_kmeans

    spark, n = run.spark, run.n
    n_dup = n // 20
    k = 256
    while n > 4_000_000 * (k // 256):
        k *= 4

    ids = spark.range(n).select(F.col("id")).unionByName(
        spark.range(n_dup).select((F.col("id") + COPY_OFF).alias("id"))
    )
    emb = embed(ids).cache()
    total = emb.count()
    assert total == n + n_dup

    with run.step("train_kmeans") as s:
        cents = train_kmeans(emb, k=k, max_train=65_536)
        s.note = f"k={k} on the bounded 65,536 sample"

    with run.step("semantic_dedup", items=total, unit="vectors"):
        out = semantic_dedup(
            emb, centroids=cents, threshold=0.99, max_cell_size=200_000
        ).cache()
        n_out = out.count()

    # ---- closed-form asserts
    assert n_out == total, (n_out, total)
    dropped = out.filter(~F.col("keep"))
    n_dropped = dropped.count()
    assert n_dropped == n_dup, (n_dropped, n_dup)
    bad = dropped.filter(F.col("vec_id") < COPY_OFF).count()
    assert bad == 0, f"{bad} base ids dropped (min-id tie rule violated)"
    sizes = (
        out.groupBy("group_size").count().orderBy("group_size").collect()
    )
    by_size = {r["group_size"]: r["count"] for r in sizes}
    assert by_size == {1: total - 2 * n_dup, 2: 2 * n_dup}, by_size
    # every copy's group label is its base id
    mislabeled = (
        out.filter(F.col("vec_id") >= COPY_OFF)
        .filter(F.col("group_id") != F.col("vec_id") - COPY_OFF)
        .count()
    )
    assert mislabeled == 0, f"{mislabeled} copies mislabeled"


# ------------------------------------------------------------ driver
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description="Scale rehearsals; see the module docstring."
    )
    ap.add_argument("blocks", nargs="+", metavar="block",
                    choices=["all", *BLOCKS])
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args(argv)
    names = list(BLOCKS) if "all" in args.blocks else args.blocks
    heap_gb = max(8, max(BLOCKS[b][1] for b in names) * args.n // 1_000_000)
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{heap_gb}g")

    from table_ocr_spark.session import get_spark

    spark = get_spark("rehearse", shuffle_partitions=64,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    run = Rehearsal(spark, args.n, args.sf, tempfile.mkdtemp(prefix="rehearse_"))
    try:
        for name in names:
            fn, _, confs = BLOCKS[name]
            run.block, run.work = name, os.path.join(run.root, name)
            os.makedirs(run.work)
            for k, v in confs.items():
                spark.conf.set(k, v)
            try:
                fn(run)
            finally:
                for k in confs:
                    spark.conf.unset(k)
                spark.catalog.clearCache()
                shutil.rmtree(run.work, ignore_errors=True)
    finally:
        print(json.dumps({"steps": run.steps}), flush=True)
        spark.stop()
        shutil.rmtree(run.root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
