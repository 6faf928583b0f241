"""Seeded input generators for the benchmark workloads.

Every generator is pure Python, takes ``(n_docs, seed)`` and writes a
multi-file input (Common Crawl ships many files, and Spark's file scan
parallelises at file grain) plus ``expected.json``: the closed-form
counts the benchmark's correctness gate compares the program's output
against. The same seed gives the same bytes.

- ``extract``: ``datagen.generate_pages`` pages, one call and one
  parquet file per input file. The golden text per url lives in the
  ``text`` column.
- ``crawl``: ``.warc.gz`` files of English-like pages wrapped in
  nav/sidebar/footer boilerplate. A few percent of docs are exact
  replicas (same body text, other url and boilerplate), a few percent
  near-duplicates (one token substituted), some pages declare and use
  windows-1252, and some carry an email address. ``golden.json`` holds
  each url's expected corpus text: the article paragraphs joined by
  newlines, with the email redacted.

Every generated doc passes ``gopher_quality`` (10..100k tokens, mean
token length 2..12, symbol share <= 0.1), so the surviving counts are
pure functions of the construction.
"""

from __future__ import annotations

import gzip
import json
import os
import random

# 3-shingles of random docs over this vocabulary almost never collide,
# so MinHash-LSH finds no pairs except the constructed ones
_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "br", "cr", "dr", "gr", "pl", "st", "tr", "sh"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
_CODAS = ["", "", "n", "r", "s", "t", "l", "m"]
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "for", "on", "with"]
ACCENTED = ["café", "naïve", "résumé", "fiancée", "déjà", "crème", "façade"]

# crawl: shares of exact replicas, near-dups (one token substituted),
# windows-1252 pages, and pages outside any dup group with an email
REPLICA_SHARE, NEAR_SHARE, CP1252_SHARE, PII_SHARE = 0.03, 0.03, 0.10, 0.05
WARC_TS = "2024-03-01T00:00:00Z"
EMAIL_TAIL = "@mail.example.org"
REDACTED = "<EMAIL>"  # redact_pii's placeholder for an email


def _vocabulary(size: int = 20000) -> list:
    rng = random.Random(0x70C5)
    seen: set = set()
    out: list = []
    while len(out) < size:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
            for _ in range(rng.randint(1, 3))
        )
        if w not in seen and w not in STOPWORDS:
            seen.add(w)
            out.append(w)
    return out


VOCAB = _vocabulary()


def _tokens(rng: random.Random, n: int) -> list:
    """n tokens: content words with an isolated stopword ~15% of the
    time (never two stopwords in a row, so every 3-shingle carries a
    content word)."""
    out: list = []
    for _ in range(n):
        if out and out[-1] not in STOPWORDS and rng.random() < 0.15:
            out.append(rng.choice(STOPWORDS))
        else:
            out.append(rng.choice(VOCAB))
    return out


def _paragraphs(tokens: list, rng: random.Random) -> list:
    """Split a token list into 2-4 paragraphs; the extracted text is
    the paragraphs joined by newlines, so its token list is ``tokens``."""
    n_par = rng.randint(2, 4)
    cuts = sorted(rng.sample(range(1, len(tokens)), n_par - 1))
    bounds = [0] + cuts + [len(tokens)]
    return [" ".join(tokens[a:b]) for a, b in zip(bounds, bounds[1:])]


def _boilerplate(rng: random.Random) -> tuple:
    nav = "<nav>" + " | ".join(
        f'<a href="/s{i}">section {i}</a>' for i in range(rng.randint(3, 8))
    ) + "</nav>"
    sidebar = "<div>" + " ".join(
        f'<a href="/t{i}">related link {i}</a>' for i in range(rng.randint(4, 9))
    ) + "</div>"
    footer = ('<footer><a href="/imprint">Imprint</a> '
              '<a href="/privacy">Privacy</a> (c) 2024 example</footer>')
    return nav, sidebar, footer


def _page(paras: list, charset: str, rng: random.Random) -> bytes:
    """Render paragraphs as an article wrapped in nav/sidebar/footer
    boilerplate."""
    nav, sidebar, footer = _boilerplate(rng)
    body = (nav + "<article>" + "".join(f"<p>{p}</p>" for p in paras)
            + "</article>" + sidebar + footer)
    doc = (f'<!DOCTYPE html><html><head><meta charset="{charset}">'
           f"<title>page</title></head><body>{body}</body></html>")
    return doc.encode("cp1252" if charset == "windows-1252" else "utf-8")


def _write_warc(docs: list, out_dir: str, n_files: int) -> None:
    """docs: (url, WARC-Date, html bytes) in generation order; doc i
    goes to file i % n_files, one gzip member per record (the CC
    layout)."""
    from table_ocr_spark.sources.warc import build_warc_record

    os.makedirs(out_dir, exist_ok=True)
    files = [open(os.path.join(out_dir, f"part-{f:05d}.warc.gz"), "wb")
             for f in range(n_files)]
    try:
        for i, (url, ts, html) in enumerate(docs):
            rec = build_warc_record(url, ts, html)
            files[i % n_files].write(gzip.compress(rec, mtime=0))
    finally:
        for f in files:
            f.close()


def _extract_file(args: tuple) -> int:
    """One generate_pages call written as one parquet file; its urls
    get the file number as a prefix so they stay unique across files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from table_ocr_spark.datagen import generate_pages

    path, n_docs, seed, part = args
    pages, _ = generate_pages(n_docs=n_docs, seed=seed * 1000 + part)
    pq.write_table(pa.table({
        "url": pa.array([p["url"].replace("/doc-", f"/f{part}-doc-")
                         for p in pages], pa.string()),
        "warc_ts": pa.array([p["warc_ts"].replace(tzinfo=None)
                             for p in pages], pa.timestamp("us")),
        "html": pa.array([p["html"] for p in pages], pa.binary()),
        "text": pa.array([p["text"] for p in pages], pa.string()),
        "lang": pa.array([p["lang"] for p in pages], pa.string()),
    }), path)
    return len(pages)


def gen_extract(out_dir: str, n_docs: int, seed: int, n_files: int) -> dict:
    """One ``generate_pages`` call per file, run in parallel."""
    import multiprocessing as mp

    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir, exist_ok=True)
    jobs = [(os.path.join(pages_dir, f"part-{f:05d}.parquet"),
             n_docs // n_files + (f < n_docs % n_files), seed, f)
            for f in range(n_files)]
    with mp.get_context("spawn").Pool(4) as pool:
        rows = sum(pool.map(_extract_file, jobs))
    return {"n_records": rows, "n_urls": n_docs}


def gen_crawl(out_dir: str, n_docs: int, seed: int, n_files: int) -> dict:
    rng = random.Random(seed)
    n_rep = int(n_docs * REPLICA_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_base = n_docs - n_rep - n_near
    bodies: list = []  # (token list, charset)
    for _ in range(n_base):
        toks = _tokens(rng, rng.randint(60, 160))
        charset = "utf-8"
        if rng.random() < CP1252_SHARE:
            charset = "windows-1252"
            for _ in range(rng.randint(1, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(ACCENTED)
        bodies.append((toks, charset))
    # each source body is used at most once, so every dup group has
    # exactly two members; PII goes only into bodies outside any group
    sources = rng.sample(range(n_base), n_rep + n_near)
    in_group = set(sources)
    n_pii = 0
    for i in range(n_base):
        if i not in in_group and rng.random() < PII_SHARE:
            toks = bodies[i][0]
            toks.insert(rng.randrange(len(toks)), f"user{i}{EMAIL_TAIL}")
            n_pii += 1
    derived: list = []
    for j, src in enumerate(sources):
        toks, charset = bodies[src]
        if j >= n_rep:
            toks = list(toks)
            toks[rng.randrange(len(toks))] = f"variant{j}"
        derived.append((toks, charset))
    entries = bodies + derived
    order = list(range(len(entries)))
    rng.shuffle(order)
    docs, golden = [], {}
    for k, i in enumerate(order):
        toks, charset = entries[i]
        url = f"https://site{k % 97}.example/page/{k:07d}"
        paras = _paragraphs(toks, rng)
        docs.append((url, WARC_TS, _page(paras, charset, rng)))
        golden[url] = "\n".join(
            " ".join(REDACTED if t.endswith(EMAIL_TAIL) else t
                     for t in p.split(" "))
            for p in paras)
    _write_warc(docs, os.path.join(out_dir, "warc"), n_files)
    with open(os.path.join(out_dir, "golden.json"), "w") as f:
        json.dump(golden, f)
    return {"n_input": n_docs, "n_after_exact_dedup": n_docs - n_rep,
            "n_after_near_dedup": n_docs - n_rep - n_near,
            "n_had_pii": n_pii}


GENERATORS = {"extract": gen_extract, "crawl": gen_crawl}


def ensure_input(cache_dir: str, workload: str, n_docs: int, seed: int,
                 n_files: int, warc: bool = False) -> tuple:
    """Generate (or reuse) the input for (workload, seed, size); returns
    ``(input_dir, expected)``. A finished input carries expected.json,
    written last, so a half-written cache entry is regenerated. ``warc``
    adds the .warc.gz rendering of the extract workload's pages."""
    import shutil

    d = os.path.join(cache_dir, f"{workload}-s{seed}-n{n_docs}-f{n_files}")
    exp_path = os.path.join(d, "expected.json")
    if not os.path.exists(exp_path):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        expected = GENERATORS[workload](d, n_docs, seed, n_files)
        with open(exp_path, "w") as f:
            json.dump(expected, f)
    done = os.path.join(d, "warc.done")
    if warc and workload == "extract" and not os.path.exists(done):
        shutil.rmtree(os.path.join(d, "warc"), ignore_errors=True)
        pages_to_warc(d, n_files)
        open(done, "w").close()
    with open(exp_path) as f:
        return d, json.load(f)


def pages_to_warc(input_dir: str, n_files: int) -> None:
    """Write the extract workload's pages, every capture, as .warc.gz
    files too, so its traced run can start at the WARC reader."""
    import glob

    import pyarrow.parquet as pq

    docs = []
    for path in sorted(glob.glob(os.path.join(input_dir, "pages", "*.parquet"))):
        t = pq.read_table(path, columns=["url", "warc_ts", "html"]).to_pylist()
        docs += [(r["url"], r["warc_ts"].isoformat() + "Z", r["html"])
                 for r in t]
    _write_warc(docs, os.path.join(input_dir, "warc"), n_files)


if __name__ == "__main__":
    import sys

    # gen.py WORKLOAD N_DOCS SEED N_FILES CACHE_DIR [--warc]
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    wl, n, sd, nf, cache = sys.argv[1:6]
    d, _ = ensure_input(cache, wl, int(n), int(sd), int(nf),
                        warc="--warc" in sys.argv[6:])
    print(d)
