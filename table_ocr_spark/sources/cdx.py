"""CDX url index: the third Common-Crawl interchange artifact (after
the WARC source and the WET sink) — a globally-sorted, binary-search-
able index of every capture, keyed by SURT.

The reference locates a document's results by filename-glob over a
flat directory (``ui/utils.py:63-71``); the crawl-scale analogue is
Common Crawl's CDX(J) index: one line per capture, ``<surt-key>
<timestamp14> <json>``, lines sorted by key across N gzip files, plus
a ``cluster.idx`` summary (first key of each file) so a lookup opens
O(1) files out of hundreds. This module emits and consumes that
layout Spark-first.

SURT key (Sort-friendly URI Reordering Transform), pinned subset of
the classic Wayback form — all map-only codegen expressions, and the
whole pin is reproduced in the DuckDB oracle (pure string/list
logic):

1. host: :func:`~table_ocr_spark.operators.urlnorm.host_canonical`
   (lowercase, userinfo/port stripped — a DEVIATION from classic SURT,
   which keeps non-default ports; one host identity across the whole
   engine beats port fidelity in an index key), then ONE leading
   ``www`` / ``www<digits>`` label stripped (the Wayback rule:
   ``www.foo.com`` and ``foo.com`` are the same site in index space);
2. the remaining labels REVERSED and comma-joined, then ``)``:
   ``com,example)`` — byte order now sorts by site, subdomains of a
   site adjacent (the property every prefix lookup relies on);
3. path: lowercased; empty path pins to ``/``;
4. query: fragment stripped, params lowercased, split on ``&``,
   empties dropped, sorted lexicographically, ``&``-rejoined; an
   emptied query drops its ``?``;
5. a string with no ``scheme://`` prefix yields NULL (an index key
   for a non-url is meaningless — never guess).

Scale shape (100-TB argument):

- ``write_cdx`` is ONE exchange: file boundaries are computed from a
  bounded deterministic hash-sample of the keys (never a global
  sort-to-driver), every row's file id is then a map-side O(n_files)
  fold over the boundary literals, and the hash repartition on file
  id puts each output file in exactly one task, which streams rows
  through a gzip appender (never materializes a file in memory).
  Global order across files holds because boundaries partition the
  key space; order within a file holds because rows are sorted within
  the partition.
- Output is BYTE-DETERMINISTIC for fixed ``n_files``: the boundary
  sample is hash-selected (no RNG), sorts are total (key, ts, json),
  gzip mtime is pinned 0 — re-writes are idempotent under the
  lineage/resume contract, same as the WET sink.
- ``cdx_lookup`` reads ``cluster.idx`` (n_files lines) driver-side,
  keeps only files whose [first, last] key range intersects the
  prefix range, and scans just those — the planning-time file-pruning
  story, same shape as the tier-partitioned layout.
"""

from __future__ import annotations

import gzip
import os
from typing import Iterator, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.local_frames import local_frame
from table_ocr_spark.operators.urlnorm import _SCHEME_RE, host_canonical
from table_ocr_spark.sources.sinkio import SinkOpener, resolve_opener

# one leading www / www<digits> label (the Wayback strip rule)
_WWW_RE = r"^www\d*\."


def surt_key(url: Column) -> Column:
    """Pinned SURT index key of a url column (module-doc pins 1-5).
    Map-only codegen; NULL for schemeless/unparseable input."""
    scheme = F.regexp_extract(url, _SCHEME_RE, 1)
    host = F.regexp_replace(host_canonical(url), _WWW_RE, "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")

    u = F.regexp_replace(url, r"#.*$", "")
    rest = F.lower(F.regexp_extract(u, _SCHEME_RE + r"[^/?#]*(.*)$", 2))
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    qstr = F.array_join(
        F.sort_array(F.filter(F.split(query, "&"), lambda p: p != "")),
        "&",
    )
    key = F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(qstr != "", F.concat(F.lit("?"), qstr)).otherwise(
            F.lit("")
        ),
    )
    return F.when((scheme == "") | (host == ""), F.lit(None)).otherwise(
        key
    )


_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("first_key", T.StringType()),
        T.StructField("first_ts", T.StringType()),
        T.StructField("last_key", T.StringType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

CLUSTER_IDX = "cluster.idx"


def _boundaries(
    rows: DataFrame, n_files: int, max_sample: int
) -> List[str]:
    """n_files-1 boundary keys from a DETERMINISTIC hash-sample.

    The sample modulus is sized off one bounded count so the driver
    collect stays ≤ ~max_sample keys at any corpus size; selection is
    ``xxhash64(key) % mod == 0`` — no RNG, so re-runs pick the same
    sample and the output files are byte-reproducible."""
    n = rows.count()
    if n == 0 or n_files == 1:
        return []
    mod = max(1, n // max_sample)
    sample = [
        r[0]
        for r in rows.select("_key")
        .where(F.pmod(F.xxhash64("_key"), F.lit(mod)) == 0)
        .collect()
    ]
    sample.sort()
    if not sample:
        return []
    return [
        sample[min(len(sample) - 1, i * len(sample) // n_files)]
        for i in range(1, n_files)
    ]


def _prepare_rows(
    df: DataFrame,
    url_col: str,
    ts_col: str,
    extra_cols: Sequence[str],
) -> DataFrame:
    """The (``_key``, ``_ts``, ``_json``) projection every CDX write
    path shares. The line grammar is space-delimited, so the KEY must
    not carry whitespace: literal spaces percent-encode (the Wayback
    pin — they survive surt_key via url paths like ``/a b``); keys
    with other whitespace (tab/newline garbage) are dropped with the
    NULL keys, as is any row without a valid 14-digit timestamp —
    both counts are auditable as input_count - manifest total."""
    ts = F.col(ts_col)
    if isinstance(df.schema[ts_col].dataType, T.TimestampType):
        ts14 = F.date_format(ts, "yyyyMMddHHmmss")
    else:
        # string ts_col: already-ts14 strings pass through; anything
        # to_timestamp can parse is rendered; the rest fails the
        # grammar filter below
        s = ts.cast("string")
        ts14 = F.when(s.rlike(r"^\d{14}$"), s).otherwise(
            F.date_format(F.try_to_timestamp(s), "yyyyMMddHHmmss")
        )
    key = F.regexp_replace(surt_key(F.col(url_col)), " ", "%20")
    return df.select(
        key.alias("_key"),
        ts14.alias("_ts"),
        F.to_json(
            F.struct(F.col(url_col).alias("url"), *extra_cols)
        ).alias("_json"),
    ).where(
        F.col("_key").isNotNull()
        & ~F.col("_key").rlike(r"\s")
        & F.col("_ts").rlike(r"^\d{14}$")
    )


def _fid_expr(bounds: List[str]) -> Column:
    """File id of ``_key`` under sorted boundary literals: descending
    CASE chain (first match wins) instead of an interpreted
    per-element fold — the chain stays inside whole-stage codegen
    (measured 2.3x on the 1M rehearsal over the F.aggregate HOF
    form)."""
    if not bounds:
        return F.lit(0)
    fid = F.when(F.col("_key") >= bounds[-1], F.lit(len(bounds)))
    for i in range(len(bounds) - 2, -1, -1):
        fid = fid.when(F.col("_key") >= bounds[i], F.lit(i + 1))
    return fid.otherwise(F.lit(0))


def write_cdx(
    df: DataFrame,
    path: str,
    n_files: int = 8,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    extra_cols: Sequence[str] = (),
    max_sample: int = 100_000,
    opener: "SinkOpener | None" = None,
) -> DataFrame:
    """Write a CDXJ index of ``df`` under ``path``: ``n_files``
    globally-sorted ``cdx-NNNNN.gz`` files + ``cluster.idx``; returns
    the manifest (file, first/last key, counts) — an eagerly
    materialized ACTION, the manifest doubling as the lineage row
    source.

    Line grammar: ``<surt> <ts14> <json>`` where ts14 is
    ``yyyyMMddHHmmss`` (UTC-rendered for timestamp columns) and json
    carries ``{"url": ...}`` plus ``extra_cols`` verbatim. Rows whose
    url yields a NULL surt key are DROPPED (not indexable — the
    caller's url hygiene operators run upstream).
    """
    rows = _prepare_rows(df, url_col, ts_col, extra_cols)
    return _write_sorted_index(rows, path, n_files, max_sample, opener)


def _write_sorted_index(
    rows: DataFrame,
    path: str,
    n_files: int,
    max_sample: int,
    opener: "SinkOpener | None" = None,
) -> DataFrame:
    """Boundary-sample + globally-sorted write of a prepared
    (_key, _ts, _json) frame — the shared tail of write_cdx and
    rebalance_cdx (validation lives here so BOTH entry points fail
    fast with a ValueError instead of deep inside a repartition)."""
    if n_files <= 0:
        raise ValueError(f"n_files must be positive, got {n_files}")
    io = resolve_opener(opener)
    io.makedirs(path)
    # three passes consume this narrow frame (count, boundary sample,
    # the write itself) — persist so the upstream plan runs once;
    # keep the handle (rebinding `rows` later would make unpersist a
    # no-op on a derived plan)
    cached = rows.persist()

    bounds = _boundaries(cached, n_files, max_sample)
    keyed = cached.withColumn("_fid", _fid_expr(bounds))

    _write = _writer_kernel(path, opener)
    manifest = (
        keyed.repartition(n_files, "_fid")
        .sortWithinPartitions("_key", "_ts", "_json")
        .mapInPandas(_write, _MANIFEST_SCHEMA)
    ).collect()
    cached.unpersist()
    manifest.sort(key=lambda r: r["file"])
    _write_cluster_idx(path, manifest, io)
    return local_frame(rows.sparkSession, manifest, _MANIFEST_SCHEMA)


def _writer_kernel(path: str, opener: "SinkOpener | None" = None):
    """mapInPandas kernel writing key-sorted ``cdx-<fid>.gz`` files
    with per-fid streaming gzip appenders; yields manifest rows.
    Bytes route through the pluggable opener (POSIX default)."""
    io = resolve_opener(opener)

    def _write(batches) -> Iterator:
        import pandas as pd

        # per-fid gzip appenders; a task may own several fids (hash
        # collisions), and each fid's rows arrive key-sorted because a
        # subsequence of the partition-sorted stream is itself sorted
        handles: dict = {}
        raw: dict = {}
        first: dict = {}
        last: dict = {}
        counts: dict = {}
        for pdf in batches:
            for f_id, key, ts_v, js in zip(
                pdf["_fid"], pdf["_key"], pdf["_ts"], pdf["_json"]
            ):
                f_id = int(f_id)
                if f_id not in handles:
                    fname = os.path.join(path, f"cdx-{f_id:05d}.gz")
                    raw[f_id] = io.open_write(fname)
                    # level 6 pinned: ~same ratio as the default 9 on
                    # short text lines at a fraction of the CPU, and a
                    # PINNED level keeps output byte-deterministic
                    # filename="" suppresses the FNAME gzip-header
                    # field: a POSIX handle carries .name and GzipFile
                    # would embed it, while object-store streams have
                    # none — pinning it empty keeps output bytes
                    # identical across filesystems
                    handles[f_id] = gzip.GzipFile(
                        filename="",
                        fileobj=raw[f_id],
                        mode="wb",
                        compresslevel=6,
                        mtime=0,
                    )
                    first[f_id] = (key, ts_v)
                    counts[f_id] = 0
                handles[f_id].write(
                    f"{key} {ts_v} {js}\n".encode("utf-8")
                )
                last[f_id] = key
                counts[f_id] += 1
        out = []
        for f_id, gz in handles.items():
            gz.close()
            size = raw[f_id].tell()
            raw[f_id].close()
            out.append(
                (
                    f"cdx-{f_id:05d}.gz",
                    first[f_id][0],
                    first[f_id][1],
                    last[f_id],
                    counts[f_id],
                    size,
                )
            )
        yield pd.DataFrame(
            out, columns=[f.name for f in _MANIFEST_SCHEMA.fields]
        )

    return _write


def _write_cluster_idx(
    path: str, manifest, io: "SinkOpener | None" = None
) -> None:
    """cluster.idx: one line per file, sorted — the driver-side
    summary a lookup binary-searches instead of opening every cdx
    file."""
    io = resolve_opener(io)
    with io.open_write(os.path.join(path, CLUSTER_IDX)) as fh:
        for r in manifest:
            fh.write(
                (
                    f"{r['first_key']} {r['first_ts']}\t{r['file']}\t"
                    f"{r['last_key']}\t{r['n_records']}\n"
                ).encode("utf-8")
            )


_CDX_LINE = r"^(\S+) (\S+) (.*)$"


def read_cdx(
    spark: SparkSession, path: str, files: Optional[Sequence[str]] = None
) -> DataFrame:
    """Read a CDX directory (or an explicit file subset) back as
    ``(surt, ts, url, fields)``. File = parallel grain (whole-file
    gzip streams, like the WARC reader's sizing contract)."""
    paths = (
        [os.path.join(path, f) for f in files]
        if files is not None
        else [os.path.join(path, "cdx-*.gz")]
    )
    lines = spark.read.text(paths)
    return lines.select(
        F.regexp_extract("value", _CDX_LINE, 1).alias("surt"),
        F.regexp_extract("value", _CDX_LINE, 2).alias("ts"),
        F.regexp_extract("value", _CDX_LINE, 3).alias("fields"),
    ).withColumn("url", F.get_json_object("fields", "$.url"))


def _text_lines(fh):
    """Iterate utf-8 text lines from a binary stream (pyarrow input
    streams have no text mode; read fully — cluster.idx is n_files
    lines, driver-side)."""
    data = fh.read()
    if isinstance(data, str):  # a text-mode handle slipped through
        return data.splitlines()
    return data.decode("utf-8").splitlines()


def candidate_files(
    idx_path: str, prefix: str, opener: "SinkOpener | None" = None
) -> List[str]:
    """Files whose [first, last] key range can contain keys starting
    with ``prefix`` — the cluster.idx binary-search step, exposed for
    tests/audit. Driver-side over n_files lines."""
    out = []
    hi = prefix + "\U0010ffff"
    io = resolve_opener(opener)
    with io.open_read(os.path.join(idx_path, CLUSTER_IDX)) as fh:
        for line in _text_lines(fh):
            head, fname, last_key, _ = line.rstrip("\n").split("\t")
            first_key = head.split(" ", 1)[0]
            if last_key >= prefix and first_key <= hi:
                out.append(fname)
    return out


def cdx_lookup(
    spark: SparkSession, path: str, prefix: str,
    opener: "SinkOpener | None" = None,
    ts_from: str | None = None,
    ts_to: str | None = None,
) -> DataFrame:
    """All captures whose surt key starts with ``prefix`` (e.g.
    ``com,example)`` for a whole site), reading ONLY the files the
    cluster.idx says can match. ``opener`` routes the driver-side
    cluster.idx read (an index written through a non-POSIX opener is
    looked up through the same one); the matched ``cdx-*.gz`` data
    files are read by SPARK (``spark.read.text``) — on an object
    store the session needs the matching FS connector.

    ``ts_from``/``ts_to`` take the CDX-server API's partial-timestamp
    semantics: 1-14 digits, both bounds INCLUSIVE at the given
    precision (``ts_from="2026"`` ≙ ``>= 20260101000000``-ish floor,
    ``ts_to="2026"`` ≙ everything in 2026) — implemented as pure
    lexicographic comparison on the ts14 column after padding the
    floor with '0' and the ceiling with '9'. The filter cannot prune
    files (they are keyed by surt, not time) but Catalyst fuses it
    into the same scan as the prefix filter."""
    for nm, v in (("ts_from", ts_from), ("ts_to", ts_to)):
        if v is not None and not (v.isdigit() and 1 <= len(v) <= 14):
            raise ValueError(
                f"{nm} must be 1-14 digits (CDX partial ts), got {v!r}"
            )
    cands = candidate_files(path, prefix, opener)
    if not cands:
        return local_frame(
            spark, [], "surt string, ts string, fields string, url string"
        )
    out = read_cdx(spark, path, files=cands).where(
        F.col("surt").startswith(prefix)
    )
    if ts_from is not None:
        out = out.where(F.col("ts") >= ts_from.ljust(14, "0"))
    if ts_to is not None:
        out = out.where(F.col("ts") <= ts_to.ljust(14, "9"))
    return out


def _read_cluster_idx(
    path: str, io: "SinkOpener | None" = None
) -> List[dict]:
    """Parse cluster.idx into manifest-shaped dicts (driver-side,
    n_files lines). Missing index → ValueError (an unindexed
    directory cannot be merged into; build it with write_cdx)."""
    io = resolve_opener(io)
    idx = os.path.join(path, CLUSTER_IDX)
    if not io.exists(idx):
        raise ValueError(
            f"merge_cdx: no {CLUSTER_IDX} under {path!r} — build the "
            "base index with write_cdx first"
        )
    out = []
    with io.open_read(idx) as fh:
        for line in _text_lines(fh):
            head, fname, last_key, n_records = (
                line.rstrip("\n").split("\t")
            )
            first_key, first_ts = head.split(" ", 1)
            out.append(
                {
                    "file": fname,
                    "first_key": first_key,
                    "first_ts": first_ts,
                    "last_key": last_key,
                    "n_records": int(n_records),
                }
            )
    out.sort(key=lambda r: r["file"])
    return out


def merge_cdx(
    new_df: DataFrame,
    existing_path: str,
    out_path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    extra_cols: Sequence[str] = (),
    dedup: bool = True,
    opener: "SinkOpener | None" = None,
) -> DataFrame:
    """Merge new captures into an existing CDX index WITHOUT
    rewriting files their keys never touch — the incremental-index
    operation behind a cumulative crawl index (CC publishes per-crawl
    indexes and a rolling cumulative one; re-sorting 10^12 lines per
    increment is the naive cost this avoids).

    The existing index's file boundaries (cluster.idx first-keys) are
    REUSED as the partition of key space: every new row maps to the
    file whose range holds its key (the same codegen CASE chain
    write_cdx uses), so only the files with ≥1 new row are re-merged
    — read back, unioned with their new rows, re-sorted within the
    file, re-written byte-deterministically. Untouched files are
    copied verbatim (byte-identical; on an object store this is a
    server-side copy/rename, the local shutil is the sandbox stand-
    in) and their manifest rows carried over. A patch crawl touching
    one site therefore costs O(that site's files), not O(index).

    ``dedup=True`` (default) drops exact duplicate (key, ts, json)
    lines between the existing file and the increment, making the
    merge IDEMPOTENT: merging the same captures twice yields
    byte-identical files (pinned in tests) — the same at-least-once
    delivery stance as the lineage/resume contract.

    Boundaries are reused, never re-balanced: a long series of skewed
    increments can grow some files past others. Rebalancing IS the
    full rewrite by design — a deliberate, scheduled operation
    (:func:`rebalance_cdx`), not something a routine merge does
    implicitly. Returns the merged manifest (one row per output
    file)."""
    if os.path.abspath(out_path) == os.path.abspath(existing_path):
        raise ValueError(
            "merge_cdx: out_path must differ from existing_path (the "
            "re-merged files are read and written in the same job)"
        )
    io = resolve_opener(opener)
    existing = _read_cluster_idx(existing_path, io)
    bounds = [r["first_key"] for r in existing[1:]]
    io.makedirs(out_path)

    spark = new_df.sparkSession
    rows = _prepare_rows(new_df, url_col, ts_col, extra_cols)
    # _fid here is the POSITION in the name-sorted `existing` list
    # (bounds are its first-keys). Positions are NOT the numeric file
    # ids: a base write whose boundary sample had duplicate keys
    # leaves empty ranges unwritten, so file numbering can have gaps
    # — keying the lookup by the parsed file number would then read
    # back the wrong file (or none) and write a misplaced new one
    keyed = rows.withColumn("_fid", _fid_expr(bounds))
    cached = keyed.persist()
    touched = sorted(
        r[0] for r in cached.select("_fid").distinct().collect()
    )
    touched_set = set(touched)

    manifest: List[dict] = []

    for pos, r in enumerate(existing):
        if pos in touched_set:
            continue
        src = os.path.join(existing_path, r["file"])
        dst = os.path.join(out_path, r["file"])
        # stream copy through the opener (object-store note: prefer a
        # server-side copy where the backing FS offers one; the
        # opener contract keeps this correct everywhere)
        n = 0
        with io.open_read(src) as rf, io.open_write(dst) as wf:
            while True:
                chunk = rf.read(1 << 20)
                if not chunk:
                    break
                wf.write(chunk)
                n += len(chunk)
        manifest.append({**r, "n_bytes": n})

    if touched:
        old_files = [
            existing[p]["file"] for p in touched if p < len(existing)
        ]
        inc_rows = cached
        if dedup:
            inc_rows = inc_rows.dropDuplicates(["_key", "_ts", "_json"])
        merged = inc_rows
        if old_files:
            old_rows = read_cdx(
                spark, existing_path, files=old_files
            ).select(
                F.col("surt").alias("_key"),
                F.col("ts").alias("_ts"),
                F.col("fields").alias("_json"),
            ).withColumn("_fid", _fid_expr(bounds))
            if dedup:
                # idempotence = the INCREMENT dedups against what the
                # index already holds; pre-existing duplicate lines
                # inside the touched files are not the merge's to drop
                # (a global dropDuplicates would silently shrink them)
                inc_rows = inc_rows.join(
                    old_rows.select("_key", "_ts", "_json"),
                    ["_key", "_ts", "_json"],
                    "left_anti",
                )
            merged = old_rows.unionByName(inc_rows)
        if existing:
            # the writer kernel names its output cdx-<_fid>.gz: remap
            # the positional fid to the existing file's numeric id so
            # the rewrite overlays the file whose range it extends
            ids = F.array(
                *[F.lit(int(r["file"][4:-3])) for r in existing]
            )
            merged = merged.withColumn(
                "_fid", F.element_at(ids, F.col("_fid") + 1)
            )
        new_manifest = (
            merged.repartition(max(len(touched), 1), "_fid")
            .sortWithinPartitions("_key", "_ts", "_json")
            .mapInPandas(_writer_kernel(out_path, opener), _MANIFEST_SCHEMA)
        ).collect()
        manifest.extend(
            {f.name: r[f.name] for f in _MANIFEST_SCHEMA.fields}
            for r in new_manifest
        )
    cached.unpersist()

    manifest.sort(key=lambda r: r["file"])
    _write_cluster_idx(out_path, manifest, io)
    return local_frame(spark, manifest, _MANIFEST_SCHEMA)


def rebalance_cdx(
    spark: SparkSession,
    path: str,
    out_path: str,
    n_files: int = 8,
    max_sample: int = 100_000,
    opener: "SinkOpener | None" = None,
) -> DataFrame:
    """The scheduled full rewrite merge_cdx deliberately never does:
    re-sample file boundaries from the CURRENT key distribution and
    rewrite the whole index once, restoring balance to a cumulative
    index whose files drifted hot under skewed increments.

    Same determinism contract as write_cdx — the boundary sample is
    hash-selected from the keys (no RNG), sorts are total, gzip level
    and mtime pinned — so rebalancing the same index twice (or
    crash-rerunning) yields byte-identical files, and a rebalanced
    index built from the same captures as a fresh write_cdx IS that
    fresh index byte-for-byte (pinned in tests). Global sort order is
    preserved: boundaries partition the key space, rows re-sort
    within each file.

    Cost model (when to schedule it): one full read + one full
    one-exchange write — O(index), vs merge_cdx's O(increment). Run
    it when cluster.idx shows file-size skew past the reader's
    tolerance (the manifest's n_records/n_bytes columns are the
    signal), not per increment. Keys and payload json are carried
    VERBATIM from the existing lines (no url re-parse — the index is
    the source of truth for its own keys).

    Opener scope (same split as merge_cdx): ``opener`` routes the
    driver-side cluster.idx read and ALL writes (data members +
    index); the existing ``cdx-*.gz`` data files are read by SPARK
    (``spark.read.text``), so on an object store the session needs
    the matching FS connector in addition to the opener."""
    if os.path.abspath(out_path) == os.path.abspath(path):
        raise ValueError(
            "rebalance_cdx: out_path must differ from path (the whole "
            "index is read and rewritten in the same job)"
        )
    # existence check doubles as the unindexed-directory guard
    _read_cluster_idx(path, resolve_opener(opener))
    rows = read_cdx(spark, path).select(
        F.col("surt").alias("_key"),
        F.col("ts").alias("_ts"),
        F.col("fields").alias("_json"),
    )
    return _write_sorted_index(rows, out_path, n_files, max_sample, opener)
