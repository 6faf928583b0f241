"""WET sink: write extracted text back out as Common-Crawl-style
``conversion`` records (.warc.wet.gz) — the interchange twin of the
WARC source.

The reference exports its per-document results as JSON files keyed by
pdf stem (``table_ocr/core.py`` result sink); the crawl-scale
counterpart of "extracted text, one record per source document" is
Common Crawl's WET layout: WARC/1.0 files whose records are
``WARC-Type: conversion``, ``Content-Type: text/plain``, one per
source url, each record an independent gzip member. Emitting that
layout means the pipeline's output is directly consumable by every
tool that already reads CC WET files — and round-trips through our own
:func:`~table_ocr_spark.sources.warc.read_warc` (pinned in tests:
write_wet → read_warc(warc_types=("conversion",)) recovers url, ts
and text BYTES exactly).

Record grammar (the same pinned WARC/1.0 subset the parser consumes —
``sources/warc.py`` module doc):

    WARC/1.0\r\n
    WARC-Type: conversion\r\n
    WARC-Target-URI: <url>\r\n
    WARC-Date: <iso8601>\r\n
    Content-Type: text/plain\r\n
    Content-Length: <octets of utf-8 text>\r\n
    \r\n
    <utf-8 text>
    \r\n\r\n

Scale shape (100-TB argument):
- One exchange total: rows are bucketed ``file_id = pmod(xxhash64(url),
  n_files)`` and hash-repartitioned on that key, so each output file's
  records land in exactly one task; a task streams its rows straight
  into per-file gzip appenders (gzip members concatenate, so a file is
  written incrementally — never materialized in memory).
- Output is DETERMINISTIC for a fixed ``n_files``: membership is a
  pure url-hash, rows are sorted by (url, warc_ts) within the
  partition, and gzip mtime is pinned to 0 — re-running the job
  byte-reproduces every file, which makes the sink idempotent under
  the lineage/resume contract (a re-written file is identical, not a
  near-duplicate).
- ``n_files`` is the write-parallelism knob — size it like CC does
  (~1 GB per file) so the file stays the partition grain for every
  downstream reader.
- Writes route through a pluggable :class:`sinkio.SinkOpener`
  (default POSIX ``open()``); on a real cluster pass
  ``ArrowFSOpener`` wrapping a ``pyarrow.fs`` HadoopFileSystem /
  S3FileSystem — the record/bucketing logic is the portable part and
  output is byte-identical across filesystems (tested against an
  in-memory FS in ``tests/test_sink_opener.py``).
"""

from __future__ import annotations

import gzip
import os
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.local_frames import local_frame
from table_ocr_spark.sources.sinkio import SinkOpener, resolve_opener
from table_ocr_spark.sources.warc import header_value

_WET_HDR_END = b"\r\n\r\n"


def wet_record_bytes(url: str, ts_iso: str, text: str) -> bytes:
    """One ``conversion`` record (uncompressed). Python twin used by
    both the write kernel and tests — single source of the grammar,
    same contract style as ``build_warc_record``."""
    body = text.encode("utf-8")
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        + f"WARC-Target-URI: {header_value(url)}\r\n".encode("utf-8")
        + f"WARC-Date: {header_value(ts_iso)}\r\n".encode("ascii")
        + b"Content-Type: text/plain\r\n"
        + f"Content-Length: {len(body)}\r\n".encode("ascii")
        + b"\r\n"
    )
    return head + body + _WET_HDR_END


_WRITE_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def warc_ts_str(df: DataFrame, ts_col: str):
    """ts column → WARC ISO-8601 Z string; passthrough if already a
    string (shared by the WET and WAT sinks)."""
    ts = F.col(ts_col)
    if isinstance(df.schema[ts_col].dataType, T.TimestampType):
        return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return ts.cast("string")


def member_writer_kernel(path: str, suffix: str, rec_bytes, io):
    """The mapInPandas write kernel of :func:`write_member_files`,
    module-level so tests can drive it directly against a pure
    in-memory filesystem (the opener contract's byte-identity pin)."""

    def _write(batches) -> Iterator:
        import pandas as pd

        # One gzip appender per file_id seen in this task. Hash
        # repartitioning puts ALL rows of a file_id in one task, but a
        # task may own several file_ids (n_files > shuffle partitions,
        # or hash collisions) — accumulate per file across batches and
        # close at iterator exhaustion (the multi-batch-group lesson
        # from the tiered rehearsal writer).
        handles: dict = {}
        counts: dict = {}
        sizes: dict = {}
        for pdf in batches:
            for fid, url, ts_v, payload in zip(
                pdf["_fid"], pdf["_url"], pdf["_ts"], pdf["_payload"]
            ):
                fid = int(fid)
                if fid not in handles:
                    fname = os.path.join(path, f"part-{fid:05d}{suffix}")
                    handles[fid] = io.open_write(fname)
                    counts[fid] = 0
                    sizes[fid] = 0
                rec = gzip.compress(
                    rec_bytes(url, ts_v, "" if payload is None else payload),
                    mtime=0,
                )
                handles[fid].write(rec)
                counts[fid] += 1
                sizes[fid] += len(rec)
        out = []
        for fid, fh in handles.items():
            fh.close()
            out.append((f"part-{fid:05d}{suffix}", counts[fid], sizes[fid]))
        yield pd.DataFrame(out, columns=["file", "n_records", "n_bytes"])

    return _write


def write_member_files(
    rows: DataFrame,
    path: str,
    n_files: int,
    suffix: str,
    rec_bytes,
    opener: "SinkOpener | None" = None,
) -> DataFrame:
    """Shared deterministic gzip-member sink (WET + WAT): ``rows``
    must carry (_fid, _url, _ts, _payload); each output file's rows
    land in exactly one task (hash-repartition on _fid), sorted by
    (url, ts), one gzip member per record with mtime pinned to 0 —
    byte-reproducible under re-run. ``rec_bytes(url, ts, payload)``
    builds the uncompressed record. Returns the per-file manifest
    (file, n_records, n_bytes) as an eagerly-materialized ACTION.

    ``opener`` routes every byte through a :class:`sinkio.SinkOpener`
    (default POSIX); pass ``ArrowFSOpener`` for HDFS/S3/GCS — the
    bucketing/sort/gzip framing is opener-independent, so output is
    byte-identical across filesystems.
    """
    if n_files <= 0:
        raise ValueError(f"n_files must be positive, got {n_files}")
    io = resolve_opener(opener)
    io.makedirs(path)
    _write = member_writer_kernel(path, suffix, rec_bytes, io)
    manifest = (
        rows.repartition(n_files, "_fid")
        .sortWithinPartitions("_url", "_ts")
        .mapInPandas(_write, _WRITE_SCHEMA)
    )
    # Materialize NOW (localCheckpoint would cache; a bounded collect
    # is fine — the manifest is n_files rows) and return a small frame.
    return local_frame(rows.sparkSession, manifest.collect(), _WRITE_SCHEMA)


def write_wet(
    df: DataFrame,
    path: str,
    n_files: int = 8,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    opener: "SinkOpener | None" = None,
) -> DataFrame:
    """Write ``df`` as ``n_files`` deterministic ``.warc.wet.gz``
    files under ``path``; returns the per-file manifest
    (file, n_records, n_bytes) — an eagerly-materialized ACTION (the
    write happens before this returns), with the manifest doubling as
    the lineage row source for the resume contract.

    Timestamps are emitted in the WARC ISO-8601 Z form; ``ts_col``
    may be a timestamp or an already-formatted string.
    """
    rows = df.select(
        F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_files)).alias("_fid"),
        F.col(url_col).alias("_url"),
        warc_ts_str(df, ts_col).alias("_ts"),
        F.col(text_col).alias("_payload"),
    )
    return write_member_files(
        rows, path, n_files, ".warc.wet.gz", wet_record_bytes,
        opener=opener,
    )
