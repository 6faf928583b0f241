"""The vectorized extraction pipeline — the Spark replacement for the
reference's per-page LLM loop (``table_ocr/direct.py:147-175``: one HTTP
call per (page, sample) under an asyncio semaphore).

Here the whole corpus flows as Arrow record batches through ONE
``mapInArrow`` stage wrapping the pure-Python kernel
(:mod:`table_ocr_spark.kernel.html_extract`). The dispatch is batched
(never driver-side / per-row Python at the Spark level); parallelism is
the partition count, not a semaphore (reference `direct.py:312`).

Scale notes (100 TB / 10^12 docs):
- ``html`` is projected away immediately after the kernel stage, and
  extraction itself never shuffles it; a url window placed BEFORE the
  kernel (``latest_capture`` in the corpus builder) does (see
  :func:`extract_documents`).
- Extraction is map-only: url-hash repartition is used only to level
  partition sizes; host-skew salting matters for host-keyed stages and
  is provided by :func:`salted_repartition` / two-phase aggregation in
  :mod:`table_ocr_spark.functions.sqlfuncs`.
- Arrow batch size bounded via spark.sql.execution.arrow.maxRecordsPerBatch
  so a batch of html blobs fits executor memory (SURVEY.md §7.3.4).
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CELL_STRUCT = T.StructType(
    [
        T.StructField("table_id", T.IntegerType()),
        T.StructField("row", T.IntegerType()),
        T.StructField("col", T.IntegerType()),
        T.StructField("rowspan", T.IntegerType()),
        T.StructField("colspan", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("cells", T.ArrayType(CELL_STRUCT)),
        T.StructField("n_tables", T.IntegerType()),
        # True when the payload was malformed and the kernel degraded
        # this row to an empty extraction (auditable per-row; roll up
        # with sum(cast(degraded as long)) — lineage records it per
        # bucket). NULL-html rows are NOT degraded: absent payload is
        # a normal crawl condition, not a parse failure.
        T.StructField("degraded", T.BooleanType()),
    ]
)

# Parse failures that degrade one row instead of killing the stage.
# Deliberately NARROW: a kernel regression (TypeError/AttributeError),
# MemoryError, or a missing capability (NotImplementedError) must
# surface — converting those to silent empty rows would let the
# lineage checksum record a broken corpus as successfully processed.
import struct as _struct  # noqa: E402  (stdlib, used for error type only)

DEGRADABLE_ERRORS = (ValueError, IndexError, KeyError, EOFError, _struct.error)

_PA_CELL = pa.struct(
    [
        ("table_id", pa.int32()),
        ("row", pa.int32()),
        ("col", pa.int32()),
        ("rowspan", pa.int32()),
        ("colspan", pa.int32()),
        ("text", pa.string()),
    ]
)


def _kernel_batches(kernel: str, passthrough: tuple = (), pdf_config=None):
    """Factory for the Arrow-batch kernel driver (runs on executors;
    imports the kernel once per Python worker — the reference's lazy
    client pattern, ``table_ocr/core.py:44-64``). ``passthrough``
    columns are copied from the input batch to the output batch
    ZERO-COPY (same Arrow arrays) — extra columns ride through the
    map-only kernel stage for free instead of a corpus × corpus
    re-join by url afterwards."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if kernel == "html":
            from table_ocr_spark.kernel.html_extract import extract_html as extract
        else:
            from table_ocr_spark.kernel.layout import extract_pdf

            if pdf_config is not None:
                def extract(p, _cfg=pdf_config):
                    return extract_pdf(p, _cfg)
            else:
                extract = extract_pdf

        for batch in batches:
            urls = batch.column("url")
            payloads = batch.column("html").to_pylist()
            texts: List[str] = []
            cells_col: List[List[dict]] = []
            n_tables: List[int] = []
            degraded: List[bool] = []
            for p in payloads:
                if p is None:
                    texts.append("")
                    cells_col.append([])
                    n_tables.append(0)
                    degraded.append(False)  # absent payload != parse failure
                    continue
                try:
                    r = extract(p)
                except DEGRADABLE_ERRORS:
                    # a malformed payload (truncated FAKEPDF container,
                    # corrupt spans) degrades to an empty row, FLAGGED:
                    # one poison document must not kill a 4-hour stage,
                    # but the degradation is accounted per row. Anything
                    # outside DEGRADABLE_ERRORS (kernel regression,
                    # MemoryError, NotImplementedError capability gap)
                    # propagates and fails the stage loudly.
                    texts.append("")
                    cells_col.append([])
                    n_tables.append(0)
                    degraded.append(True)
                    continue
                texts.append(r.text)
                cells_col.append(r.cells_as_dicts())
                n_tables.append(r.n_tables)
                degraded.append(False)
            arrays = [
                urls,
                pa.array(texts, pa.string()),
                pa.array(cells_col, pa.list_(_PA_CELL)),
                pa.array(n_tables, pa.int32()),
                pa.array(degraded, pa.bool_()),
            ]
            names = ["url", "extracted_text", "cells", "n_tables", "degraded"]
            for c in passthrough:
                arrays.append(batch.column(c))
                names.append(c)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return gen


# no-passthrough instances (streaming/incremental.py plugs the html one
# into its own mapInArrow call)
_extract_arrow_batches = _kernel_batches("html")
_extract_pdf_arrow_batches = _kernel_batches("pdf")


def extract_pdf_documents(
    pages: DataFrame,
    num_partitions: Optional[int] = None,
    payload_col: str = "payload",
    page_config=None,
) -> DataFrame:
    """PDF-layout twin of :func:`extract_documents`: ``(url, payload)``
    → ``(url, extracted_text, cells, n_tables)`` via the geometry
    segmentation kernel (kernel/layout.py). Map-only by default.
    ``page_config`` (:class:`~table_ocr_spark.kernel.layout.PageConfig`)
    applies the reference's pre-segmentation page transforms — side
    crops for page-edge bleed, grayscale for rendered pages
    (``table_ocr/core.py:197-205``, ``config.py:29-33``)."""
    df = pages.select("url", F.col(payload_col).alias("html"))
    if num_partitions is not None:
        df = salted_repartition(df, "url", num_partitions)
    return df.mapInArrow(
        _kernel_batches("pdf", pdf_config=page_config), EXTRACT_SCHEMA
    )


def host_of(url_col) -> F.Column:
    """Host component of a url column (cheap regexp, codegen'd). The
    host ends at '/', '?', '#', or end-of-string — pathless homepage
    urls and uppercase schemes are common in crawl data, and the old
    trailing-'/' requirement mapped ALL of them to host '' (one
    pseudo-host absorbing every host's homepages: exactly the
    straggler-partition skew this helper exists to prevent)."""
    return F.regexp_extract(url_col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)


def salted_repartition(
    df: DataFrame,
    key: str = "url",
    num_partitions: Optional[int] = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Repartition by ``xxhash64(key, salt)``. For a map-only stage a
    plain url-hash is already uniform; the explicit salt column is the
    hook host-keyed stages use to break hot-host skew (north rule).
    """
    salt = F.pmod(F.xxhash64(F.col(key), F.lit(7)), F.lit(salt_buckets))
    if num_partitions:
        return df.repartition(num_partitions, F.xxhash64(F.col(key)), salt)
    return df.repartition(F.xxhash64(F.col(key)), salt)


def hot_hosts(
    df: DataFrame, url_col: str = "url", hot_share: float = 0.05
) -> list:
    """Hosts holding more than ``hot_share`` of all rows, found with one
    cheap count aggregation (map-side combine; shuffle rows = number of
    distinct hosts, not documents). The result is by construction a
    short list (at most 1/hot_share entries), safe to collect and
    embed as a literal filter."""
    counts = (
        df.groupBy(host_of(F.col(url_col)).alias("_host"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .cache()  # two actions below; unpersisted before return (no leak)
    )
    try:
        total = counts.agg(F.sum("_n")).first()[0] or 0
        if total == 0:
            return []
        rows = counts.filter(F.col("_n") > total * hot_share).collect()
        return [r["_host"] for r in rows]
    finally:
        counts.unpersist()


def skew_aware_repartition(
    df: DataFrame,
    url_col: str = "url",
    num_partitions: Optional[int] = None,
    hot_share: float = 0.05,
    salt_buckets: int = 16,
) -> DataFrame:
    """Host-keyed layout with explicit hot-host salting (the north
    rule's skew strategy): normal hosts are partitioned by host — one
    locality-preserving bucket per host — while any host exceeding
    ``hot_share`` of the corpus is spread over ``salt_buckets`` salts.
    Web corpora are Zipfian in host; without the salt a single hot
    host becomes one straggler partition that serializes the whole
    stage at 1000 executors. (AQE fixes skewed *join* sides; a skewed
    *kernel compute* partition needs this manual salt.)"""
    hosts = hot_hosts(df, url_col, hot_share)
    host = host_of(F.col(url_col))
    salt = F.when(
        host.isin(hosts),
        F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets)),
    ).otherwise(F.lit(0))
    if num_partitions:
        return df.repartition(num_partitions, host, salt)
    return df.repartition(host, salt)


def extract_documents(
    pages: DataFrame,
    num_partitions: Optional[int] = None,
    keep_columns: Optional[List[str]] = None,
) -> DataFrame:
    """pages ``(url, warc_ts, html, ...)`` → ``(url, extracted_text,
    cells, n_tables [, keep_columns...])``.

    The heavy ``html`` column is confined to the scan→kernel segment of
    the plan; ``keep_columns`` ride THROUGH the Arrow kernel stage as
    zero-copy passthrough arrays — never a post-hoc join of two
    corpus-sized tables by url (the previous shape: a full shuffle join
    just to recover columns the map stage already had in hand).

    The html crosses no exchange HERE, but a caller's upstream window
    can still move it: ``build_training_corpus`` runs
    :func:`latest_capture` first, and that url window shuffles the
    whole pages row, html included, once. Extracting ahead of the
    window would shuffle only the text, but it fuses the WARC parse and
    the kernel into one task: on perfbench's ``crawl`` workload (4
    CPUs, ``local[4]``) that started 12 Python workers instead of 8,
    about +0.5 GB summed RSS, for about +2% docs/s — so the window
    stays first.
    """
    keep = tuple(
        c for c in (keep_columns or []) if c not in ("url", "html")
    )
    clash = [
        c
        for c in keep
        if c in ("extracted_text", "cells", "n_tables", "degraded")
    ]
    if clash:
        raise ValueError(
            f"keep_columns {clash} collide with the extraction output "
            f"columns; rename them on the input first"
        )
    df = pages.select("url", "html", *keep)
    # Extraction is map-only: by default the scan's split planning
    # (spark.sql.files.maxPartitionBytes) levels partitions and the
    # html NEVER crosses a shuffle — at 100 TB an exchange of the raw
    # html column would be the single largest cost in the job. Pass
    # num_partitions to force an explicit url-hash+salt layout (e.g.
    # when the sink wants url-aligned buckets).
    if num_partitions is not None:
        df = salted_repartition(df, "url", num_partitions)
    schema = T.StructType(
        list(EXTRACT_SCHEMA.fields) + [pages.schema[c] for c in keep]
    )
    return df.mapInArrow(_kernel_batches("html", keep), schema)


def latest_capture(pages: DataFrame, count_col: Optional[str] = None) -> DataFrame:
    """Latest capture per url (W3 pattern, SURVEY.md §2.5): dedup
    re-crawled urls keeping max ``warc_ts``; equal-ts redeliveries
    (at-least-once upstream) tie-break on the greatest html hash so
    the survivor — and therefore downstream extracted text — is
    byte-identical across runs and partitionings. ``count_col`` also
    appends the url's capture count, taken over the same partition and
    order (a whole-partition frame), so it costs no extra exchange or
    sort: the sum of that column over the output is the input row
    count. With it, Spark no longer plans its partial per-url top-1
    (``WindowGroupLimit``) ahead of the exchange, which only a window
    of rank functions gets: every capture crosses the exchange, and the
    map side skips its sort of the html rows. So the exchange grows by
    the re-crawled rows: on ``generate_pages`` input (12k urls, 4
    CPUs) this window alone wrote +3%, +13% and +23% shuffle bytes at
    0%, 33% and 50% re-crawled rows, at equal wall time."""
    from pyspark.sql import Window as W

    w = W.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(F.xxhash64("html"))
    )
    cols = [F.row_number().over(w).alias("_rn")]
    if count_col is not None:
        whole = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        cols.append(F.count(F.lit(1)).over(whole).alias(count_col))
    # one select: both window columns land in ONE Window operator
    return pages.select("*", *cols).filter(F.col("_rn") == 1).drop("_rn")
