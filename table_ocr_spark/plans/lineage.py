"""Per-partition lineage + checkpointed, idempotent restart.

Spark re-expression of the reference's batch-job lifecycle: the job
state machine ``PENDING → RUNNING → {SUCCEEDED, FAILED, ...}``
(``table_ocr/config.py:18-26``), 60 s polling (``batch.py:221-247``)
and idempotent skip-if-exists download (``batch.py:278-289``) become a
**bucketed lineage table**: work is keyed by ``bucket =
pmod(xxhash64(url), num_buckets)``; each completed bucket appends a
terminal lineage row ``(run_id, bucket, status, rows_out, n_degraded,
checksum, started_at, finished_at)``; a restarted run anti-joins pending buckets
against completed lineage rows and re-processes only those
(SURVEY.md §2.10, §4.3.3).

Lineage timestamps are UTC: ``started_at``/``finished_at`` are stamped
as tz-aware UTC datetimes, so the stored instant does not depend on the
driver's local zone. The lineage and ``_meta`` rows are driver-built
local relations (:func:`table_ocr_spark.local_frames.local_frame`): a
commit runs no Python worker.

Output data is written ``partitionBy("bucket")`` with DYNAMIC partition
overwrite, so re-processing a bucket is idempotent (exactly-once per
bucket at rest even if a wave crashed mid-write).

At 10^12 docs: buckets are the unit of commit (choose num_buckets so a
bucket ≈ a few GB); waves bound the blast radius of a failure. The
lineage table is tiny (num_buckets rows per run) and broadcast-joinable.
"""

from __future__ import annotations

import datetime as _dt
import os
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.local_frames import local_frame
from table_ocr_spark.operators.extract import extract_documents

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("rows_out", T.LongType()),
        # rows whose payload failed to parse and degraded to an empty
        # extraction (extract.DEGRADABLE_ERRORS) — per-bucket audit so
        # a kernel/data regression shows up in lineage, not just as
        # silently-empty text behind a green checksum
        T.StructField("n_degraded", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
    ]
)

SUCCEEDED = "SUCCEEDED"


@dataclass
class RunReport:
    run_id: str
    buckets_total: int
    buckets_done_prior: int
    buckets_processed: int
    rows_out: int
    rows_degraded: int = 0


class InjectedFailure(RuntimeError):
    """Test hook — simulates an executor/driver crash between waves."""


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _extracted_schema() -> T.StructType:
    """Schema of the written data dir (extraction output + the bucket
    partition column) — pinned so stats read-back never depends on
    inference over possibly part-less directories."""
    from table_ocr_spark.operators.extract import EXTRACT_SCHEMA

    return T.StructType(
        list(EXTRACT_SCHEMA.fields)
        + [T.StructField("bucket", T.IntegerType())]
    )


def _meta_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_meta")


def read_run_meta(spark: SparkSession, out_dir: str) -> Optional[int]:
    """The run's pinned ``num_buckets`` (written once on first run;
    FS-agnostic tiny parquet). None when the run predates the metadata
    or nothing has run yet."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(_meta_path(out_dir)).collect()
    except AnalysisException:
        return None
    return int(rows[0]["num_buckets"]) if rows else None


def _data_path(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def completed_buckets(spark: SparkSession, out_dir: str) -> List[int]:
    path = _lineage_path(out_dir)
    from pyspark.errors import AnalysisException

    try:
        lin = spark.read.parquet(path)
    except AnalysisException:
        # path missing / no readable parts = nothing done yet. ONLY
        # this — a corrupt lineage table must raise, not silently
        # read as 'nothing done' and trigger full reprocessing
        return []
    rows = (
        lin.filter(F.col("status") == SUCCEEDED)
        .select("bucket")
        .distinct()
        .collect()
    )
    return sorted(r["bucket"] for r in rows)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run1",
    num_buckets: int = 16,
    wave_size: int = 4,
    fail_after_wave: Optional[int] = None,
) -> RunReport:
    """Extract ``pages`` → ``{out_dir}/data`` (parquet, partitioned by
    bucket) with lineage rows in ``{out_dir}/_lineage``. Restartable:
    call again with the same ``out_dir`` and only pending buckets run.
    """
    # dynamic partition overwrite is scoped to THIS call: the prior
    # session value is restored on exit, so unrelated writes keep the
    # static-overwrite semantics they were written against
    _prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    try:
        return _run_pipeline_inner(
            spark, pages, out_dir, run_id, num_buckets, wave_size,
            fail_after_wave,
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", _prev_mode)


def _run_pipeline_inner(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int,
    wave_size: int,
    fail_after_wave: Optional[int],
) -> RunReport:
    # num_buckets is PINNED to the run: resuming with a different
    # bucketing would mis-route urls across the done/pending split
    existing = read_run_meta(spark, out_dir)
    if existing is None:
        # mode MUST be overwrite, not ignore: a crashed earlier meta
        # write can leave a part-less/empty _meta dir that reads as
        # None — an 'ignore' write would silently no-op against it and
        # the num_buckets pin would never materialize, letting a later
        # resume with a different bucketing slip past the guard below
        # (silent bucket mis-routing). Overwriting is safe precisely
        # because we just read the dir as meaningless.
        local_frame(spark, [(num_buckets,)], "num_buckets int").write.mode(
            "overwrite"
        ).parquet(_meta_path(out_dir))
    elif existing != num_buckets:
        raise ValueError(
            f"out_dir was created with num_buckets={existing}; resuming "
            f"with {num_buckets} would mis-route buckets"
        )

    done = set(completed_buckets(spark, out_dir))
    pending = [b for b in range(num_buckets) if b not in done]

    # re-crawled urls: latest capture wins (W3 pattern) — one output row
    # per url, deterministic under restart
    from table_ocr_spark.operators.extract import latest_capture

    deduped = latest_capture(pages) if "warc_ts" in pages.columns else pages
    bucketed = deduped.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(num_buckets)).cast("int")
    )

    processed = 0
    rows_out_total = 0
    degraded_total = 0
    waves = [
        pending[i : i + wave_size] for i in range(0, len(pending), wave_size)
    ]
    for wi, wave in enumerate(waves):
        if fail_after_wave is not None and wi == fail_after_wave:
            raise InjectedFailure(f"injected failure before wave {wi}")
        started = _dt.datetime.now(_dt.timezone.utc)
        subset = bucketed.filter(F.col("bucket").isin(wave))
        # bucket is a pure function of url — recompute after the kernel
        # stage instead of joining (keeps the stage shuffle-free)
        extracted = extract_documents(subset, keep_columns=None).withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(num_buckets)).cast("int")
        )
        extracted.write.mode("overwrite").partitionBy("bucket").parquet(
            _data_path(out_dir)
        )
        # terminal lineage rows: rows_out + order-insensitive checksum
        # schema-pinned read: a wave whose buckets hold zero urls
        # writes only _SUCCESS, and schema INFERENCE on a part-less dir
        # raises — with the explicit schema it reads as empty instead
        stats = (
            spark.read.schema(_extracted_schema()).parquet(_data_path(out_dir))
            .filter(F.col("bucket").isin(wave))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("rows_out"),
                F.sum(F.col("degraded").cast("long")).alias("n_degraded"),
                # xor-fold: order-insensitive, no ANSI long overflow
                F.expr("bit_xor(xxhash64(url, extracted_text))").alias("checksum"),
            )
            .collect()
        )
        finished = _dt.datetime.now(_dt.timezone.utc)
        stat_by_bucket = {r["bucket"]: r for r in stats}
        lin_rows = []
        for b in wave:
            s = stat_by_bucket.get(b)
            lin_rows.append(
                (
                    run_id,
                    b,
                    SUCCEEDED,
                    int(s["rows_out"]) if s else 0,
                    int(s["n_degraded"] or 0) if s else 0,
                    int(s["checksum"]) if s and s["checksum"] is not None else 0,
                    started,
                    finished,
                )
            )
        local_frame(spark, lin_rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(_lineage_path(out_dir))
        processed += len(wave)
        rows_out_total += sum(int(s["rows_out"]) for s in stats)
        degraded_total += sum(int(s["n_degraded"] or 0) for s in stats)

    return RunReport(
        run_id=run_id,
        buckets_total=num_buckets,
        buckets_done_prior=len(done),
        buckets_processed=processed,
        rows_out=rows_out_total,
        rows_degraded=degraded_total,
    )


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_data_path(out_dir))


def next_run_id(spark: SparkSession, out_dir: str) -> str:
    """Monotonic run counter (reference ``ui/utils.py:94-123``):
    ``max(existing) + 1`` over the lineage table."""
    from pyspark.errors import AnalysisException

    try:
        lin = spark.read.parquet(_lineage_path(out_dir))
    except AnalysisException:
        # path missing only — a corrupt table must raise, not restart
        # the counter at run1 and reuse an existing run_id
        return "run1"
    mx = lin.select(
        F.max(F.regexp_extract("run_id", r"(\d+)$", 1).cast("int")).alias("m")
    ).first()["m"]
    return f"run{(mx or 0) + 1}"
