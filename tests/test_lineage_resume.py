"""Checkpointed restart: kill after wave k, re-run, assert the final
table is identical (no dupes, no gaps) and lineage has one terminal row
per bucket (FIXTURES.md §6)."""

import os

import pytest
from pyspark.sql import functions as F

from table_ocr_spark.datagen.pages import write_pages_parquet
from table_ocr_spark.plans.lineage import (
    InjectedFailure,
    completed_buckets,
    next_run_id,
    read_extracted,
    run_pipeline,
)


@pytest.fixture()
def pages_path(tmp_path):
    p = os.path.join(tmp_path, "pages.parquet")
    write_pages_parquet(p, n_docs=64, seed=11)
    return p


def test_clean_run_then_resume_is_noop(spark, pages_path, tmp_path):
    out = os.path.join(tmp_path, "out1")
    pages = spark.read.parquet(pages_path)
    rep1 = run_pipeline(spark, pages, out, run_id="run1", num_buckets=8, wave_size=3)
    assert rep1.buckets_processed == 8
    n1 = read_extracted(spark, out).count()
    rep2 = run_pipeline(spark, pages, out, run_id="run2", num_buckets=8, wave_size=3)
    assert rep2.buckets_processed == 0  # everything already done
    assert read_extracted(spark, out).count() == n1


def test_failure_then_resume_identical(spark, pages_path, tmp_path):
    out_ref = os.path.join(tmp_path, "ref")
    out = os.path.join(tmp_path, "out2")
    pages = spark.read.parquet(pages_path)

    run_pipeline(spark, pages, out_ref, num_buckets=8, wave_size=3)
    want = {
        (r["url"], r["extracted_text"], r["bucket"])
        for r in read_extracted(spark, out_ref).collect()
    }

    with pytest.raises(InjectedFailure):
        run_pipeline(
            spark, pages, out, num_buckets=8, wave_size=3, fail_after_wave=1
        )
    done_mid = completed_buckets(spark, out)
    assert 0 < len(done_mid) < 8

    rep = run_pipeline(spark, pages, out, run_id="run2", num_buckets=8, wave_size=3)
    assert rep.buckets_done_prior == len(done_mid)
    got = {
        (r["url"], r["extracted_text"], r["bucket"])
        for r in read_extracted(spark, out).collect()
    }
    assert got == want  # no dupes, no gaps, byte-identical

    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    per_bucket = lin.filter(F.col("status") == "SUCCEEDED").groupBy("bucket").count()
    assert per_bucket.count() == 8
    assert per_bucket.filter(F.col("count") > 1).count() == 0


def test_next_run_id(spark, pages_path, tmp_path):
    out = os.path.join(tmp_path, "out3")
    assert next_run_id(spark, out) == "run1"
    pages = spark.read.parquet(pages_path)
    run_pipeline(spark, pages, out, run_id="run1", num_buckets=4, wave_size=4)
    assert next_run_id(spark, out) == "run2"


def test_empty_first_wave_sparse_corpus(spark, tmp_path):
    # a fresh out_dir whose first wave holds zero urls used to crash the
    # stats read-back with 'Unable to infer schema' (data dir containing
    # only _SUCCESS); the schema-pinned read treats it as empty
    from table_ocr_spark.api import get_run_state
    from table_ocr_spark.datagen.pages import generate_pages

    pages, _ = generate_pages(n_docs=12, seed=77)
    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    )
    # force a sparse bucket layout: many buckets, few docs
    rep = run_pipeline(spark, df, str(tmp_path / "sparse"), num_buckets=64,
                       wave_size=4)
    assert rep.buckets_processed == 64
    assert rep.rows_out == 12
    # degradation accounting rides the lineage rows (ADVICE r2): clean
    # corpus -> 0 degraded everywhere, and the column actually exists
    assert rep.rows_degraded == 0
    lin = spark.read.parquet(str(tmp_path / "sparse" / "_lineage"))
    assert lin.agg(F.sum("n_degraded")).first()[0] == 0
    state = get_run_state(spark, str(tmp_path / "sparse"), num_buckets=64)
    assert state.state == "SUCCEEDED"


def test_run_pipeline_restores_overwrite_mode(spark, tmp_path):
    from table_ocr_spark.datagen.pages import generate_pages

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    pages, _ = generate_pages(n_docs=8, seed=3)
    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    )
    run_pipeline(spark, df, str(tmp_path / "mode"), num_buckets=4, wave_size=4)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == prev


def test_run_meta_pins_num_buckets(spark, tmp_path):
    import pytest

    from table_ocr_spark.api import get_run_state
    from table_ocr_spark.datagen.pages import generate_pages
    from table_ocr_spark.plans.lineage import read_run_meta

    pages, _ = generate_pages(n_docs=10, seed=9)
    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    )
    out = str(tmp_path / "meta_run")
    run_pipeline(spark, df, out, num_buckets=8, wave_size=8)
    assert read_run_meta(spark, out) == 8
    # state derives from the persisted bucketing, not the caller guess
    st = get_run_state(spark, out)  # no num_buckets passed
    assert st.state == "SUCCEEDED" and st.buckets_total == 8
    st_wrong = get_run_state(spark, out, num_buckets=128)
    assert st_wrong.buckets_total == 8  # persisted meta wins

    with pytest.raises(ValueError, match="num_buckets"):
        run_pipeline(spark, df, out, num_buckets=16, wave_size=8)


def test_meta_write_recovers_from_crashed_empty_dir(spark, tmp_path):
    """A crashed first meta write can leave a part-less/empty _meta
    dir that reads as None. The meta write must OVERWRITE it (an
    'ignore'-mode write silently no-ops against the existing dir and
    the num_buckets pin never materializes — a later resume with a
    different bucketing would then mis-route urls past the guard)."""
    from table_ocr_spark.datagen.pages import generate_pages
    from table_ocr_spark.plans.lineage import read_run_meta

    pages, _ = generate_pages(n_docs=10, seed=21)
    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    )
    out = str(tmp_path / "crashed_meta_run")
    os.makedirs(os.path.join(out, "_meta"))  # the crashed attempt
    assert read_run_meta(spark, out) is None
    run_pipeline(spark, df, out, num_buckets=8, wave_size=8)
    assert read_run_meta(spark, out) == 8  # the pin materialized
    with pytest.raises(ValueError, match="num_buckets"):
        run_pipeline(spark, df, out, num_buckets=16, wave_size=8)


def test_corrupt_lineage_raises_not_silent_empty(spark, tmp_path):
    """A corrupted lineage table must RAISE, not read as 'nothing
    done' — a silent [] would re-extract every bucket and restart the
    run counter over existing run ids."""
    out = str(tmp_path / "corrupt_run")
    lin = os.path.join(out, "_lineage")
    os.makedirs(lin)
    with open(os.path.join(lin, "part-00000.parquet"), "wb") as fh:
        fh.write(b"not a parquet file at all")
    with pytest.raises(Exception):
        completed_buckets(spark, out)
    with pytest.raises(Exception):
        next_run_id(spark, out)
    # a MISSING table still reads as a fresh start
    assert completed_buckets(spark, str(tmp_path / "absent")) == []
    assert next_run_id(spark, str(tmp_path / "absent")) == "run1"


@pytest.fixture()
def non_utc_driver(monkeypatch):
    """The driver process runs in UTC+05:30; the zone is restored (and
    re-read by the C library) on teardown."""
    import time

    monkeypatch.setenv("TZ", "Asia/Kolkata")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_lineage_timestamps_are_utc_on_non_utc_driver(
    spark, tmp_path, non_utc_driver
):
    """started_at/finished_at store the wall-clock instant whatever the
    driver's local zone: a naive-UTC stamp read as local time would
    land 19,800 s in the past here."""
    import time

    from table_ocr_spark.datagen.pages import generate_pages

    pages, _ = generate_pages(n_docs=6, seed=5)
    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    )
    out = str(tmp_path / "tz_run")
    run_pipeline(spark, df, out, num_buckets=2, wave_size=2)
    now = time.time()
    got = (
        spark.read.parquet(os.path.join(out, "_lineage"))
        .select(
            F.unix_timestamp("started_at").alias("s"),
            F.unix_timestamp("finished_at").alias("f"),
        )
        .collect()
    )
    assert got
    for r in got:
        assert abs(r["s"] - now) < 120, (r["s"], now)
        assert abs(r["f"] - now) < 120, (r["f"], now)


def test_run_tables_read_back_with_pinned_schema(spark, tmp_path):
    from table_ocr_spark.datagen.pages import generate_pages
    from table_ocr_spark.plans.lineage import LINEAGE_SCHEMA

    pages, _ = generate_pages(n_docs=6, seed=6)
    df = spark.createDataFrame(
        [(p["url"], p["html"]) for p in pages], "url string, html binary"
    )
    out = str(tmp_path / "schema_run")
    run_pipeline(spark, df, out, num_buckets=4, wave_size=2)
    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    assert [(f.name, f.dataType) for f in lin.schema.fields] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA.fields
    ]
    meta = spark.read.parquet(os.path.join(out, "_meta"))
    assert meta.schema.simpleString() == "struct<num_buckets:int>"
