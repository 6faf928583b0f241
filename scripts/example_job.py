"""Example production job — the BASELINE.json ship mechanism:

    python scripts/make_submit_zip.py
    spark-submit --py-files dist/table_ocr_spark.zip \\
        scripts/example_job.py <pages_parquet> <out_dir>

Reads a pages table, runs the checkpointed extraction pipeline
(bucketed lineage, idempotent restart), prints a one-line report.
The package resolves from the zip on driver and executors alike.

The job builds its own session, not ``get_spark``'s, so it keeps
Spark's 100-entry generated-code cache. Pass
``--conf spark.sql.codegen.cache.maxEntries=1000`` to hold every plan
shape of the crawl chain across calls (a static conf: it only applies
when the session starts; see ``session.py``).
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from table_ocr_spark import create_extraction_run, get_run_state


def main() -> int:
    pages_path, out_dir = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.appName("table_ocr_spark_extract").getOrCreate()
    pages = spark.read.parquet(pages_path)
    rep = create_extraction_run(spark, pages, out_dir, num_buckets=8, wave_size=8)
    state = get_run_state(spark, out_dir, num_buckets=8)
    print(
        f"RUN {rep.run_id}: state={state.state} "
        f"buckets={rep.buckets_processed}/{rep.buckets_total} "
        f"rows_out={rep.rows_out}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
