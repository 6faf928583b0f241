"""N→4N *executor* scaling evidence on a real Spark standalone
cluster (separate master/worker/executor JVM processes, not local
threads). Usage:

    spark-submit --master spark://127.0.0.1:7077 \\
        --conf spark.executor.cores=1 --conf spark.cores.max=<N> \\
        --py-files dist/table_ocr_spark.zip \\
        scripts/cluster_scaling.py <corpus_parquet> <n_docs>

Prints one line: CLUSTER <total_cores> <best_sec> <docs_per_sec>.
The harness (bench or manual) runs it at cores.max=N and 4N and
computes (T_N / T_4N) / 4.

The script builds its own session, not ``get_spark``'s, so it keeps
Spark's 100-entry generated-code cache. A job that runs the whole
crawl chain repeatedly in one session should pass
``--conf spark.sql.codegen.cache.maxEntries=1000`` (a static conf: it
only applies when the session starts; see ``session.py``).
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import SparkSession


def main() -> int:
    corpus, n_docs = sys.argv[1], int(sys.argv[2])
    spark = (
        SparkSession.builder.appName("cluster_scaling")
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from table_ocr_spark.operators.extract import extract_documents

    cores = int(spark.conf.get("spark.cores.max"))
    pages = spark.read.parquet(corpus)

    def run() -> None:
        extract_documents(pages).write.format("noop").mode("overwrite").save()

    run()  # warmup: spins every executor's python workers
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    print(f"CLUSTER {cores} {best:.3f} {n_docs / best:.1f}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
