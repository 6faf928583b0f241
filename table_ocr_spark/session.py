"""SparkSession factory with the engine's pinned configuration.

Generated-code cache: Spark keeps the classes whole-stage codegen
compiles in a process-wide LRU of ``spark.sql.codegen.cache.maxEntries``
entries, 100 by default. One ``crawl_to_shards`` call compiles about
225 distinct classes (``build_training_corpus`` about 155,
``run_pipeline`` 33), and a cyclic access pattern larger than an LRU
gets almost no hits: at 100 entries every warm call recompiled nearly
all of them (Janino, then the JIT again for each freshly loaded
class). ``get_spark`` pins 1000 entries: the whole chain with
headroom, at about 5 KB of source per entry.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "table_ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session with AQE, Arrow, UTC, and sane local
    defaults. On a real cluster the same conf applies minus ``master``.

    Reuse caveat (getOrCreate semantics): if the process already holds
    a session, JVM-immutable settings here — ``master``,
    ``spark.driver.memory``, the code-cache size
    ``spark.sql.codegen.cache.maxEntries`` — silently DO NOT apply;
    only SQL-mutable confs do. A mismatched ``master`` on reuse gets a
    warning below; restart the process (or ``spark.stop()`` first) to
    change immutable settings.
    """
    import warnings

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html:binary payloads dominate batch memory — bound Arrow batches
        # (SURVEY.md §7.3.4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        # static: holds every plan shape of the chain (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    active = SparkSession.getActiveSession()
    spark = b.getOrCreate()
    if active is not None and spark.sparkContext.master != master:
        warnings.warn(
            f"get_spark: reusing existing session on "
            f"{spark.sparkContext.master!r}; requested master "
            f"{master!r} (and any driver-memory setting) does not "
            "apply — stop the session or restart the process",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
