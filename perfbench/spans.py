"""Per-layer costs of one traced pass, folded from Spark's event log.

``crawl_to_shards`` is re-composed stage by stage from the same public
operators ``build_training_corpus`` and ``materialize_tiered_corpus``
call. Each stage is one span: the public call plus the action that
materializes its output, run under a Spark job group named after the
span. After the session stops (which flushes the log), the event log is
folded by job group into per-span counters. ``lineage`` is
``run_pipeline`` over the same ingested pages.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from pyspark.sql import functions as F

SPANS = ["ingest", "extract", "lineage", "quality", "exact_dedup", "minhash",
         "cc", "survivors", "pii", "tiers", "budget", "shards"]
COUNTERS = ["wall_s", "jobs", "tasks", "executor_cpu_s", "executor_run_s",
            "gc_s", "shuffle_write_mb", "spill_mb", "rows_out"]
UNITS = {"jobs": "count", "tasks": "count", "shuffle_write_mb": "MB",
         "spill_mb": "MB", "output_mb": "MB", "coverage": "share"}
# the per-layer metrics of the traced run, (name, better); rows_out and
# minhash.pairs are fixed by the input, and trace.overhead_s is mostly
# plan compilation, so they are printed, not tracked
PER_LAYER = [(f"{s}.{c}", "lower") for s in SPANS for c in COUNTERS[:-1]] + [
    ("lineage.self_s", "lower"), ("lineage.wave_s_p50", "lower"),
    ("lineage.wave_s_max", "lower"), ("shards.output_mb", "lower"),
    ("trace.coverage", "higher")]
MB = float(1 << 20)


def unit(name: str) -> str:
    return UNITS.get(name.split(".", 1)[1], "s")


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir}


def fold_event_log(log_dir: str) -> dict:
    """{job group: {jobs, tasks, executor_cpu_s, ...}} over every event
    file under ``log_dir``. A stage's tasks belong to the first job that
    lists the stage (later jobs list it again only as skipped)."""
    stage_group: dict = {}
    jobs: dict = {}
    tasks: list = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    out: dict = {g: {"jobs": n, "tasks": 0, "executor_cpu_s": 0.0,
                     "executor_run_s": 0.0, "gc_s": 0.0,
                     "shuffle_write_mb": 0.0, "spill_mb": 0.0}
                 for g, n in jobs.items()}
    for ev in tasks:
        m = ev.get("Task Metrics")
        row = out.get(stage_group.get(ev["Stage ID"]))
        if m is None or row is None:
            continue
        row["tasks"] += 1
        row["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
        row["executor_run_s"] += m["Executor Run Time"] / 1e3
        row["gc_s"] += m["JVM GC Time"] / 1e3
        row["shuffle_write_mb"] += (
            m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB)
        row["spill_mb"] += m["Disk Bytes Spilled"] / MB
    return out


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / MB


class Tracer:
    """Runs each span under its own job group and records wall time and
    output rows; counters come later from :func:`fold_event_log`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict = {}
        self.rows: dict = {}

    def span(self, name: str, fn):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            result, rows = fn()
        finally:
            self.wall[name] = time.perf_counter() - t0
            self.sc.setJobGroup("glue", "between spans")
        self.rows[name] = rows
        return result


def traced_crawl_to_shards(spark, warc_glob: str, path: str, lineage_dir: str,
                           n_tiers: int, token_budget: int, capacity: int,
                           seqs_per_shard: int, num_buckets: int,
                           wave_size: int) -> tuple:
    """The stage-by-stage twin of ``crawl_to_shards(warc_glob, path, ...)``
    with default thresholds. Returns ``(tracer, tier report, extras)``."""
    from table_ocr_spark.operators.dedup import (
        cluster_survivors, duplicate_clusters, exact_dedup, minhash_lsh_pairs)
    from table_ocr_spark.operators.extract import (
        extract_documents, latest_capture)
    from table_ocr_spark.operators.sampling import token_budget_sample
    from table_ocr_spark.operators.textstats import (
        gopher_quality, redact_pii, token_stats)
    from table_ocr_spark.operators.tiers import score_tiers
    from table_ocr_spark.pipelines import (
        ingest_crawl, materialize_tiered_corpus)
    from table_ocr_spark.plans.lineage import run_pipeline

    tr = Tracer(spark)

    def cached(df):
        df = df.cache()
        return df, df.count()

    pages = tr.span("ingest", lambda: cached(ingest_crawl(spark, warc_glob)))
    extracted = tr.span("extract", lambda: cached(
        extract_documents(latest_capture(pages))
        .select("url", F.col("extracted_text").alias("text"))
        .filter(F.length("text") > 0)))
    lineage = tr.span("lineage", lambda: (
        lambda rep: (rep, rep.rows_out))(
            run_pipeline(spark, pages, lineage_dir, num_buckets=num_buckets,
                         wave_size=wave_size)))
    passed = tr.span("quality", lambda: cached(extracted.join(
        gopher_quality(extracted, text_col="text", id_col="url")
        .filter(F.col("quality_pass")).select("url"), "url", "left_semi")))
    uniq = tr.span("exact_dedup", lambda: cached(passed.join(
        exact_dedup(passed, text_col="text", id_col="url")
        .filter(~F.col("is_dup")).select("url"), "url", "left_semi")))
    pairs = tr.span("minhash", lambda: cached(minhash_lsh_pairs(
        uniq, text_col="text", id_col="url", k=3, threshold=0.8)))
    clusters = tr.span("cc", lambda: cached(
        duplicate_clusters(uniq, pairs, id_col="url")))
    scores = uniq.select("url", F.length("text").cast("double").alias("_len"))
    near_uniq = tr.span("survivors", lambda: cached(uniq.join(
        cluster_survivors(clusters, scores, id_col="url", score_col="_len")
        .filter(F.col("keep")).select("url"), "url", "left_semi")))

    def pii():
        clean = redact_pii(near_uniq, text_col="text", id_col="url").cache()
        clean.filter(F.col("had_pii")).count()
        return clean.select("url", F.col("redacted_text").alias("text"),
                            "n_emails", "n_phones"), clean.count()

    corpus = tr.span("pii", pii)

    def tiers():
        stats = token_stats(corpus, text_col="text", id_col="url").select(
            "url", "n_tokens", "quality_score")
        tiered = score_tiers(stats, "quality_score", n_tiers=n_tiers)
        return cached(corpus.join(
            tiered.select("url", "n_tokens", "tier"), "url"))

    tiered = tr.span("tiers", tiers)
    budgeted = tr.span("budget", lambda: cached(token_budget_sample(
        tiered, token_budget, strata_col="tier", weight_col="n_tokens",
        key="url")))
    report = tr.span("shards", lambda: (
        lambda rep: (rep, sum(t["n_docs"] for t in rep.values())))(
            materialize_tiered_corpus(budgeted, path, capacity=capacity,
                                      seqs_per_shard=seqs_per_shard)))

    lin = spark.read.parquet(os.path.join(lineage_dir, "_lineage"))
    waves = [(r["finished_at"] - r["started_at"]).total_seconds()
             for r in lin.select("started_at", "finished_at").distinct()
             .collect()]
    extras = {
        "minhash.pairs": tr.rows["minhash"],
        "lineage.self_s": tr.wall["lineage"] - tr.wall["extract"],
        # with a handful of waves no percentile has ten samples beyond
        # it, so the highest order statistic the data supports is the max
        "lineage.wave_s_p50": statistics.median(waves),
        "lineage.wave_s_max": max(waves),
        "shards.output_mb": _dir_mb(os.path.join(path, "shards")),
    }
    spark.catalog.clearCache()
    return tr, report, extras


def span_metrics(tr: Tracer, folded: dict) -> dict:
    """Flat ``<span>.<counter>`` metrics for every span."""
    out: dict = {}
    for s in SPANS:
        row = folded.get(s, {})
        out[f"{s}.wall_s"] = tr.wall[s]
        out[f"{s}.rows_out"] = tr.rows[s]
        for c in COUNTERS[1:-1]:
            out[f"{s}.{c}"] = row.get(c, 0)
    return out
