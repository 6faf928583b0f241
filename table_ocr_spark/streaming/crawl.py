"""Streaming crawl-loop turns: the incremental twin of
``pipelines.next_frontier``.

A live crawl drops ``.warc(.gz)`` files into a bucket as fetch workers
finish; each ``streaming_frontier`` invocation drains the NOT-yet-seen
files (Structured Streaming file-source checkpoint, the
``read_warc_stream`` contract) and turns every micro-batch into the
next politeness fetch plan via the SAME batch composition —
``crawl_pages`` → ``next_frontier`` — so the streaming path inherits
every pin (charset normalization, RFC 3986 resolution, robots gate,
Crawl-delay floors, prioritization) from the batch operators instead
of re-implementing them.

State layout under ``state_dir`` (all batch-id-keyed, so foreachBatch
RETRIES overwrite their own output instead of duplicating — the
idempotence rule Structured Streaming asks of sinks):

- ``checkpoint/`` — the file-source progress (which WARC files are
  ingested);
- ``plans/batch=N/`` — parquet fetch plan of micro-batch N
  (``plan_fetches`` schema: url, host, seq, worker, delay_s, eta_s);
- ``seen/batch=N/`` — canonical urls CLAIMED by batch N: the urls it
  planned plus the urls it fetched. Each batch anti-joins its
  candidates against its OWN fetched urls plus the union of all
  EARLIER ``seen`` parts (strictly ``batch < N`` — a retrying batch
  must not read its crashed attempt's claims, which would anti-join
  away its whole frontier and commit an empty plan), so a url is
  planned at most once across the stream's lifetime.

Equivalence contract (pinned in tests): the UNION of planned url
sets across streaming batches equals the all-at-once
``next_frontier`` run (with every fetched url as ``seen_urls``) PLUS
the urls that were planned in an early turn and then fetched in a
later one — the loop working as intended: a plan is made before its
fetches land, so the all-at-once view retroactively marks those
targets "already fetched" while the stream correctly planned them
first. Per-host ``seq``/``eta_s`` are assigned WITHIN each batch
(politeness is enforced per fetch round), so they differ from the
all-at-once plan by construction.

Scale shape: per micro-batch, the ``seen`` side is one parquet scan
of url-cardinality (Bloom-prunable anti-join, same as the batch
loop); everything else is the batch plan. The per-batch listing cost
of ``seen/`` grows with batch count — compact it offline (coalesce
old ``batch=N`` parts into one) when a long-lived stream accumulates
thousands of turns; the layout makes that a rename-safe operation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from table_ocr_spark.sources.catalog import fs_exists


def streaming_frontier(
    spark: SparkSession,
    warc_glob: str,
    state_dir: str,
    keep_statuses: tuple = (200,),
    html_only: bool = True,
    seen_urls: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
    **frontier_kwargs,
) -> None:
    """Drain all new WARC files under ``warc_glob`` (availableNow) and
    write one fetch plan per micro-batch under
    ``state_dir/plans/batch=N``; blocks until drained. ``seen_urls``
    optionally seeds the already-crawled set (column ``url``,
    canonical) on top of the stream's own accumulated claims;
    ``frontier_kwargs`` pass through to
    :func:`pipelines.next_frontier` (robots frame, blocklist,
    prioritize, delays, ...)."""
    from table_ocr_spark.pipelines import crawl_pages, next_frontier
    from table_ocr_spark.sources.warc import read_warc_stream

    plans_root = os.path.join(state_dir, "plans")
    seen_root = os.path.join(state_dir, "seen")

    def _turn(records: DataFrame, batch_id: int) -> None:
        from table_ocr_spark.operators.urlnorm import canonical_url

        sess = records.sparkSession
        # pages back two consumers (the plan and the claims write);
        # persist so the WARC parse + charset decode kernels run once
        pages = crawl_pages(
            records, keep_statuses=keep_statuses, html_only=html_only
        ).persist()
        plan = None
        try:
            fetched = pages.select(
                canonical_url(F.col("url")).alias("url")
            )
            # this batch's OWN fetched urls are seen too — a
            # multi-file batch (e.g. the bootstrap drain of a full
            # bucket) must not plan pages it just ingested
            seen = fetched
            if fs_exists(sess, seen_root):
                # batch=N dirs partition-discover a `batch` column;
                # a RETRYING batch must not read its own crashed
                # attempt's claims (it would anti-join away its
                # whole frontier and commit an empty plan).
                # Schema is PINNED, never inferred: a crashed first
                # batch can leave seen/ holding only an uncommitted
                # _temporary dir, and schema inference over a
                # part-less root raises on EVERY retry — the pinned
                # schema reads it as empty and the retry converges
                # (same fix as plans/lineage.py's meta read)
                seen = seen.union(
                    sess.read.schema("url string, batch int")
                    .parquet(seen_root)
                    .where(F.col("batch") < F.lit(int(batch_id)))
                    .select("url")
                )
            if seen_urls is not None:
                seen = seen.union(seen_urls.select("url"))
            plan, _ = next_frontier(
                pages, seen_urls=seen, **frontier_kwargs
            )
            plan = plan.persist()
            plan.write.mode("overwrite").parquet(
                os.path.join(plans_root, f"batch={batch_id}")
            )
            # claims: what this batch planned + what it fetched —
            # written AFTER the plan so a crash between the writes
            # re-runs the batch with these claims invisible (the
            # batch < batch_id filter) and overwrites both,
            # converging
            claimed = plan.select("url").union(fetched).dropDuplicates(
                ["url"]
            )
            claimed.write.mode("overwrite").parquet(
                os.path.join(seen_root, f"batch={batch_id}")
            )
        finally:
            if plan is not None:
                plan.unpersist()
            pages.unpersist()

    q = (
        read_warc_stream(
            spark,
            warc_glob,
            max_files_per_trigger=max_files_per_trigger,
        )
        .writeStream.foreachBatch(_turn)
        .option(
            "checkpointLocation", os.path.join(state_dir, "checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_plans(spark: SparkSession, state_dir: str) -> DataFrame:
    """All fetch plans the stream has emitted, tagged with their
    micro-batch id (the ``batch=N`` dirs partition-discover as a
    ``batch`` column)."""
    return spark.read.parquet(os.path.join(state_dir, "plans"))
