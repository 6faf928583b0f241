"""Sequence packing — lay the corpus out as one token stream and cut it
into fixed-capacity training sequences.

LLM pretraining consumes documents concatenated in a pinned order and
split into context-window-sized sequences; the pipeline needs, per
document, its global ``start_offset`` in that stream and the
``seq_id`` it starts in. That is an EXCLUSIVE PREFIX SUM of token
counts in document order — the textbook "window over the whole table"
trap: ``Window.orderBy(id)`` with no partition key executes on ONE
task and dies at any real scale.

Scale shape (two-phase distributed prefix sum):

1. bucket documents by ``floor(id / bucket_width)``;
2. per-bucket totals (one tiny row per bucket) → driver-side running
   sum → broadcast back as per-bucket base offsets (n/bucket_width
   rows: at 10^12 docs and width 10^6 that is 10^6 rows of 16 bytes —
   a safe bounded collect, the same O(buckets) argument as lineage);
3. within-bucket exclusive cumsum via a window PARTITIONED by bucket —
   fully parallel;
4. ``start_offset = bucket_base + within_bucket_cumsum``.

The oracle reproduces it with a plain global-window cumsum (fine at
oracle SF). Token count = the pinned whitespace tokenization shared
with doc_stats.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.local_frames import local_frame
from table_ocr_spark.operators.textstats import tokens


def pack_sequences(
    df: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    weight_col: Optional[str] = None,
    bucket_width: int = 1 << 20,
    max_buckets: int = 4_000_000,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Per document: ``n_tokens``, global ``start_offset`` (exclusive
    prefix sum over ascending ``id_col``), and ``seq_id`` =
    ``floor(start_offset / capacity)``. ``weight_col`` overrides the
    token count (e.g. a precomputed BPE length). ``group_col`` packs
    each group as its own stream in one plan: buckets are keyed
    ``(group, bucket)``, offsets restart at 0 per group, and the group
    column leads the output. The bounded-collect safety argument is
    ENFORCED, not assumed: the per-bucket totals are counted first and
    the job fails fast above ``max_buckets`` (at 4M rows ≈ 64 MB of
    driver objects) with the fix spelled out — raise ``bucket_width``
    (offsets never depend on it). Default width 2^20 ids/bucket keeps
    10^12 dense ids under 10^6 buckets."""
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    weight = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.size(tokens(F.col(text_col))).cast("long")
    )
    keys = [group_col] if group_col else []
    # try_cast, then VALIDATE: a non-numeric or NULL id would land in
    # bucket NULL, silently vanish in the inner bucket join below, and
    # (mixed with numeric ids) crash the driver sort on None<int. The
    # totals action below doubles as the validator, so the check costs
    # no extra job.
    base = df.select(
        *keys,
        F.col(id_col).alias("_id"),
        weight.alias("n_tokens"),
        F.floor(F.col(id_col).try_cast("long") / bucket_width).alias(
            "_bucket"
        ),
    )

    totals_df = base.groupBy(*keys, "_bucket").agg(
        F.sum("n_tokens").alias("_total"),
        (F.count(F.lit(1)) - F.count("n_tokens")).alias("_n_null_w"),
        F.min("n_tokens").alias("_min_w"),
    )
    # ONE action: limit bounds driver memory even when the guard fires
    totals = totals_df.limit(max_buckets + 1).collect()
    if len(totals) > max_buckets:
        raise ValueError(
            f"pack_sequences: more than max_buckets={max_buckets} buckets; "
            f"raise bucket_width (currently {bucket_width}) so the "
            f"per-bucket totals stay a bounded driver collect"
        )
    # a totals row leads with (group..., _bucket)
    if any(None in row[: len(keys) + 1] for row in totals):
        raise ValueError(
            f"pack_sequences: {id_col!r} (or {group_col!r}) has NULL or "
            "non-numeric values — the prefix sum is keyed on a numeric "
            "document id; map string ids to a dense numeric id upstream"
        )
    if any(
        row["_n_null_w"] > 0 or (row["_min_w"] is not None and row["_min_w"] < 0)
        for row in totals
    ):
        raise ValueError(
            "pack_sequences: NULL or negative token weights — fix "
            "upstream (NULL weights silently shift every later "
            "document's start_offset)"
        )
    # the running sum restarts at 0 in each group
    running: dict = {}
    bases = []
    for row in sorted(totals, key=lambda r: tuple(r[: len(keys) + 1])):
        group = tuple(row[: len(keys)])
        bases.append((*group, row["_bucket"], running.get(group, 0)))
        running[group] = running.get(group, 0) + row["_total"]
    schema = T.StructType([base.schema[k] for k in keys])
    schema = schema.add("_bucket", "long").add("_base", "long")
    base_df = local_frame(df.sparkSession, bases, schema)

    w = (
        Window.partitionBy(*keys, "_bucket")
        .orderBy(F.col("_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = base.withColumn(
        "_local", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    out = local.join(F.broadcast(base_df), [*keys, "_bucket"])
    start = F.col("_base") + F.col("_local")
    return out.select(
        *keys,
        F.col("_id").alias(id_col),
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / capacity).cast("long").alias("seq_id"),
    )


def write_training_shards(
    packed: DataFrame,
    path: str,
    seqs_per_shard: int = 1024,
    group_col: Optional[str] = None,
) -> None:
    """Materialize the packed layout as loader-ready shards:
    ``shard = floor(seq_id / seqs_per_shard)``, one parquet directory
    per shard (``shard=K/``), rows inside each shard stored in
    ``start_offset`` order so a training loader streams each shard
    sequentially with zero sorting. One hash repartition on the shard
    key co-locates a shard's rows in one task → one sorted file per
    shard directory; shard count is n_seqs/seqs_per_shard, so the
    write parallelism scales with the corpus. ``group_col`` keys it
    all on ``(group, shard)``: ``<group>=G/shard=K/`` in one write."""
    if seqs_per_shard <= 0:
        raise ValueError(f"seqs_per_shard must be positive, got {seqs_per_shard}")
    keys = [group_col, "shard"] if group_col else ["shard"]
    with_shard = packed.withColumn(
        "shard", F.floor(F.col("seq_id") / seqs_per_shard).cast("long")
    )
    (
        with_shard.repartition(*keys)
        .sortWithinPartitions(*keys, "start_offset")
        .write.mode("overwrite")
        .partitionBy(*keys)
        .parquet(path)
    )


def packing_summary(packed: DataFrame, capacity: int) -> DataFrame:
    """Per training sequence: how many documents start in it, how many
    tokens those documents contribute, and whether the last document
    straddles into the next sequence (``overflows`` — inherent to the
    concat-then-split layout, not an error)."""
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_started"),
            (
                F.max(F.col("start_offset") + F.col("n_tokens"))
                > (F.col("seq_id") + 1) * capacity
            ).alias("overflows"),
        )
        .orderBy("seq_id")
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token windows — the
    context-window chunking RAG indexing and long-document training
    pipelines run ahead of embedding/packing (the complement of
    :func:`pack_sequences`: packing concatenates SHORT docs into
    fixed sequences; chunking cuts LONG docs down to them).

    Pinned semantics (the oracle contract):

    - tokenization is the pinned whitespace ``tokens()`` shared with
      doc_stats; ``chunk_text`` re-joins with single spaces (a
      normalization, not a byte-span of the original — byte-faithful
      spans would need the offset-preserving tokenizer, a documented
      production swap-in);
    - stride = ``max_tokens - overlap``; chunk k covers tokens
      ``[k*stride, k*stride + max_tokens)`` clipped to the doc;
    - windows are emitted until one covers the document end — no
      degenerate tail chunk that is a pure suffix of its predecessor
      (n ≤ max_tokens → exactly 1 chunk; else
      ``ceil((n - max_tokens)/stride) + 1``);
    - zero-token documents yield ZERO chunks (nothing to embed;
      presence auditing belongs to doc_stats).

    Scale shape: map-only — tokens, chunk count, and the explode are
    all computed inside one projection over the scan; no exchange, no
    UDF, no driver participation. Output rows carry provenance
    (``start_token``) so chunks join back to documents losslessly."""
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}"
        )
    stride = max_tokens - overlap
    n = F.size(F.col("_toks"))
    n_chunks = (
        F.when(n == 0, F.lit(0))
        .when(n <= max_tokens, F.lit(1))
        .otherwise(
            F.floor((n - max_tokens + stride - 1) / stride).cast("int") + 1
        )
    )
    # sequence(0, -1) DESCENDS in Spark rather than being empty, so
    # the zero-chunk case must short-circuit to an empty array
    chunk_ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        id_col,
        "_toks",
        F.explode(chunk_ids).alias("chunk_id"),
    )
    start = F.col("chunk_id").cast("long") * stride
    sliced = base.withColumn(
        "_chunk", F.slice("_toks", F.col("chunk_id") * stride + 1, max_tokens)
    )
    return sliced.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.alias("start_token"),
        F.size("_chunk").cast("long").alias("chunk_tokens"),
        F.concat_ws(" ", "_chunk").alias("chunk_text"),
    )
