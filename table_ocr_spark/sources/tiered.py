"""Tier-partitioned corpus layout: the storage half of tier extraction.

A tiered corpus is consumed tier-at-a-time (top tier for main
pretraining, mid tiers for annealing mixes), so the layout must make
"give me tier K" a metadata operation, not a corpus scan. Hive-style
``tier=K/`` partition directories do exactly that: a reader filtering
on the tier column prunes at PLANNING time (the scan's
``PartitionFilters``; non-matching directories are never listed, let
alone read) — at 100 TB the difference between reading one tier and
filtering the whole corpus IS the job. Plan-asserted in
``tests/test_tiered_layout.py``.

Sequence packing composes on top in one grouped plan for every tier:
``pack_sequences(group_col="tier")`` → ``write_training_shards(
group_col="tier")`` gives each tier its own token stream and shard
set (``pipelines.materialize_tiered_corpus``); ``read_tier`` is the
reader for consuming one tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_tiered(df: DataFrame, path: str, tier_col: str = "tier") -> None:
    """Write ``df`` partitioned by ``tier_col`` (``tier=K/``
    directories). Tier cardinality is bounded by construction
    (:func:`~table_ocr_spark.operators.tiers.score_tiers` yields
    ``n_tiers`` values), so the directory fan-out is tiny; rows within
    a tier keep their incoming partitioning — no repartition, the
    writer appends each task's rows to its tier directories."""
    if tier_col not in df.columns:
        raise ValueError(f"write_tiered: no {tier_col!r} column in input")
    df.write.mode("overwrite").partitionBy(tier_col).parquet(path)


def read_tier(
    spark: SparkSession, path: str, tier: int, tier_col: str = "tier"
) -> DataFrame:
    """One tier of a :func:`write_tiered` layout. The equality filter
    on the partition column becomes a ``PartitionFilters`` entry —
    directory pruning at planning time, zero I/O for other tiers."""
    return spark.read.parquet(path).filter(F.col(tier_col) == tier)
