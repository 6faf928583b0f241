"""Catalog layer: projects / prompts / schemas dimension entities.

Reference parity: ``ui/storage.py`` persists three JSON lists keyed by
unique ``name`` with read-all / filter / rewrite CRUD
(``storage.py:41-123``); ``ui/models.py:192-247`` defines the records;
projects resolve their prompt/schema by name lookup at use time
(``ui/pages/projects.py:174-175``, J3).

Here each catalog is a name-keyed parquet table; lookups are broadcast
hash joins (the tables are O(10)-O(1000) rows — never let a dimension
this size drive a shuffle of the fact side), upsert is
read-modify-write keyed on ``name`` (the reference rewrites the whole
JSON file, ``storage.py:54-66``; snapshot isolation comes from
writing a fresh directory per version under Iceberg this is a plain
``MERGE INTO``).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.local_frames import local_frame

CATALOGS = ("projects", "prompts", "schemas")

_SCHEMAS = {
    # ui/models.py:192-247 — flattened records; schema fields ride as a
    # JSON string (the reference stores them nested in the same file)
    "projects": T.StructType(
        [
            T.StructField("name", T.StringType(), False),
            T.StructField("prompt_name", T.StringType()),
            T.StructField("schema_name", T.StringType()),
            T.StructField("created_at", T.TimestampType()),
        ]
    ),
    "prompts": T.StructType(
        [
            T.StructField("name", T.StringType(), False),
            T.StructField("text", T.StringType()),
            T.StructField("created_at", T.TimestampType()),
        ]
    ),
    "schemas": T.StructType(
        [
            T.StructField("name", T.StringType(), False),
            T.StructField("fields_json", T.StringType()),
            T.StructField("created_at", T.TimestampType()),
        ]
    ),
}


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (FS-agnostic — local/HDFS/S3A, never
    error-text matching). THE shared copy: ``operators/dedup.py`` and
    ``streaming/crawl.py`` import this; ``CatalogStore._path_missing``
    wraps it with the Connect-gateway fallback."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


class CatalogStore:
    """≙ ``DataStore`` (``ui/storage.py:11-123``)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, catalog: str) -> str:
        if catalog not in CATALOGS:
            raise ValueError(f"unknown catalog {catalog!r}")
        return os.path.join(self.root, catalog)

    def read(self, catalog: str) -> DataFrame:
        """read-all (``storage.py:41-44``); a catalog that has never
        been written reads as empty. Only the path-missing case is
        translated to empty — a CORRUPT parquet file must surface, not
        masquerade as an empty catalog (silent data loss).

        Path-missing is decided by a direct Hadoop-FS existence probe
        (FS-agnostic: local/HDFS/S3A), not by substring-matching one
        Spark version's error text — older/newer Sparks phrase it
        'Path does not exist' vs 'PATH_NOT_FOUND' (ADVICE r2). The
        error-condition check remains as the fallback where the JVM
        gateway is unavailable (Spark Connect)."""
        from pyspark.errors import AnalysisException

        path = self._path(catalog)
        try:
            return self.spark.read.schema(_SCHEMAS[catalog]).parquet(path)
        except AnalysisException as e:
            if self._path_missing(path, e):
                return local_frame(self.spark, [], _SCHEMAS[catalog])
            raise

    def _path_missing(self, path: str, err) -> bool:
        try:
            return not fs_exists(self.spark, path)
        except Exception:
            pass  # no JVM gateway (Connect) — fall back to the error
        cond = None
        for attr in ("getCondition", "getErrorClass"):
            fn = getattr(err, attr, None)
            if fn is not None:
                try:
                    cond = fn()
                except Exception:
                    cond = None
                if cond:
                    break
        if cond is not None:
            return cond == "PATH_NOT_FOUND"
        msg = str(err)
        return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg

    def get(self, catalog: str, name: str) -> Optional[dict]:
        """name lookup (``storage.py:46-52``)."""
        rows = self.read(catalog).filter(F.col("name") == name).limit(1).collect()
        return rows[0].asDict() if rows else None

    def upsert(self, catalog: str, rows: list[dict]) -> None:
        """insert-or-replace by name (``storage.py:54-66`` rewrites the
        file; same read-modify-write here, name-deduped — U4)."""
        incoming = local_frame(self.spark, rows, _SCHEMAS[catalog])
        existing = self.read(catalog)
        merged = incoming.unionByName(
            existing.join(incoming.select("name"), "name", "left_anti")
        ).dropDuplicates(["name"])
        self._rewrite(catalog, merged)

    def delete(self, catalog: str, name: str) -> None:
        """≙ ``storage.py:112-123``."""
        self._rewrite(catalog, self.read(catalog).filter(F.col("name") != name))

    def _rewrite(self, catalog: str, df: DataFrame) -> None:
        """Overwrite the catalog with rows derived FROM the same path.
        cache() + overwrite is not safe for that: cache eviction or an
        executor loss mid-write recomputes from already-deleted files.
        Catalogs are O(10) rows by contract, so the robust move is to
        materialize them on the driver and write from a literal
        DataFrame with no lineage back to the path. (Under Iceberg this
        whole method is a MERGE INTO snapshot commit.)"""
        out = local_frame(self.spark, df.collect(), _SCHEMAS[catalog])
        out.write.mode("overwrite").parquet(self._path(catalog))


def resolve_projects(store: CatalogStore) -> DataFrame:
    """Projects with their prompt text and schema fields resolved by
    name — the J3 lookup join (``ui/pages/projects.py:174-175``) as
    broadcast hash joins."""
    projects = store.read("projects")
    prompts = store.read("prompts").select(
        F.col("name").alias("prompt_name"), F.col("text").alias("prompt_text")
    )
    schemas = store.read("schemas").select(
        F.col("name").alias("schema_name"), "fields_json"
    )
    return projects.join(F.broadcast(prompts), "prompt_name", "left").join(
        F.broadcast(schemas), "schema_name", "left"
    )
