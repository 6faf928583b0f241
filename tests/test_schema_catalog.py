"""Dynamic schema compilation + payload decode (the reference's core
data path) and the catalog CRUD/resolve layer."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_ocr_spark.functions.schema_builder import (
    SchemaField,
    build_payload_schema,
    build_row_schema,
    decode_table_payload,
    required_violations,
)
from table_ocr_spark.sources.catalog import CatalogStore, resolve_projects

FIELDS = [
    SchemaField("name", "STRING", required=True),
    SchemaField("jahr", "INTEGER"),
    SchemaField("aktiv", "BOOLEAN"),
    SchemaField("betrag", "NUMBER"),
]


def test_build_schema_types():
    row = build_row_schema(FIELDS)
    assert [f.dataType for f in row.fields] == [
        T.StringType(), T.LongType(), T.BooleanType(), T.DoubleType()
    ]
    payload = build_payload_schema(FIELDS)
    assert isinstance(payload["table"].dataType, T.ArrayType)
    with pytest.raises(ValueError):
        SchemaField("x", "ARRAY").spark_type()


def test_decode_table_payload_permissive(spark):
    rows = [
        # fenced payload, 2 rows (fence strip = F1)
        ("u1", '```json\n{"table": [{"name": "Huber", "jahr": 1876, '
               '"aktiv": true, "betrag": 1.5}, {"name": "Meier"}]}\n```'),
        # mis-typed jahr -> null, row kept (strict=False coercion)
        ("u2", '{"table": [{"name": "Kunz", "jahr": "seventeen"}]}'),
        # malformed payload -> zero rows, job survives (skip-and-log)
        ("u3", "not json at all"),
        # required field missing -> row kept, flagged by validator
        ("u4", '{"table": [{"jahr": 1900}]}'),
    ]
    df = spark.createDataFrame(rows, "url string, payload string")
    out = decode_table_payload(df, FIELDS, provenance=["url"])
    got = {(r["url"], r["row_index"]): r for r in out.collect()}
    assert got[("u1", 0)]["name"] == "Huber" and got[("u1", 0)]["jahr"] == 1876
    assert got[("u1", 0)]["betrag"] == 1.5 and got[("u1", 0)]["aktiv"] is True
    assert got[("u1", 1)]["name"] == "Meier" and got[("u1", 1)]["jahr"] is None
    assert got[("u2", 0)]["jahr"] is None  # coerced, not rejected
    assert not any(u == "u3" for (u, _) in got)
    viol = required_violations(out, FIELDS).collect()
    assert [(r["url"], r["row_index"]) for r in viol] == [("u4", 0)]


def test_catalog_crud_and_resolve(spark, tmp_path):
    store = CatalogStore(spark, str(tmp_path / "cat"))
    now = dt.datetime(2024, 1, 1)
    assert store.read("projects").count() == 0
    assert store.get("prompts", "p1") is None

    store.upsert("prompts", [{"name": "p1", "text": "extract the table", "created_at": now}])
    store.upsert("schemas", [{"name": "s1", "fields_json": '[{"name":"name"}]', "created_at": now}])
    store.upsert("projects", [
        {"name": "lmu", "prompt_name": "p1", "schema_name": "s1", "created_at": now},
        {"name": "feldmoching", "prompt_name": "p1", "schema_name": "missing", "created_at": now},
    ])

    # upsert replaces by name (U4 dedup-on-insert)
    store.upsert("prompts", [{"name": "p1", "text": "v2 prompt", "created_at": now}])
    assert store.read("prompts").count() == 1
    assert store.get("prompts", "p1")["text"] == "v2 prompt"

    resolved = {r["name"]: r for r in resolve_projects(store).collect()}
    assert resolved["lmu"]["prompt_text"] == "v2 prompt"
    assert resolved["lmu"]["fields_json"] == '[{"name":"name"}]'
    assert resolved["feldmoching"]["fields_json"] is None  # left join

    store.delete("projects", "feldmoching")
    assert store.read("projects").count() == 1

    # the resolve join must be broadcast (J3: never shuffle on a dim)
    plan = resolve_projects(store)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    with pytest.raises(ValueError):
        store.read("nope")


def test_encode_decode_roundtrip(spark):
    from pyspark.sql import functions as F

    from table_ocr_spark.functions.schema_builder import encode_results_payload

    # typed rows -> reference payload shape -> decode again == original
    rows = [
        ("u1", 1, 1, 0, "Huber", 1876), ("u1", 1, 1, 1, "Meier", 1900),
        ("u1", 1, 2, 0, "Huber", 1876),
        ("u1", 2, 1, 0, "Kunz", None),
        ("u2", 1, 1, 0, "Lang", 1850),
    ]
    fields = [SchemaField("name", "STRING"), SchemaField("jahr", "INTEGER")]
    decoded = spark.createDataFrame(
        rows, "url string, page int, sample int, row_index int, name string, jahr long"
    )
    payload = encode_results_payload(decoded, fields)
    got = {r["url"]: r for r in payload.collect()}
    assert got["u1"]["num_pages"] == 2
    assert len(got["u1"]["results"][0]) == 2  # page 1: two samples
    # reference shape: results[page][sample] is a '{"table": [...]}' string
    import json

    t = json.loads(got["u1"]["results"][0][0])
    assert t["table"][0]["name"] == "Huber" and t["table"][1]["jahr"] == 1900

    # roundtrip through the decoder: same typed rows back
    flat = payload.select(
        "url", F.posexplode("results").alias("p0", "_page")
    ).select(
        "url", (F.col("p0") + 1).alias("page"),
        F.posexplode("_page").alias("s0", "payload"),
    ).select("url", "page", (F.col("s0") + 1).alias("sample"), "payload")
    redecoded = decode_table_payload(
        flat, fields, provenance=["url", "page", "sample"]
    )
    a = {tuple(r) for r in decoded.collect()}
    b = {tuple(r) for r in redecoded.select(
        "url", "page", "sample", "row_index", "name", "jahr"
    ).collect()}
    assert a == b


def test_catalog_corrupt_file_surfaces_not_silent_empty(spark, tmp_path):
    # ADVICE (round 1): read() used to swallow EVERY exception as an
    # empty catalog, masking corruption as silent data loss. Only the
    # never-written (path-missing) case may read as empty.
    import os

    import pytest

    store = CatalogStore(spark, str(tmp_path / "cat"))
    assert store.read("prompts").count() == 0  # missing path -> empty

    os.makedirs(str(tmp_path / "cat" / "prompts"), exist_ok=True)
    with open(str(tmp_path / "cat" / "prompts" / "part-0.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    with pytest.raises(Exception):
        store.read("prompts").count()


def test_catalog_upsert_has_no_lineage_back_to_path(spark, tmp_path):
    # repeated upsert/delete over the SAME path must not depend on a
    # cached plan that reads the files being overwritten
    store = CatalogStore(spark, str(tmp_path / "cat"))
    for i in range(3):
        store.upsert("prompts", [{"name": f"p{i}", "text": f"t{i}", "created_at": None}])
    assert store.read("prompts").count() == 3
    store.delete("prompts", "p1")
    got = {r["name"] for r in store.read("prompts").collect()}
    assert got == {"p0", "p2"}


def test_encode_results_payload_dense_slots(spark):
    # ADVICE (round 1): a (page, sample) slot with zero decoded rows
    # used to vanish, shifting later slots to wrong array positions.
    # Dense shape: the gap occupies its position as '{"table": []}'.
    import json

    from table_ocr_spark.functions.schema_builder import encode_results_payload

    fields = [SchemaField("name", "STRING")]
    # u1 has pages 1..3 but page 2 decoded nothing; page 3 sample 1 only
    rows = [
        ("u1", 1, 1, 0, "a"), ("u1", 1, 2, 0, "b"),
        ("u1", 3, 1, 0, "c"),
    ]
    decoded = spark.createDataFrame(
        rows, "url string, page int, sample int, row_index int, name string"
    )
    got = encode_results_payload(decoded, fields).collect()[0]
    assert got["num_pages"] == 3
    res = got["results"]
    assert len(res) == 3 and all(len(p) == 2 for p in res)
    assert json.loads(res[1][0]) == {"table": []}          # page 2 empty
    assert json.loads(res[1][1]) == {"table": []}
    assert json.loads(res[2][0])["table"][0]["name"] == "c"  # page 3 NOT shifted
    assert json.loads(res[2][1]) == {"table": []}            # missing sample slot

    # explicit domain: trailing page 4 missing entirely from decoded rows
    domain = spark.createDataFrame(
        [("u1", p, s) for p in (1, 2, 3, 4) for s in (1, 2)],
        "url string, page int, sample int",
    )
    got4 = encode_results_payload(decoded, fields, domain=domain).collect()[0]
    assert got4["num_pages"] == 4
    assert json.loads(got4["results"][3][1]) == {"table": []}


def test_encode_results_payload_span_guard(spark):
    # ADVICE (round 2): page/sample indices are decoded from untrusted
    # payloads; one corrupt huge index must fail fast NAMING the url,
    # not materialize millions of filler slots or kill the stage opaquely
    import pytest

    from table_ocr_spark.functions.schema_builder import encode_results_payload

    fields = [SchemaField("name", "STRING")]
    decoded = spark.createDataFrame(
        [("u_ok", 1, 1, 0, "a"), ("u_bad", 1, 1, 0, "b"),
         ("u_bad", 20_000, 1, 0, "c")],
        "url string, page int, sample int, row_index int, name string",
    )
    with pytest.raises(Exception, match="max_span.*u_bad"):
        encode_results_payload(decoded, fields).collect()
    # a wide-but-legit document passes with the bound raised deliberately
    out = encode_results_payload(decoded, fields, max_span=50_000).count()
    assert out == 2


def test_fs_exists_probe(spark, tmp_path):
    """The shared Hadoop-FS existence probe (sources/catalog.fs_exists
    — called by operators/dedup.py and streaming/crawl.py): plain
    bool, no error-text matching."""
    from table_ocr_spark.sources.catalog import fs_exists

    there = tmp_path / "yes"
    there.mkdir()
    assert fs_exists(spark, str(there)) is True
    assert fs_exists(spark, str(tmp_path / "no")) is False
