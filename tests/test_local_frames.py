"""local_frame: driver-built rows become Arrow local relations with the
list path's values, types and type errors."""

import ast
import datetime as dt
import pathlib

import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql import Row
from pyspark.sql import types as T

from table_ocr_spark.local_frames import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "table_ocr_spark"

CASES = {
    "nulls": (
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]),
        [(1, None, 0.5), (2, "b", None), (None, "c", 1.0)],
    ),
    "array_double": (
        "id long, vec array<double>",
        [(1, [0.5, -1.0]), (2, None), (3, []), (4, [None, 2.0])],
    ),
    "timestamp": (
        "id long, ts timestamp",
        [
            (1, dt.datetime(2026, 1, 1, 12, 0, 0, 123456)),
            (2, dt.datetime(2026, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)),
            (3, None),
        ],
    ),
    "empty": ("id long, s string", []),
    "rows": (
        "id long, flag boolean, n int",
        [Row(id=7, flag=True, n=3), Row(id=8, flag=None, n=None)],
    ),
}


@pytest.fixture()
def utc_driver(monkeypatch):
    import time

    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_is_local_table_scan(spark, case):
    schema, rows = CASES[case]
    plan = _formatted_plan(local_frame(spark, rows, schema))
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_path(spark, case, utc_driver):
    schema, rows = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_rejects_str_in_long(spark, case):
    schema, _ = CASES[case]
    n_cols = len(spark.createDataFrame([], schema).columns)
    bad = [("not a long",) + (None,) * (n_cols - 1)]
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame(bad, schema)
    with pytest.raises(PySparkTypeError):
        local_frame(spark, bad, schema)


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    schema = T.StructType([T.StructField("name", T.StringType(), False)])
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None,)], schema)


def test_no_create_dataframe_outside_the_helper():
    """Every driver-side row list in the package goes through
    local_frame; a direct createDataFrame call plans as a pickled
    PythonRDD and starts a Python worker pool of its own."""
    helper = PKG / "local_frames.py"
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and path != helper
            ):
                sites.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert sites == [], "createDataFrame outside local_frame: " + ", ".join(sites)
