"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()``
on DuckDB over the same parquet tables, compare row count, column
names, and exact values (rows sorted, columns sorted by name).

Usage: python scripts/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers do not inherit the driver's sys.path: they
# import the package through PYTHONPATH, set before the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [ROOT, os.environ.get("PYTHONPATH")])
)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        # a missing table only matters if an oracle references it —
        # fail there, not at startup
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        errs.append(f"columns differ: spark={sc} duck={dc}")
        return errs
    if len(spark_df) != len(duck_df):
        errs.append(f"row count differs: spark={len(spark_df)} duck={len(duck_df)}")
    s, d = canon(spark_df), canon(duck_df)
    n = min(len(s), len(d))
    bad = 0
    for i in range(n):
        for c in s.columns:
            av, bv = s.iloc[i][c], d.iloc[i][c]
            if pd.isna(av) and pd.isna(bv):
                continue
            if (pd.isna(av)) != (pd.isna(bv)) or not values_equal(av, bv):
                bad += 1
                if bad <= 3:
                    errs.append(f"value mismatch row {i} col {c}: spark={av!r} duck={bv!r}")
    if bad > 3:
        errs.append(f"... {bad} total value mismatches")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # a typo'd query name must NOT yield a vacuous green gate

    # conditioned oracles (temperature_sample) gather their threshold
    # inputs from the compared parquet — point them at THIS run's sf
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir

    import __spark_entry__ as entrymod
    from table_ocr_spark.session import get_spark

    spark = get_spark("check_contract")
    con = duck_con(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    unknown = only - set(qs)
    if unknown:
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        return 2

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle; rows-only)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        errs = compare(name, sdf, ddf)
        if errs:
            print(f"FAIL  {name}: rows spark={len(sdf)} duck={len(ddf)}")
            for e in errs[:6]:
                print(f"      {e}")
            failed.append(name)
        else:
            print(f"OK    {name}: {len(sdf)} rows")

    print()
    if failed:
        print(f"{len(failed)} FAILED: {failed}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
