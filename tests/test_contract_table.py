"""The contract table (``__spark_entry__.CONTRACT``) and the bench list
(``__spark_entry__.BENCH``): their orders are pinned by the committed
round records, every composite keeps the oracle's column order, and the
budget samplers leave no cache-manager entry behind."""

import json
import pathlib

import duckdb

import __spark_entry__ as em

REPO = pathlib.Path(__file__).resolve().parent.parent

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _bench_full() -> dict:
    return json.loads((REPO / "BENCH_FULL.json").read_text())


def test_bench_order_matches_committed_bench():
    names = [em.name_of(fn) for fn, _ in em.BENCH]
    assert names == list(_bench_full()["queries"])


def test_r2_flag_reproduces_committed_subtotal():
    full = _bench_full()
    r2 = [em.name_of(fn) for fn, flags in em.BENCH if flags & em.R2]
    assert len(r2) == 22
    assert round(sum(full["queries"][n] for n in r2), 3) == full["r2_subtotal"]


def test_queries_order_matches_latest_correctness_record():
    latest = sorted(REPO.glob("CORRECTNESS_r*.json"))[-1]
    assert list(em.queries()) == list(json.loads(latest.read_text()))


def test_column_order_matches_oracle(spark, sf_dir):
    # scripts/check_contract.py compares columns sorted by name; a
    # positional schema check would not, so the order is pinned here
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = em.oracle_sql()
    for name, fn in em.queries().items():
        want = [r[0] for r in con.execute(f"DESCRIBE ({oracles[name]})").fetchall()]
        assert fn(spark, sf_dir).columns == want, name


def test_budget_samplers_leave_no_cache_entry(spark, sf_dir):
    cache = spark._jsparkSession.sharedState().cacheManager()
    for fn in (em.q_token_budget_sample, em.q_unimax_sample):
        spark.catalog.clearCache()
        fn(spark, sf_dir).collect()
        assert cache.isEmpty(), em.name_of(fn)
