"""Driver-contract surface: entry() smoke, queries()/oracle_sql()
key alignment, and a DuckDB spot-check of a few queries at sf0.001
(the full 50-query sweep runs in scripts/check_contract.py at sf0.01;
this is the fast regression net)."""

import duckdb
import pytest

import __spark_entry__ as em

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

SPOT = ["extract_html_pdf", "majority_vote", "dedup_exact",
        "fingerprint_logprob", "embedding_near_dup"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_entry_smoke(spark):
    df = em.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "extracted_text", "n_tables", "n_cells"}


def test_every_oracle_key_has_a_query():
    qs, oracles = em.queries(), em.oracle_sql()
    assert set(oracles) <= set(qs), set(oracles) - set(qs)
    # r4: every query is oracled — temperature_sample got its
    # conditioned oracle (thresholds computed once, embedded as
    # literals in both engines)
    assert set(qs) == set(oracles)
    # the driver correctness gate snapshots at most 50 queries()
    # keys (observed: r01 43=all, r02 50=all, r03 50 of 63 — the
    # dict-order prefix); growing past 50 silently un-verifies the
    # tail. Compose, don't append, past this line.
    assert len(qs) <= 50, "driver gate caps at 50 keys — compose queries"


def test_spot_queries_match_oracle(spark, sf_dir, duck):
    qs, oracles = em.queries(), em.oracle_sql()
    for name in SPOT:
        sdf = qs[name](spark, sf_dir).toPandas()
        ddf = duck.execute(oracles[name]).fetchdf()
        assert sorted(sdf.columns) == sorted(ddf.columns), name
        assert len(sdf) == len(ddf), name
        s = sdf.reindex(sorted(sdf.columns), axis=1).sort_values(
            by=sorted(sdf.columns), ignore_index=True
        )
        d = ddf.reindex(sorted(ddf.columns), axis=1).sort_values(
            by=sorted(ddf.columns), ignore_index=True
        )
        for c in s.columns:
            assert list(s[c].astype(str)) == list(d[c].astype(str)), (name, c)
