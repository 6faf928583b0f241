"""1M-doc rehearsal for operators/webfilter (C4 line cleaning +
Gopher line-shape rules). Both operators are map-only, so the claim
to rehearse is THROUGHPUT, not shuffle shape: the per-line HOF
predicates run interpreted, and the question is whether a linear
interpreted pass over ~8 lines/doc holds a crawl-scale rate on 32
cores (at 1000 executors the same per-core rate is the whole story —
there is no exchange to degrade).

The corpus is the contract query's synthesized multi-line shape
(__spark_entry__._webtext_synth) replicated to the target count, so
the rehearsal exercises exactly the rule mix the oracle verifies:
kept / short / blocklisted / unpunctuated / bullet / ellipsis lines
plus doc_id-keyed lorem-ipsum and brace flags. Expected counts are
closed-form in doc_id and asserted in-run.

Usage: python scripts/rehearse_webfilter.py [target_docs] [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    target = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    import __spark_entry__ as em
    from table_ocr_spark.operators.webfilter import (
        c4_clean,
        gopher_line_rules,
    )
    from table_ocr_spark.session import get_spark

    spark = get_spark(
        "rehearse_webfilter",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    reps = max(1, target // max(n, 1))
    replicated = (
        docs.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1)))
        )
        .withColumn(
            "doc_id", (F.col("doc_id") * reps + F.col("rep")).cast("long")
        )
        .drop("rep")
    )
    pages = em._webtext_synth(replicated).persist()
    n_docs = pages.count()
    print(f"docs={n_docs} (reps={reps})")

    t0 = time.time()
    agg = c4_clean(pages).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c4_pass").cast("long")).alias("n_pass"),
        F.sum("n_kept").alias("kept"),
        F.sum(F.col("has_doc_blocklist").cast("long")).alias("n_lorem"),
        F.sum(F.col("has_brace").cast("long")).alias("n_brace"),
    ).collect()[0]
    t_c4 = time.time() - t0
    print(
        f"c4_clean: {t_c4:.1f} s "
        f"({n_docs / t_c4 / 1e6:.2f} M docs/s), "
        f"pass={agg.n_pass} lorem={agg.n_lorem} brace={agg.n_brace} "
        f"kept_lines={agg.kept}"
    )
    # closed form: every doc keeps 4 lines (first/bullet/closing/final)
    # except %11 docs whose brace line fails terminal punct (3 kept);
    # %7 docs swap 'closing' for the lorem line (still kept). Flags:
    # lorem on %7, brace on %11; c4_pass iff neither flag (min-kept 3
    # is met by every doc).
    # replication keeps doc_id dense 0..n_docs-1, so the %7/%11
    # populations are closed-form ceilings (inclusion-exclusion)
    n7 = (n_docs + 6) // 7
    n11 = (n_docs + 10) // 11
    n_both = n7 + n11 - (n_docs + 76) // 77
    assert agg.n == n_docs
    assert agg.n_lorem == n7, (agg.n_lorem, n7)
    assert agg.n_brace == n11, (agg.n_brace, n11)
    assert agg.n_pass == n_docs - n_both, (agg.n_pass, n_docs - n_both)
    assert agg.kept == 4 * n_docs - n11, (agg.kept, 4 * n_docs - n11)

    t0 = time.time()
    gagg = gopher_line_rules(pages).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("gopher_line_pass").cast("long")).alias("n_pass"),
        F.sum("n_stopword_types").alias("stop_sum"),
    ).collect()[0]
    t_gl = time.time() - t0
    print(
        f"gopher_line_rules: {t_gl:.1f} s "
        f"({n_docs / t_gl / 1e6:.2f} M docs/s), "
        f"pass={gagg.n_pass} stop_sum={gagg.stop_sum}"
    )
    assert gagg.n == n_docs
    pages.unpersist()
    print("rehearsal OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
