"""Large-corpus rehearsal on local[32] — the recorded evidence that the
operator plans survive well past bench SF (BASELINE.md "Scale
rehearsal" rows). Round 3 adds the training-shard sink (VERDICT r2
#10): pack 1M documents into fixed-capacity sequences and materialize
the sorted per-shard parquet layout, so the two-phase prefix sum AND
the shard write pattern have a recorded large-corpus number like
extract/dedup do.

Builds the corpus once (base documents replicated with unique urls/ids,
text quadrupled so kernel work dominates task constants), then times:
  extract          — map-only Arrow kernel over 1M pages
  exact_dedup      — (xxhash64, md5)-keyed clustering over 1M docs
  line_repetition  — map-only dup-line kernel over 1M docs
  novel_documents  — 500k new anti-joined against 500k seen
  dsir_weights     — hashed-bigram LLR over 1M docs (1% target slice)
  blocked_hosts    — 1M REAL-host urls vs a 10k-entry list
  tiers+budget     — score_tiers + exact token-budget sample over 1M docs
  duplicate_clusters — CC over ~400k edges incl. a 10k-node chain
  cluster_survivors  — best-score survivor per cluster over 1M docs
  pack+shards      — pack_sequences + write_training_shards over 1M docs

Usage: python scripts/scale_rehearsal.py [target_docs] [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    target = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from table_ocr_spark.operators.dedup import exact_dedup
    from table_ocr_spark.operators.docpages import documents_as_pages
    from table_ocr_spark.operators.extract import extract_documents
    from table_ocr_spark.operators.packing import (
        pack_sequences,
        write_training_shards,
    )
    from table_ocr_spark.session import get_spark

    spark = get_spark(
        "scale_rehearsal",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "4m",
            # progress bars emit \r-glued lines that swallow the
            # timing prints when the output is piped — keep stdout
            # line-oriented, this script IS its own report
            "spark.ui.showConsoleProgress": "false",
        },
    )
    work = tempfile.mkdtemp(prefix="tos_rehearsal_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = docs.count()
        reps = max(1, target // max(n, 1))
        heavy = docs.withColumn(
            "text", F.concat_ws(" ", "text", "text", "text", "text")
        )
        # unique ids AND urls per replica
        big_docs = (
            heavy.withColumn(
                "rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1)))
            )
            .withColumn(
                "doc_id", (F.col("doc_id") * reps + F.col("rep")).cast("long")
            )
            .drop("rep")
        )
        docs_path = os.path.join(work, "docs")
        big_docs.repartition(64).write.mode("overwrite").parquet(docs_path)
        big = spark.read.parquet(docs_path)
        n_total = big.count()
        print(f"corpus: {n_total} docs")

        pages = documents_as_pages(
            big.withColumn(
                "url",
                F.concat(F.lit("https://rehearsal.example/"),
                         F.col("doc_id").cast("string")),
            )
        )
        pages_path = os.path.join(work, "pages")
        pages.write.mode("overwrite").parquet(pages_path)
        pages = spark.read.parquet(pages_path)

        t0 = time.perf_counter()
        extract_documents(pages).write.format("noop").mode("overwrite").save()
        t_ex = time.perf_counter() - t0
        print(f"extract {n_total}: {t_ex:.1f} s = {n_total/t_ex:.0f} docs/s")

        t0 = time.perf_counter()
        exact_dedup(big).write.format("noop").mode("overwrite").save()
        t_dd = time.perf_counter() - t0
        print(f"exact_dedup {n_total}: {t_dd:.1f} s")

        # round-3 operators at the same corpus size
        from table_ocr_spark.operators.dedup import novel_documents
        from table_ocr_spark.operators.importance import dsir_weights
        from table_ocr_spark.operators.textstats import line_repetition_stats
        from table_ocr_spark.operators.urlnorm import filter_blocked_hosts

        t0 = time.perf_counter()
        line_repetition_stats(big).write.format("noop").mode("overwrite").save()
        print(f"line_repetition {n_total}: {time.perf_counter()-t0:.1f} s")

        seen = big.filter(F.col("doc_id") % 2 == 0)
        new = big.filter(F.col("doc_id") % 2 == 1)
        t0 = time.perf_counter()
        novel_documents(new, seen).write.format("noop").mode("overwrite").save()
        print(f"novel_documents {n_total//2} vs {n_total//2}: "
              f"{time.perf_counter()-t0:.1f} s")

        dsir_target = big.filter(F.col("doc_id") % 100 == 0)
        t0 = time.perf_counter()
        dsir_weights(big, dsir_target).write.format("noop").mode("overwrite").save()
        print(f"dsir_weights {n_total}: {time.perf_counter()-t0:.1f} s")

        # REAL hosts (documents_as_pages pins its own 'doc:<id>' urls,
        # which are hostless and would make this a no-op pass-through —
        # review r3 pass 4): ~20k distinct hosts, some subdomained, a
        # few percent matching the list
        urls = big.select(
            F.concat(
                F.lit("https://"),
                F.when(F.col("doc_id") % 5 == 0, F.lit("cdn.")).otherwise(F.lit("")),
                F.lit("host"),
                (F.col("doc_id") % 20_000).cast("string"),
                F.lit(".example.com/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url")
        )
        blist = [f"host{i}.example.com" for i in range(10_000)]
        t0 = time.perf_counter()
        kept = filter_blocked_hosts(urls, blist).count()
        print(f"blocked_hosts {n_total} x 10k-entry list: "
              f"{time.perf_counter()-t0:.1f} s, kept {kept}")

        # retrieval + splits at the same corpus size
        from table_ocr_spark.operators.retrieval import bm25_topk
        from table_ocr_spark.operators.splits import assign_splits

        qdf = spark.createDataFrame(
            [("q1", "dup merge scan"), ("q2", "spark hash join")],
            "query_id string, query_text string",
        )
        t0 = time.perf_counter()
        top = bm25_topk(big, qdf, k=10, max_df_ratio=1.0)
        n_top = top.count()
        print(f"bm25_topk {n_total} x 2 queries: "
              f"{time.perf_counter()-t0:.1f} s, {n_top} result rows")
        assert n_top == 20, "bm25 should fill k for both queries"

        # stop-word-heavy query (r4 verdict #2): the highest-df corpus
        # term makes EVERY doc a candidate at max_df_ratio=1.0; the
        # two-phase top-k must keep this from funneling 1M candidate
        # rows through one reducer
        top_term = (
            big.select(F.explode(F.array_distinct(
                F.split(F.col("text"), r"\s+"))).alias("t"))
            .where(F.col("t") != "")
            .groupBy("t").count().orderBy(F.desc("count")).first()
        )
        stop_q = spark.createDataFrame(
            [("sw", f"{top_term['t']} dup merge")],
            "query_id string, query_text string",
        )
        print(f"stop-word term {top_term['t']!r}: df {top_term['count']}"
              f"/{n_total}")
        t0 = time.perf_counter()
        n_sw = bm25_topk(big, stop_q, k=10, max_df_ratio=1.0).count()
        print(f"bm25_topk stop-word query {n_total} candidates: "
              f"{time.perf_counter()-t0:.1f} s, {n_sw} rows")
        assert n_sw == 10

        # a 32-query labeling batch (~96 usable terms): the kernel
        # pays one token pass per doc for the whole batch
        words = [r["t"] for r in (
            big.select(F.explode(F.array_distinct(
                F.split(F.col("text"), r"\s+"))).alias("t"))
            .where(F.col("t") != "")
            .groupBy("t").count().orderBy(F.desc("count"))
            .limit(120).collect()
        )][20:116]  # skip stop words, keep mid-df terms
        batch = spark.createDataFrame(
            [(f"b{i}", " ".join(words[3 * i:3 * i + 3]))
             for i in range(32)],
            "query_id string, query_text string",
        )
        t0 = time.perf_counter()
        n_b = bm25_topk(big, batch, k=10, max_df_ratio=1.0).count()
        print(f"bm25_topk 32-query batch {n_total} docs: "
              f"{time.perf_counter()-t0:.1f} s, {n_b} rows")

        # eTLD+1 default (r4): subdomained urls over 20k distinct
        # registrable sites — www./cdn. of one site must cohere
        split_urls = big.select(
            F.concat(
                F.lit("https://"),
                F.when(F.col("doc_id") % 2 == 0, F.lit("www.")).otherwise(
                    F.lit("cdn.")
                ),
                F.lit("site"),
                (F.col("doc_id") % 20_000).cast("string"),
                F.lit(".co.uk/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url")
        )
        t0 = time.perf_counter()
        split_counts = {
            r["split"]: r["c"]
            for r in assign_splits(split_urls, {"val": 0.1, "test": 0.1})
            .groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        print(f"assign_splits (etld1) {n_total}: "
              f"{time.perf_counter()-t0:.1f} s, {split_counts}")
        assert set(split_counts) == {"train", "val", "test"}
        # subdomain cohesion: no registrable site straddles splits
        straddlers = (
            assign_splits(split_urls, {"val": 0.1, "test": 0.1})
            .select(
                F.regexp_extract("url", r"(site\d+\.co\.uk)", 1).alias("s"),
                "split",
            )
            .groupBy("s")
            .agg(F.countDistinct("split").alias("k"))
            .filter(F.col("k") > 1)
            .count()
        )
        assert straddlers == 0, f"{straddlers} sites straddle splits"

        # round-3 tier surface at the same corpus size
        from table_ocr_spark.operators.dedup import (
            cluster_survivors,
            duplicate_clusters,
        )
        from table_ocr_spark.operators.sampling import token_budget_sample
        from table_ocr_spark.operators.textstats import token_stats
        from table_ocr_spark.operators.tiers import score_tiers

        t0 = time.perf_counter()
        tiers = score_tiers(token_stats(big), "quality_score", n_tiers=4)
        kept_budget = token_budget_sample(
            tiers, budget=100_000_000, strata_col="tier",
            weight_col="n_tokens",
        )
        n_kept = kept_budget.count()
        print(
            f"score_tiers+token_budget_sample {n_total}: "
            f"{time.perf_counter()-t0:.1f} s, kept {n_kept}"
        )
        assert 0 < n_kept < n_total, "budget sample kept everything/nothing"

        # dup-pair graph: ~40% of docs in 2-3-node chains PLUS one
        # 10k-node chain that forces pointer jumping through ~14
        # rounds — the worst realistic diameter stress
        short_chains = big.select("doc_id").filter(
            (F.col("doc_id") % 5) < 2
        ).select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
        )
        long_chain = spark.range(9_999).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        cc_pairs = short_chains.union(long_chain)
        t0 = time.perf_counter()
        clusters = duplicate_clusters(big, cc_pairs)
        clusters.write.format("noop").mode("overwrite").save()
        print(
            f"duplicate_clusters {n_total} docs / ~{2*n_total//5} edges "
            f"(incl. 10k-node chain): {time.perf_counter()-t0:.1f} s"
        )
        t0 = time.perf_counter()
        scores = big.select(
            "doc_id", F.length("text").cast("double").alias("quality_score")
        )
        surv = cluster_survivors(clusters, scores)
        surv.write.format("noop").mode("overwrite").save()
        print(f"cluster_survivors {n_total}: {time.perf_counter()-t0:.1f} s")

        shard_path = os.path.join(work, "shards")
        t0 = time.perf_counter()
        packed = pack_sequences(big, capacity=2048)
        write_training_shards(packed, shard_path, seqs_per_shard=1024)
        t_pk = time.perf_counter() - t0
        out = spark.read.parquet(shard_path)
        n_shards = out.select("shard").distinct().count()
        n_rows = out.count()
        print(
            f"pack+shards {n_total}: {t_pk:.1f} s -> {n_rows} rows in "
            f"{n_shards} sorted shard dirs"
        )
        # spot-check the sink contract: rows inside a shard are
        # start_offset-sorted (loader streams with zero sorting)
        one = (
            out.filter(F.col("shard") == out.select(F.min("shard")).first()[0])
            .select("start_offset").toPandas()["start_offset"].tolist()
        )
        assert one == sorted(one), "shard not sorted by start_offset"
        print("shard order contract: OK")

        # FULL tier chain (VERDICT r3 #6): raw pages -> extract ->
        # quality -> exact dedup -> minhash CC closure -> survivors ->
        # PII -> tiers -> token budget -> tier=K/ layout -> per-tier
        # packed shard sets, one composition end to end at 1M pages
        from table_ocr_spark.pipelines import (
            build_training_corpus,
            materialize_tiered_corpus,
        )

        t0 = time.perf_counter()
        corpus, rep = build_training_corpus(
            pages, n_tiers=4, token_budget=100_000_000
        )
        chain_path = os.path.join(work, "tiered")
        chain_report = materialize_tiered_corpus(corpus, chain_path)
        t_chain = time.perf_counter() - t0
        n_chain_docs = sum(t["n_docs"] for t in chain_report.values())
        print(
            f"full tier chain {n_total} pages: {t_chain:.1f} s -> "
            f"{n_chain_docs} docs in {len(chain_report)} tiers "
            f"({ {t: s['n_shards'] for t, s in chain_report.items()} } "
            f"shards); stages: {rep}"
        )
        assert n_chain_docs == rep.n_after_budget
        assert set(chain_report) == set(range(4))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
