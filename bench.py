#!/usr/bin/env python
"""Benchmark harness (driver-run, per round).

Times the components in ``__spark_entry__.BENCH``, in its order, at
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test tables) on
``local[$SPARK_GRAFT_CPUS]``, then evidences
the north rule's two-cluster-size scaling criterion by running the SAME
extraction job at local[N] and local[4N] on identical input and
reporting throughput at each plus efficiency = (T_N / T_4N) / 4, for
the pairs in SCALING_PAIRS (2 → 8, the primary pair, and 8 → 32).

Prints exactly ONE JSON line to stdout:
  {"metric": ..., "value": <total headline sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "scaling": {...}}
and rewrites BENCH.md with the human-readable numbers.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_SCALING=0 (skip scaling runs),
SPARK_GRAFT_SCALE_DOCS (target corpus size for the scaling runs).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# Spark's Python workers do not inherit the driver's sys.path: they
# import the package through PYTHONPATH, set before the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [ROOT, os.environ.get("PYTHONPATH")])
)

import __spark_entry__ as em  # noqa: E402


def _r2_names() -> list[str]:
    """The round-1/2 headline subset, whose subtotal is still reported
    on its own so the suite stays comparable to BENCH_r01/r02."""
    return [em.name_of(fn) for fn, flags in em.BENCH if flags & em.R2]


# N -> 4N pairs for the scaling criterion. (2, 8) is the primary pair:
# a best-of-3 multiprocessing probe shows this VM delivers 2/4/8 procs
# at ~100% of nominal but only ~23.7 effective cores at 32 procs (~74%)
# — a host-capacity ceiling, not a job property — so 8 -> 32 is capped
# at ~0.74 efficiency for ANY perfectly-scaling job. Both pairs are
# measured and reported.
SCALING_CORES = (2, 8, 32)
SCALING_PAIRS = ((2, 8), (8, 32))


def _noop_write(df) -> None:
    """Force full execution without sink cost."""
    df.write.format("noop").mode("overwrite").save()


def _mk_session(cpus: int):
    from table_ocr_spark.session import get_spark

    return get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        # the bench corpus html rows are ~1KB (vs ~100KB real crawl); at
        # the default 128MB split size the whole corpus collapses into
        # 2-3 scan tasks and the shuffle-map side serializes. 2MB keeps
        # the scan as parallel as the kernel stage, roughly the ratio a
        # 128MB split gives real-sized documents.
        extra_conf={"spark.sql.files.maxPartitionBytes": "2m"},
    )


def run_headline(
    spark, sf_dir: str
) -> tuple[dict[str, float], list[float], dict[str, float]]:
    """Returns (times, per-group host probes, query->probe map)."""
    qs = [(em.name_of(fn), fn, flags) for fn, flags in em.BENCH]
    # warmup: JVM + python workers + parquet footer cache. The python
    # warmup runs one mapInArrow AND one pandas-UDF stage across all
    # partitions so the full-width python worker pool (both runner
    # kinds) is forked before anything is timed — otherwise the first
    # python-stage query pays ~2s of worker spin-up even at best-of-2.
    from pyspark.sql import functions as _F

    spark.range(1000).selectExpr("sum(id)").collect()
    _noop_write(em.q_doc_stats(spark, sf_dir))

    _warm = _F.pandas_udf(lambda v: v, "long")
    wdf = spark.range(0, 3200, 1, 32)
    _noop_write(wdf.select(_warm("id").alias("id")))
    _noop_write(
        wdf.mapInArrow(lambda it: it, "id long")
    )
    _noop_write(em.q_pdf_extract(spark, sf_dir))  # materialize payload corpus
    # best-of-2 (shared hosts have load spikes); HEAVY
    # components get a third trial (why: the comment on em.BENCH)
    # in-band host-capacity probes (VERDICT r3 #8): one effective-core
    # probe per query GROUP, so entries taken under a co-tenant spike
    # self-qualify in BENCH.md instead of reading as code regressions
    group_size = 10
    times: dict[str, float] = {}
    probes: list[float] = []
    query_probe: dict[str, float] = {}
    for gi in range(0, len(qs), group_size):
        probe = probe_effective_cores()
        probes.append(probe)
        for name, fn, flags in qs[gi:gi + group_size]:
            query_probe[name] = probe
            best = float("inf")
            for _ in range(3 if flags & em.HEAVY else 2):
                t0 = time.perf_counter()
                _noop_write(fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
                # dedup operators cache intermediates; don't let leaked
                # caches build memory pressure for later queries
                spark.catalog.clearCache()
            times[name] = round(best, 3)
    return times, probes, query_probe


def build_scale_corpus(spark, sf_dir: str, out_path: str, target_docs: int) -> int:
    """Replicate documents_as_pages(documents) to ~target_docs pages
    with unique urls; write once so both scaling runs read identical
    parquet. Each document's body text is quadrupled first so the
    per-row kernel work dominates fixed per-row/stage overheads — the
    scaling measurement should reflect the kernel (the 100 TB cost
    center), not task-scheduling constants."""
    from pyspark.sql import functions as F

    from table_ocr_spark.operators.docpages import documents_as_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    reps = max(1, target_docs // max(n, 1))
    heavy = docs.withColumn(
        "text", F.concat_ws(" ", "text", "text", "text", "text")
    )
    pages = documents_as_pages(heavy)
    pages = (
        pages.withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(reps))))
        .withColumn("url", F.concat("url", F.lit("#"), F.col("rep").cast("string")))
        .drop("rep")
    )
    pages.repartition(64).write.mode("overwrite").parquet(out_path)
    return n * reps


def time_extract(cpus: int, corpus_path: str, trials: int = 2) -> float:
    """Fresh session at local[cpus]; time the extraction job end-to-end
    (map-only plan: scan splits define parallelism, no exchange of the
    html column — the production-scale shape). One full untimed warmup
    pass spins up ALL python workers and warms the page cache; best of
    ``trials`` timed passes."""
    spark = _mk_session(cpus)
    try:
        from table_ocr_spark.operators.extract import extract_documents

        pages = spark.read.parquet(corpus_path)
        _noop_write(extract_documents(pages))
        best = float("inf")
        for _ in range(trials):
            t0 = time.perf_counter()
            _noop_write(extract_documents(pages))
            best = min(best, time.perf_counter() - t0)
        return best
    finally:
        spark.stop()


def probe_effective_cores(procs: int = 32) -> float:
    """Pure-Python multiprocessing probe: how many effective cores the
    host delivers at ``procs`` workers RIGHT NOW (fixed per-proc work;
    effective = procs * avg_task_time / wall). Recorded alongside the
    scaling numbers so a load-contaminated window is visible in the
    data instead of masquerading as a scaling regression."""
    import multiprocessing as mp

    with mp.Pool(procs) as pool:
        t0 = time.perf_counter()
        task_secs = pool.map(_spin_task, range(procs))
        wall = time.perf_counter() - t0
    return round(procs * (sum(task_secs) / len(task_secs)) / wall, 1)


def _spin_task(_: int) -> float:
    # CPU time, not wall: a worker queued behind others for a core must
    # not count its waiting as work, or an oversubscribed host reads as
    # ``procs`` effective cores
    t0 = time.process_time()
    x = 0
    for i in range(4_000_000):
        x += i
    return time.process_time() - t0


def run_scaling_rounds(corpus_path: str, n_docs: int, rounds: int = 3) -> dict:
    """Measure all parallelism levels back-to-back within each round
    and compute efficiency from WITHIN-ROUND pairs: background host
    load drifts on the minutes scale, so a T_N and T_4N measured in
    different minutes produce a noisy ratio even when each is
    individually best-of-N.

    Statistics (ADVICE r2: no one-sided stopping): the round count is
    FIXED up front — no adaptive extra round keyed on the observed
    value. Every within-round ratio is reported, plus two summary
    statistics per pair: ``median`` (unbiased location — the gate
    statistic) and ``best`` (the least load-contaminated window — what
    the job can do; host noise only ever drags a ratio DOWN, never up,
    so best is a bound, not an estimate). The per-round host-capacity
    probes evidence which rounds were load-contaminated."""
    per_round = []
    probes = []
    for _ in range(rounds):
        probes.append(probe_effective_cores())
        # one timed pass per level per round: noise robustness comes
        # from the within-round pairing + the fixed multi-round design,
        # not from per-level repetition (keeps total bench wall bounded)
        per_round.append(
            {c: time_extract(c, corpus_path, trials=1) for c in SCALING_CORES}
        )
    best_level = {c: min(r[c] for r in per_round) for c in SCALING_CORES}
    runs = {
        str(c): {
            "sec": round(best_level[c], 3),
            "docs_per_sec": round(n_docs / best_level[c], 1),
        }
        for c in SCALING_CORES
    }

    def _median(xs):
        xs = sorted(xs)
        n = len(xs)
        mid = n // 2
        return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2

    pairs = {}
    pairs_all = {}
    pairs_median = {}
    for lo, hi in SCALING_PAIRS:
        ratios = [(r[lo] / r[hi]) / (hi / lo) for r in per_round]
        pairs_all[f"{lo}->{hi}"] = [round(x, 3) for x in ratios]
        pairs_median[f"{lo}->{hi}"] = round(_median(ratios), 3)
        pairs[f"{lo}->{hi}"] = round(max(ratios), 3)
    return {
        "n_docs": n_docs,
        "runs": runs,
        "efficiency": pairs,                 # best within-round ratio
        "efficiency_median": pairs_median,   # unbiased gate statistic
        "efficiency_all_rounds": pairs_all,  # every paired sample
        "primary_pair": "2->8",
        "primary_efficiency": pairs["2->8"],
        "primary_efficiency_median": pairs_median["2->8"],
        "rounds": [
            {str(c): round(t, 3) for c, t in r.items()} for r in per_round
        ],
        # one probe per round, taken just before it: ~32 = unloaded
        # host, markedly less = co-tenant load during that round
        "host_effective_cores_at_32": probes,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
    do_scaling = os.environ.get("SPARK_GRAFT_SCALING", "1") == "1"
    target_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "250000"))
    import re as _re

    _m = _re.search(r"sf(\d+(?:\.\d+)?)/?$", sf_dir)
    sf = float(_m.group(1)) if _m else 0.0

    work = tempfile.mkdtemp(prefix="tos_bench_")
    scaling: dict = {}
    try:
        spark = _mk_session(cpus)
        qtimes, hprobes, query_probe = run_headline(spark, sf_dir)
        corpus_path = os.path.join(work, "pages")
        if do_scaling:
            n_docs = build_scale_corpus(spark, sf_dir, corpus_path, target_docs)
        spark.stop()

        if do_scaling:
            scaling = run_scaling_rounds(corpus_path, n_docs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    total = round(sum(qtimes.values()), 3)
    r2 = _r2_names()
    r2_subtotal = round(sum(qtimes[n] for n in r2), 3)
    result = {
        "metric": "headline query suite wall time + extraction scaling",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        # the round-1/2 headline subset's subtotal, for round-over-round
        # comparison against BENCH_r01 (28.88) / BENCH_r02 (20.52)
        "r2_subtotal": r2_subtotal,
        "sf": sf,
        # per-group in-band host probes (effective cores of 32) taken
        # DURING the headline suite; <22.4 (~0.7 capacity) marks a
        # co-tenant-loaded window
        "headline_host_probes": hprobes,
        "scaling": scaling,
    }
    _write_bench_md(result, query_probe)
    # Full record (all per-query times, every scaling sample) goes to a
    # committed file; stdout's LAST line is a COMPACT summary that fits
    # the driver's bounded tail capture (BENCH_r04.json was parsed:null
    # because the 67-key map pushed the JSON line past the capture
    # window and the tail began mid-JSON).
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    with open(full_path, "w") as f:
        json.dump(result, f, indent=1)
    s = scaling or {}
    compact = {
        "metric": "headline query suite wall time + extraction scaling",
        "value": total,
        "unit": "sec",
        # the round-1/2-comparable subset only; the full per-query map
        # (len(qtimes) keys) lives in BENCH_FULL.json / BENCH.md
        "queries": {k: qtimes[k] for k in r2 if k in qtimes},
        "n_queries_total": len(qtimes),
        "queries_full_file": "BENCH_FULL.json",
        "r2_subtotal": r2_subtotal,
        "sf": sf,
        "headline_host_probes": hprobes,
        "scaling": {
            "n_docs": s.get("n_docs"),
            "runs": s.get("runs"),
            "efficiency": s.get("efficiency"),
            "efficiency_median": s.get("efficiency_median"),
            "primary_pair": s.get("primary_pair"),
            "primary_efficiency": s.get("primary_efficiency"),
            "primary_efficiency_median": s.get(
                "primary_efficiency_median"
            ),
            "host_effective_cores_at_32": s.get(
                "host_effective_cores_at_32"
            ),
        } if s else {},
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 3500:  # belt-and-braces: never outgrow the capture
        compact.pop("queries", None)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    return 0


LOW_CAPACITY = 22.4  # 0.7 * 32 nominal cores


def _write_bench_md(result: dict, query_probe: dict | None = None) -> None:
    query_probe = query_probe or {}
    r2 = _r2_names()
    probes = result.get("headline_host_probes", [])
    lines = [
        "# BENCH — measured numbers (regenerated by bench.py)",
        "",
        f"sf = {result['sf']}, headline suite total = {result['value']} s "
        f"({len(result['queries'])} queries; the round-2 extended surface "
        "is promoted into the headline as of round 3)",
        "",
        f"Round-1/2-comparable subtotal (the original {len(r2)}-query "
        f"headline): **{result.get('r2_subtotal')} s** "
        "(vs 28.88 r1, 20.52 r2 driver runs).",
        "",
        f"In-band host-capacity probes during the suite (effective cores "
        f"of 32, one per ~10-query group): {probes}. Entries marked `†` "
        f"ran in a group whose probe read < {LOW_CAPACITY} "
        "(~0.7 capacity — a co-tenant-loaded window; treat their "
        "round-over-round drift as host noise until re-measured).",
        "",
        "| query | sec | probe |",
        "|---|---|---|",
    ]
    for k, v in result["queries"].items():
        star = "" if k in r2 else " *"
        p = query_probe.get(k)
        flag = "†" if (p is not None and p < LOW_CAPACITY) else ""
        lines.append(f"| {k}{star} | {v}{flag} | {p if p is not None else ''} |")
    lines.append("")
    lines.append("`*` = not in the round-2 subtotal.")
    s = result.get("scaling") or {}
    if s:
        lines += [
            "",
            "## Scaling (north rule: N → 4N workers, local-mode substitute)",
            "",
            f"Same extraction job, identical input ({s['n_docs']} docs), "
            "fresh SparkSession per parallelism level, full untimed warmup "
            "pass before each timed pass:",
            "",
            "| cores | wall sec | docs/sec |",
            "|---|---|---|",
        ]
        for c, r in s["runs"].items():
            lines.append(f"| local[{c}] | {r['sec']} | {r['docs_per_sec']} |")
        lines += [
            "",
            "| N → 4N | best (T_N/T_4N)/4 | median | all rounds |",
            "|---|---|---|---|",
        ]
        for pair, eff in s["efficiency"].items():
            med = s.get("efficiency_median", {}).get(pair, "")
            allr = s.get("efficiency_all_rounds", {}).get(pair, "")
            lines.append(f"| {pair} | {eff} | {med} | {allr} |")
        lines += [
            "",
            f"**Primary pair {s['primary_pair']}: best = "
            f"{s['primary_efficiency']}, median = "
            f"{s.get('primary_efficiency_median')}** (target ≥ 0.8 per "
            "BASELINE.json north_rule). Round count is fixed up front "
            "(no adaptive stopping); the median is the unbiased gate "
            "statistic, the best is the least load-contaminated window "
            "(host noise only drags ratios down).",
            "",
            "The 8→32 pair is additionally reported but is capped by the "
            "host itself: the in-band multiprocessing probes above "
            f"measured {s.get('host_effective_cores_at_32', [])} effective "
            "cores at 32 procs during these rounds (~24/32 even on an "
            "unloaded VM), so ANY perfectly-scaling job reads below 1.0 "
            "at 8→32 here. The 2→8 pair runs entirely inside the region "
            "where the host provides nominal capacity and is therefore "
            "the faithful N→4N evidence.",
            "",
            "Executor-level evidence (real standalone cluster, separate "
            "master/worker/executor JVMs): see BASELINE.md — 2→8 "
            "single-core executors, efficiency by round: 0.846 (r1), "
            "0.824 (r2), 0.839/0.868 (r3), 0.945/0.917 (r4), 0.888 (r5); "
            "reproduce with `bash scripts/run_cluster_scaling.sh`.",
        ]
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    raise SystemExit(main())
