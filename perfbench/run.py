"""Benchmark of table_ocr_spark through its public entry points.

    python3 perfbench/run.py --workload {extract,crawl} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from the seed
(``perfbench/gen.py``) in a subprocess and cached under
``.perfbench_work/`` per (workload, seed, size); everything the run
writes stays under that directory.

``--trace 0`` times the workload's call in a warmed session and prints
the end-to-end metrics. ``--trace 1`` runs the untraced
``crawl_to_shards`` once and then its stage-by-stage twin with one
Spark job group per span (``perfbench/spans.py``), and prints per-span
counters folded from Spark's event log. Every operation's output is
checked against the generator's closed forms; a wrong output counts as
a failed operation. The last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SLOTS = 4  # task slots of every run: local[SLOTS]
SHUFFLE_PARTITIONS = SLOTS
N_FILES = 4 * SLOTS  # input files per workload
WARM_DOCS = 200
SIZES = {"extract": 30000, "crawl": 3000}
TRACE_DOCS = 500
# run_pipeline settings: two waves of eight buckets
NUM_BUCKETS = 16
WAVE_SIZE = 8
# crawl_to_shards settings of the traced run
N_TIERS = 2
# token budget per input doc: about 60% of a crawl doc's 110 tokens
BUDGET_PER_DOC = 66
CAPACITY = 2048
SEQS_PER_SHARD = 1024
MIN_COVERAGE = 0.95  # traced span walls / traced total


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env() -> None:
    if not os.path.isfile(os.path.join(ROOT, "table_ocr_spark", "__init__.py")):
        _fail(f"no table_ocr_spark package under {ROOT}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package by name inside mapInArrow
    # kernels, so they need the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def _input(workload: str, n_docs: int, seed: int, warc: bool = False) -> tuple:
    """Generate in a subprocess, so the generator's memory never shows
    in this process's high-water RSS."""
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), workload,
           str(n_docs), str(seed), str(N_FILES), os.path.join(WORK, "inputs")]
    if warc:
        cmd.append("--warc")
    out = subprocess.run(cmd, check=True, capture_output=True, text=True,
                         timeout=170).stdout
    d = out.strip().splitlines()[-1]
    with open(os.path.join(d, "expected.json")) as f:
        return d, json.load(f)


def _session(extra: dict):
    from table_ocr_spark.session import get_spark

    local = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
    }
    conf.update(extra)
    return get_spark("perfbench", master=f"local[{SLOTS}]",
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session, the JVM and every Python worker, and wait."""
    from pyspark import SparkContext

    from procstat import tree_pids

    kids = [p for p in tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not kids:
            return
        time.sleep(0.2)
    for p in kids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.2)


# ---------------------------------------------------------------- checks
def _digest(df) -> tuple:
    """(rows, xor-fold of a hash of every column) of a frame."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))")
               .alias("x")).first()
    return int(r["n"]), int(r["x"] or 0)


def _text_fold(df, text_col: str):
    """(rows, distinct urls, xor-fold of xxhash64(url, text)): equal
    folds mean equal (url, text) sets, with a 2^-64 miss chance."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)), F.countDistinct("url"),
               F.expr(f"bit_xor(xxhash64(url, {text_col}))")).first()
    return int(r[0]), int(r[1]), int(r[2] or 0)


def _check_extract(spark, pages, input_dir: str, out_dir: str, report,
                   expected: dict) -> list:
    """Every url once, its text byte-identical to the golden text, and
    lineage rows_out summing to the url count."""
    from pyspark.sql import functions as F

    from table_ocr_spark.api import read_run_results

    n = expected["n_urls"]
    golden_path = os.path.join(input_dir, "golden-fold.json")
    if not os.path.exists(golden_path):
        with open(golden_path, "w") as f:
            json.dump(_text_fold(pages.select("url", "text").distinct(),
                                 "text"), f)
    with open(golden_path) as f:
        golden = tuple(json.load(f))
    got = _text_fold(read_run_results(spark, out_dir), "extracted_text")
    lineage = spark.read.parquet(os.path.join(out_dir, "_lineage")).agg(
        F.sum("rows_out")).first()[0]
    errors = []
    if golden[:2] != (n, n):
        errors.append(f"golden has {golden[0]} rows / {golden[1]} urls")
    if got != golden:
        errors.append(f"output (rows, urls, fold) {got} != golden {golden}")
    if report.rows_out != n or lineage != n:
        errors.append(f"rows_out {report.rows_out}, lineage {lineage}, want {n}")
    return errors


def _check_counts(c, expected: dict) -> list:
    """Closed-form stage counts of a CorpusReport."""
    n = expected["n_input"]
    want = {"n_input": n, "n_extracted": n, "n_quality_pass": n,
            "n_after_exact_dedup": expected["n_after_exact_dedup"],
            "n_after_near_dedup": expected["n_after_near_dedup"],
            "n_had_pii": expected["n_had_pii"]}
    return [f"{k} = {getattr(c, k)}, want {v}" for k, v in want.items()
            if getattr(c, k) != v]


def _check_golden(corpus, input_dir: str) -> list:
    """Every corpus row's text byte-identical to the generator's golden
    text for its url: boilerplate stripped, windows-1252 decoded, the
    email redacted."""
    with open(os.path.join(input_dir, "golden.json")) as f:
        golden = json.load(f)
    wrong = [r["url"] for r in corpus.select("url", "text").collect()
             if golden.get(r["url"]) != r["text"]]
    if wrong:
        return [f"{len(wrong)} corpus texts differ from golden, e.g. {wrong[0]}"]
    return []


def _check_shards(spark, rep: dict, expected, input_dir: str) -> list:
    """Errors and shard digest of a crawl_to_shards result: closed-form
    stage counts (unless ``expected`` is None), shard rows equal to
    ``n_after_budget``, and a shard digest equal to the first one
    recorded for this input."""
    c = rep["corpus"]
    errors = _check_counts(c, expected) if expected is not None else []
    digest = _digest(spark.read.parquet(rep["shards_path"]))
    shard_docs = sum(t["n_docs"] for t in rep["tiers"].values())
    if not shard_docs == c.n_after_budget == digest[0]:
        errors.append(f"shard docs {shard_docs} / {digest[0]}, "
                      f"n_after_budget {c.n_after_budget}")
    return errors + _check_digest(input_dir, "shards", digest), digest


def _check_digest(input_dir: str, key: str, digest: tuple) -> list:
    """The output digest of one input and settings must never change:
    the first run records it next to the input, later runs compare."""
    path = os.path.join(input_dir, f"digest-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            want = tuple(json.load(f))
        if want != digest:
            return [f"{key} digest {digest} differs from earlier {want}"]
        return []
    with open(path, "w") as f:
        json.dump(list(digest), f)
    return []


# ------------------------------------------------------------- workloads
class Workload:
    """The timed call of one workload on one input, and its check."""

    def __init__(self, spark, name: str, input_dir: str, expected: dict):
        self.spark, self.name = spark, name
        self.input_dir, self.expected = input_dir, expected
        self.n_records = expected.get("n_records", expected.get("n_input"))
        if name == "extract":
            self.pages = spark.read.parquet(os.path.join(input_dir, "pages"))

    def run(self, out_dir: str):
        """``run_pipeline`` into ``out_dir`` for extract; otherwise the
        corpus build over the WARC input, whose report's counts
        materialize every stage (``out_dir`` is unused)."""
        if self.name == "extract":
            from table_ocr_spark.plans.lineage import run_pipeline

            return run_pipeline(self.spark, self.pages, out_dir,
                                num_buckets=NUM_BUCKETS, wave_size=WAVE_SIZE)
        from table_ocr_spark.pipelines import build_training_corpus, ingest_crawl

        return build_training_corpus(ingest_crawl(
            self.spark, os.path.join(self.input_dir, "warc", "*.warc.gz")))

    def check(self, out_dir: str, result) -> list:
        if self.name == "extract":
            return _check_extract(self.spark, self.pages, self.input_dir,
                                  out_dir, result, self.expected)
        corpus, report = result
        digest = _digest(corpus)
        errors = _check_counts(report, self.expected)
        if digest[0] != report.n_after_near_dedup:
            errors.append(f"corpus rows {digest[0]}, n_after_near_dedup "
                          f"{report.n_after_near_dedup}")
        return (errors + _check_golden(corpus, self.input_dir)
                + _check_digest(self.input_dir, "corpus", digest))


def _fresh(name: str) -> str:
    d = os.path.join(WORK, "out", name)
    shutil.rmtree(d, ignore_errors=True)
    return d


def timed(args) -> dict:
    """Warmed, untraced run: returns the end-to-end metrics."""
    from procstat import host_noise, host_sample, tree_cpu_s, tree_hwm_mb

    warm_dir, warm_exp = _input(args.workload, WARM_DOCS, args.seed + 7919)
    input_dir, expected = _input(args.workload, SIZES[args.workload],
                                 args.seed)

    t0 = time.perf_counter()
    spark = _session({})
    session_s = time.perf_counter() - t0
    warm = Workload(spark, args.workload, warm_dir, warm_exp)
    warm_result = warm.run(_fresh("warm"))
    setup_s = time.perf_counter() - t0
    warm_errors = warm.check(os.path.join(WORK, "out", "warm"), warm_result)

    work = Workload(spark, args.workload, input_dir, expected)
    host0 = host_sample()
    walls, cpus, errors = [], [], list(warm_errors)
    attempted = failed = 0
    t_start = time.perf_counter()
    while True:
        out = _fresh("timed")
        spark.catalog.clearCache()  # stage caches the program leaves behind
        c0, w0 = tree_cpu_s(), time.perf_counter()
        result = work.run(out)
        walls.append(time.perf_counter() - w0)
        cpus.append(tree_cpu_s() - c0)
        attempted += 1
        errs = work.check(out, result)
        failed += bool(errs)
        errors += errs
        elapsed = time.perf_counter() - t_start
        if elapsed + walls[-1] > args.seconds:
            break
    hwm = tree_hwm_mb()
    noise = host_noise(host0, host_sample())
    _stop(spark)
    docs = work.n_records * attempted
    detail = {"workload": args.workload, "seed": args.seed,
              "records": work.n_records,
              "iterations": attempted, "iter_wall_s": walls,
              "setup_s": setup_s, "session_s": session_s, "host": noise,
              "hwm_mb": hwm, "errors": errors[:10]}
    print(json.dumps({"detail": detail}))
    return {
        "correct": not errors, "attempted": attempted + 1,
        "failed": failed + bool(warm_errors),
        "metrics": {
            "docs_per_s": {"value": docs / sum(walls), "unit": "docs/s"},
            "cpu_ms_per_doc": {"value": 1e3 * sum(cpus) / docs, "unit": "ms"},
            "peak_rss_mb": {"value": sum(hwm.values()), "unit": "MB"},
            "setup_s": {"value": setup_s, "unit": "s"},
        },
    }


def traced(args) -> dict:
    """Untraced crawl_to_shards, then its traced twin on the same input;
    returns the per-span counters."""
    import spans as tr

    from procstat import host_noise, host_sample

    input_dir, expected = _input(args.workload, TRACE_DOCS, args.seed,
                                 warc=True)
    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    from table_ocr_spark.pipelines import crawl_to_shards

    spark = _session(tr.event_log_conf(log_dir))
    warc = os.path.join(input_dir, "warc", "*.warc.gz")
    budget = TRACE_DOCS * BUDGET_PER_DOC

    # no separate warm-up: a trace run must end within the same time
    # limit as a timed run, and the twin alone costs about a minute.
    # The untraced pass runs first and cold, so trace.overhead_s is a
    # lower bound.
    host0 = host_sample()
    spark.sparkContext.setJobGroup("untraced", "untraced crawl_to_shards")
    t0 = time.perf_counter()
    rep = crawl_to_shards(spark, warc, _fresh("untraced"), n_tiers=N_TIERS,
                          token_budget=budget, capacity=CAPACITY,
                          seqs_per_shard=SEQS_PER_SHARD)
    untraced_s = time.perf_counter() - t0
    errors, digest = _check_shards(
        spark, rep, expected if args.workload != "extract" else None,
        input_dir)
    spark.catalog.clearCache()

    t0 = time.perf_counter()
    tracer, twin_rep, extras = tr.traced_crawl_to_shards(
        spark, warc, _fresh("traced"), _fresh("traced-lineage"), N_TIERS,
        budget, CAPACITY, SEQS_PER_SHARD, NUM_BUCKETS, WAVE_SIZE)
    traced_s = time.perf_counter() - t0
    twin_digest = _digest(spark.read.parquet(
        os.path.join(WORK, "out", "traced", "shards")))
    twin_errors = []
    if twin_digest != digest or twin_rep != rep["tiers"]:
        twin_errors.append(f"traced shards {twin_digest} {twin_rep} != "
                           f"untraced {digest} {rep['tiers']}")
    coverage = sum(tracer.wall.values()) / traced_s
    if coverage < MIN_COVERAGE:
        twin_errors.append(f"span coverage {coverage:.3f} < {MIN_COVERAGE}")
    noise = host_noise(host0, host_sample())
    _stop(spark)

    folded = tr.fold_event_log(log_dir)
    metrics = tr.span_metrics(tracer, folded)
    extras["trace.coverage"] = coverage
    # the twin also runs run_pipeline, which crawl_to_shards does not.
    # The untraced pass ran cold, so most of this gap is plan
    # compilation, not tracing: it is printed, not tracked
    extras["trace.overhead_s"] = traced_s - tracer.wall["lineage"] - untraced_s
    metrics.update(extras)
    table = {s: {c: metrics.get(f"{s}.{c}") for c in tr.COUNTERS}
             for s in tr.SPANS}
    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "docs": TRACE_DOCS,
        "untraced_s": untraced_s, "traced_s": traced_s, "host": noise,
        "untraced_jobs": folded.get("untraced", {}).get("jobs"),
        "errors": (errors + twin_errors)[:10], "spans": table,
        "extras": extras}}))
    metrics = {name: {"value": metrics[name], "unit": tr.unit(name)}
               for name, _ in tr.PER_LAYER}
    return {"correct": not (errors or twin_errors), "attempted": 2,
            "failed": bool(errors) + bool(twin_errors), "metrics": metrics}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    _prepare_env()
    sys.path.insert(0, HERE)
    result = traced(args) if args.trace else timed(args)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
