"""The rehearsal harness (scripts/rehearse.py) and the checkout-path and
host-probe rules it relies on."""

import glob
import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REHEARSE = os.path.join(ROOT, "scripts", "rehearse.py")


def _rehearse(*args, timeout, cwd=ROOT):
    env = dict(os.environ, SPARK_DRIVER_MEM="2g", SPARK_GRAFT_CPUS="2")
    # the script must put its own checkout on the workers' path
    env.pop("PYTHONPATH", None)
    return subprocess.run(
        [sys.executable, REHEARSE, *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=cwd,
    )


def test_two_blocks_pass_and_report_every_step():
    proc = _rehearse("revisit_resolve", "revisit_schedule", "--n", "2000",
                     timeout=600)
    assert proc.returncode == 0, proc.stdout + proc.stderr
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1, proc.stdout
    steps = json.loads(lines[0])["steps"]
    assert [(s["block"], s["step"]) for s in steps] == [
        ("revisit_resolve", "resolve_revisits"),
        ("revisit_schedule", "revisit_schedule"),
    ]
    for s in steps:
        assert s["n"] == 2000 and s["wall_s"] > 0 and s["probe"] > 0, s
    # one probe-qualified line per step
    assert sum(ln.startswith("[probe ") for ln in proc.stdout.splitlines()) == 2


def test_workers_import_the_checkout_from_another_directory(tmp_path):
    # the Python workers start in the working directory, outside the
    # checkout: they find the package only through the PYTHONPATH the
    # script exports, or every UDF stage fails to import it
    proc = _rehearse("tier_chain", "--n", "2000", timeout=600, cwd=tmp_path)
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_unknown_block_exits_before_spark_starts():
    t0 = time.perf_counter()
    proc = _rehearse("no_such_block", "--n", "10", timeout=120)
    assert proc.returncode != 0
    assert "invalid choice: 'no_such_block'" in proc.stderr
    # the JVM prints its log4j banner on start; argparse rejects first
    assert "log4j" not in proc.stderr and "[probe" not in proc.stdout
    assert time.perf_counter() - t0 < 60


def test_no_script_pins_the_checkout_path():
    """Scripts find the package from their own ``__file__``: a quoted
    checkout path (this one, or any absolute one on ``sys.path``) would
    make a copy of the repo import and check another tree."""
    files = glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    files.append(os.path.join(ROOT, "bench.py"))
    pinned = []
    for f in files:
        text = open(f).read()
        if f'"{ROOT}"' in text or re.search(
            r"sys\.path\.insert\(\s*0\s*,\s*[\"']/", text
        ):
            pinned.append(f)
    assert not pinned, pinned


def test_host_probe_sees_no_more_cores_than_the_host_has():
    from bench import probe_effective_cores

    cpus = len(os.sched_getaffinity(0))
    probe = probe_effective_cores(procs=min(16, 2 * cpus))
    assert probe <= 1.1 * cpus, (probe, cpus)
