"""Process-tree CPU, high-water RSS and host noise, read from /proc.

The tree is this process and every descendant: the Spark JVM it
launches and the Python workers the JVM forks. CPU of a descendant that
already exited is still counted, because the kernel folds a reaped
child's time into its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list:
    root = os.getpid() if root is None else root
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """utime+stime+cutime+cstime summed over the live tree, seconds."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/pid/stat, 0-based 11-14 after comm
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_hwm_mb() -> dict:
    """VmHWM (each process's peak resident set) in MB per live process
    of the tree, keyed ``<pid>:<name>``. Their sum is an upper bound on
    the tree's simultaneous peak."""
    out = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = (
                int(fields["VmHWM"].split()[0]) / 1024)
    return out


def cpu_probe_ms(reps: int = 5) -> float:
    """Median wall time of a fixed single-threaded integer loop: the
    host's current speed for one core, which moves with frequency
    scaling and neighbours on the machine where steal time may not."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        h = 0
        for i in range(200_000):
            h = (h * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    return 1e3 * statistics.median(times)


def host_sample() -> dict:
    """Aggregate /proc/stat CPU ticks, /proc/loadavg and the probe."""
    probe = cpu_probe_ms()
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    # user nice system idle iowait irq softirq steal
    return {"ticks": sum(cpu[:8]), "idle": cpu[3] + cpu[4],
            "steal": cpu[7], "load1": load1, "probe_ms": probe}


def host_noise(before: dict, after: dict) -> dict:
    """Shares of all host CPU time over the interval that were idle
    and stolen by the hypervisor, plus the 1-minute load and the CPU
    probe at both ends."""
    dt = max(after["ticks"] - before["ticks"], 1)
    return {
        "idle_share": round((after["idle"] - before["idle"]) / dt, 4),
        "steal_share": round((after["steal"] - before["steal"]) / dt, 4),
        "load1_start": before["load1"],
        "load1_end": after["load1"],
        "probe_ms_start": round(before["probe_ms"], 3),
        "probe_ms_end": round(after["probe_ms"], 3),
    }
