"""Box stamp and interference context for every benchmark record.

These numbers describe the machine a run happened on and how busy it was.
They are reported beside the metrics and never used to rescale them.
"""

from __future__ import annotations

import os
import time


def stamp() -> dict:
    """Cores, memory and the engine's core setting; versions are added by
    the runner once the session is up."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", "unset"),
    }


def cpu_times() -> list[int]:
    """Aggregate /proc/stat jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two reads."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def cpu_control_s() -> float:
    """Wall time of a fixed single-thread Python loop: drawn between passes,
    it shows how fast one core of the box ran at that moment."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process (the Spark JVM), from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
