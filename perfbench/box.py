"""What the machine looked like during a run: CPU count, memory, the
steal time and load average, and a fixed CPU-bound canary. Recorded
next to every result and never used to rescale a metric."""

from __future__ import annotations

import os
import time

CANARY_N = 2_000_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def canary_s() -> float:
    """Wall time of a fixed pure-Python loop."""
    t = time.perf_counter()
    acc = 0
    for i in range(CANARY_N):
        acc += i * i % 7
    return time.perf_counter() - t


def snapshot() -> dict:
    return {"t": time.monotonic(), "steal": _steal_ticks(), "canary_s": canary_s()}


def record(before: dict, after: dict) -> dict:
    hz = os.sysconf("SC_CLK_TCK")
    return {
        "nproc": nproc(),
        "mem_total_mb": round(_mem_total_mb()),
        "steal_s": (after["steal"] - before["steal"]) / hz,
        "loadavg": list(os.getloadavg()),
        "canary_s": [before["canary_s"], after["canary_s"]],
        "run_wall_s": after["t"] - before["t"],
    }
