"""Host context recorded around every run, and process memory.

Throughput on a shared host swings with its load, so each run record carries
two probes taken before and after it: a single-process md5 rate (CPU) and a
DRAM copy bandwidth. They are context for reading the metrics, not metrics.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np


def md5_mb_per_s(mb: int = 32, reps: int = 3) -> float:
    buf = np.random.default_rng(0).bytes(1 << 20)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(mb):
            h.update(buf)
        best = min(best, time.perf_counter() - t0)
    return mb / best


def copy_gb_per_s(mb: int = 64, reps: int = 5) -> float:
    """Best-of-``reps`` numpy copy; counts the bytes read plus written."""
    a = np.ones(mb << 17, dtype=np.float64)
    b = np.empty_like(a)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return 2 * a.nbytes / best / 1e9


def probes() -> dict:
    return {"md5_mb_per_s": md5_mb_per_s(), "copy_gb_per_s": copy_gb_per_s()}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over a process and its descendants:
    for the benchmark's load process, the Python driver plus its JVM."""
    total_kb = 0
    for p in _descendants(pid or os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
