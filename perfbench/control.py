"""DRAM-bound box-noise control.

A fixed numpy workload over ~200 MB, pinned to one core, run in its own
process so its memory never counts toward the benchmark driver's RSS.
The benchmark times it before and after each workload: a slow control
says the box was noisy in that window, whatever the code under test did.

Usage: python3 perfbench/control.py   (prints the median of 3 timings, s)
"""

from __future__ import annotations

import os
import time

import numpy as np

N_INT64 = 25_000_000  # 200 MB
SORT_N = 2_000_000


def control_s() -> float:
    base = np.arange(N_INT64, dtype=np.int64)
    rng = np.random.default_rng(12345)
    keys = rng.integers(0, 1 << 40, SORT_N)
    t0 = time.perf_counter()
    acc = np.cumsum(base)
    acc = np.cumsum(acc[::-1])
    s = np.sort(keys)
    t = time.perf_counter() - t0
    if acc[-1] == 0 or s[0] > s[-1]:  # consume the results
        raise AssertionError("control produced a wrong result")
    return t


if __name__ == "__main__":
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, {cpus[-1]})
    print(f"{sorted(control_s() for _ in range(3))[1]:.6f}")
