"""Host speed reference: a fixed CPU and memory workload timed in every run.

The reference host is a 4-vCPU guest on a shared machine. Its speed moves in
phases of a minute or more, when neighbours load the machine: whole runs
(session start, warm-up, every trigger) then take 1.3-2x as long, with little
steal time showing in the guest. Each run times this workload at three
points (after the session starts, before and after the measured phase) and
records the times in its detail file, so that a slow run can be told from a
slow engine. Its median has read from 0.022 s to 0.064 s on the reference
host, depending on the phase. The workload touches neither the engine nor Spark.

The figures are recorded, not used to rescale the end-to-end metrics: with two
busy-looping processes beside a run, the reference slowed 1.9x while the
engine slowed 1.45x, so rescaling would trade one bias for another.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

_BUF = bytes(range(256)) * ((16 << 20) // 256)


def _work(_: int) -> None:
    for _ in range(2):
        hashlib.sha256(_BUF).digest()  # releases the GIL: runs on every core
        bytearray(_BUF)  # a memory-bound copy


def reference_s(rounds: int = 5) -> float:
    """Median wall time of one round: every core hashes and copies 32 MiB."""
    n = len(os.sched_getaffinity(0))
    times = []
    with ThreadPoolExecutor(n) as pool:
        list(pool.map(_work, range(n)))  # fault the buffers in first
        for _ in range(rounds):
            t = time.perf_counter()
            list(pool.map(_work, range(n)))
            times.append(time.perf_counter() - t)
    return statistics.median(times)
