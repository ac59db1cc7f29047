"""Fixed numpy calibration of the box, stamped before and after each
workload's runs so that a contended set of runs shows in its report.

The kernel copies and sorts, in place, a fixed 1 Mi-element float64
array; numpy releases the
GIL while sorting, so ``ncores`` threads run it in parallel."""

from __future__ import annotations

import threading
import time

import numpy as np

_REPS = 5


def _rate(data: np.ndarray, bufs: list[np.ndarray]) -> float:
    def work(buf: np.ndarray) -> None:
        for _ in range(_REPS):
            buf[:] = data
            buf.sort(kind="quicksort")

    ts = [threading.Thread(target=work, args=(b,)) for b in bufs]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return len(bufs) * _REPS / (time.perf_counter() - t0)


def calibrate(ncores: int) -> dict:
    """Sorts per second on one core and on ``ncores`` cores, and their
    ratio as a share of perfect scaling."""
    data = np.random.default_rng(0).random(1 << 20)
    # buffers are allocated and touched before timing: first-touch page
    # faults from several threads at once would be timed as contention
    bufs = [data.copy() for _ in range(ncores)]
    _rate(data, bufs)
    # best of three: a calibration measures what the box can give, and
    # thread placement needs a pass or two to spread over the cores
    single = max(_rate(data, bufs[:1]) for _ in range(3))
    multi = max(_rate(data, bufs) for _ in range(3))
    return {
        "single_sorts_per_s": round(single, 2),
        "multi_sorts_per_s": round(multi, 2),
        "cores": ncores,
        "efficiency": round(multi / (ncores * single), 3),
    }
