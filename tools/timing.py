"""The tools' shared rep timer: one excluded warm-up rep, then the median
of ``N_REPS`` timed reps (the EXPERIMENTS §12 lesson: a warm-up leaking
into per-config numbers made a table contradict itself)."""

from __future__ import annotations

import statistics
import time

N_REPS = 3


def timed_reps(fn) -> float:
    """Median wall of ``N_REPS`` calls of ``fn`` after one excluded warm-up."""
    secs = []
    for rep in range(1 + N_REPS):
        t0 = time.perf_counter()
        fn()
        if rep > 0:
            secs.append(time.perf_counter() - t0)
    return statistics.median(secs)
