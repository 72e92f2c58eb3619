"""The tools' shared rep timer: one excluded warm-up rep, then the median
of ``N_REPS`` timed reps (the EXPERIMENTS §12 lesson: a warm-up leaking
into per-config numbers made a table contradict itself), with the
hypervisor-steal share of the timed reps beside it, so a number taken
on a contended host says so."""

from __future__ import annotations

import statistics
import time
from typing import NamedTuple

from bench import _cpu_stat, _steal_pct

N_REPS = 3


class Timed(NamedTuple):
    sec: float
    #: busy-relative steal % over the timed reps (None off-Linux)
    steal_pct: float | None

    def __str__(self) -> str:
        steal = "n/a" if self.steal_pct is None else f"{self.steal_pct:g}%"
        return f"{self.sec:.2f} (steal {steal})"


def timed_reps(fn) -> Timed:
    """Median wall of ``N_REPS`` calls of ``fn`` after one excluded
    warm-up, and the steal share across those timed calls."""
    fn()
    secs = []
    cpu = _cpu_stat()
    for _ in range(N_REPS):
        t0 = time.perf_counter()
        fn()
        secs.append(time.perf_counter() - t0)
    return Timed(statistics.median(secs), _steal_pct(cpu, _cpu_stat()))
