"""Pure arithmetic behind the benchmark's figures (no Spark, no I/O)."""

from __future__ import annotations

import math
import statistics

#: A tail figure needs this many samples above it to be more than one outlier.
TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it -> ``(value, percentile, n_samples)``.

    With n samples the k-th smallest (1-based) has n - k samples beyond
    it, so the highest qualifying order statistic is k = n - 10 and its
    percentile is 100 * k / n.  Below 11 samples no order statistic has
    ten beyond it; the median is reported then, with its percentile (50)
    saying so."""
    n = len(samples)
    if n == 0:
        raise ValueError("tail_percentile needs at least one sample")
    ordered = sorted(samples)
    k = n - TAIL_MIN_BEYOND
    if k < 1:
        return statistics.median(ordered), 50.0, n
    return ordered[k - 1], 100.0 * k / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def covered(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of ``span`` that the ``children`` intervals cover (clipped)."""
    lo, hi = span
    return union_length([(max(lo, s), min(hi, e)) for s, e in children])


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval its children cover."""
    return (span[1] - span[0]) - covered(span, children)


def split_op(
    wall: float,
    builder: tuple[float, float],
    write: tuple[float, float] | None,
    jobs: list[tuple[float, float, str | None, str | None]],
    tag: str,
) -> dict[str, float]:
    """Split one operation's wall into build, eager and exec seconds.

    ``wall`` is the operation's own timer; ``builder`` and ``write`` are
    the spans of the builder call and the ``noop`` write; ``jobs`` are the
    operation's Spark jobs as ``(start, end, group, description)`` from
    the status store.  The three parts come from different sources:

    - build: builder span with no job of any kind running;
    - eager: union of the jobs the builder ran -- those tagged
      ``(tag, "build")`` plus untagged ones (no ``"<workload>:"`` group,
      e.g. streaming threads) that overlap the builder -- as the status
      store times them, not clipped to the span;
    - exec: the write span.

    ``residual_s`` is what the three leave of ``wall``.  It grows when a
    job inside the builder carries another tag (a stale or wrong job
    group), when a builder job outlives the builder, or when time passes
    outside both spans."""
    prefix = tag.split(":", 1)[0] + ":"
    every = [(s, e) for s, e, _g, _d in jobs]
    b0, b1 = builder
    eager = [
        (s, e)
        for s, e, group, desc in jobs
        if (group == tag and desc == "build")
        or (not (group or "").startswith(prefix) and s < b1 and e > b0)
    ]
    out = {
        "build_s": self_time(builder, every),
        "eager_s": union_length(eager),
        "eager_jobs": float(len(eager)),
        "exec_s": write[1] - write[0] if write else 0.0,
    }
    out["residual_s"] = wall - (out["build_s"] + out["eager_s"] + out["exec_s"])
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan
