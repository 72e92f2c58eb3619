"""Benchmark harness (driver contract): run every registry query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Results are materialized with the ``noop`` sink (full execution, no driver
collect) so the timing reflects the distributed plan, not result transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bigdatastructure_a5_spark.registry import REGISTRY, _load_all
from bigdatastructure_a5_spark.session import default_parallelism, get_spark


def _cpu_stat() -> list[int]:
    """Aggregate jiffies from /proc/stat's first line ([] off-Linux):
    user nice system idle iowait irq softirq steal ..."""
    try:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def _steal_pct(a: list[int], b: list[int]) -> float | None:
    """Steal share of NON-IDLE cpu time between two _cpu_stat snapshots
    (None if /proc/stat is unavailable).  Busy-relative, not
    total-relative: an 80%-idle run with every busy cycle contended
    should read high, not be diluted by the idle time."""
    if len(a) < 8 or len(b) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    busy = sum(d) - d[3] - d[4]  # minus idle, iowait
    return round(100.0 * d[7] / busy, 1) if busy > 0 else None


def _spin_until(deadline: float) -> int:
    """Busy-spin one process until ``time.perf_counter() >= deadline``
    (multiprocessing worker for _probe_steal's calibrated load)."""
    x = 1
    while time.perf_counter() < deadline:
        x = (x * 1103515245 + 12345) % 2147483648
    return x


def _probe_steal(seconds: float = 2.0, procs: int | None = None) -> float | None:
    """Hypervisor-steal share measured under a REAL parallel CPU load.

    Steal jiffies only accrue while the VM wants CPU, so probing an idle
    box always reads ~0 no matter how contended the host is — the probe
    must generate load.  Spin ``procs`` worker processes (default: up to
    8) for ``seconds`` and return the busy-relative steal share across
    the window (None off-Linux)."""
    import multiprocessing as mp

    a = _cpu_stat()
    if not a:
        return None
    n = procs or min(8, os.cpu_count() or 1)
    deadline = time.perf_counter() + seconds
    with mp.Pool(n) as pool:
        pool.map(_spin_until, [deadline] * n)
    return _steal_pct(a, _cpu_stat())


def _needs_steal_retry(
    best_steal: float | None,
    extra_done: int,
    retry_spent: float,
    threshold: float,
    max_extra: int,
    budget: float,
) -> bool:
    """Should this query get ANOTHER rep?  True only when the winning
    rep's own window was steal-contaminated (> threshold) and both the
    per-query extra-rep cap and the global retry wall-budget allow it.
    Extra reps can only DEEPEN the min (each is a full computation from
    parquet after clearCache), so the metric's meaning is unchanged —
    this recovers honest numbers from a mid-run neighbor storm that the
    pre-timing probe could not see coming."""
    return (
        best_steal is not None
        and best_steal > threshold
        and extra_done < max_extra
        and retry_spent < budget
    )


def _winners_contaminated(
    queries_steal: dict[str, float | None], threshold: float
) -> int:
    """How many queries' winning rep stayed steal-contaminated (> threshold)
    after the retries; unmeasurable steal (None) never counts."""
    return sum(1 for s in queries_steal.values() if s is not None and s > threshold)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Box-contention self-identification + cool-down (VERDICT r13 item 1:
    # the published bench has been contamination-false two driver rounds
    # running — r13's own loadavg field recorded 2.4 at start and every
    # one of its 12 flagged "regressions" evaporated on an idle re-run).
    # Recording the load is not enough; WAIT for the box to go quiet
    # before timing.  Poll the 1-min average until it drops under the
    # threshold, capped so a genuinely busy box still produces an
    # artifact (which then carries its own diagnosis via the recorded
    # fields, and tools/read_bench.py warns on it).  Threshold 1.0, not
    # the ~2 a quiet bench "starts below": an r14 A/B pair showed a run
    # STARTING at 1.3 (residual decay from a prior Spark exit) flags 8
    # phantom regressions that a truly idle run doesn't — the 1-min
    # average must actually drain before timing means anything.
    cooldown_threshold = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "1.0"))
    cooldown_cap = float(os.environ.get("SPARK_GRAFT_BENCH_COOLDOWN_SEC", "600"))
    waited = 0.0
    while os.getloadavg()[0] > cooldown_threshold and waited < cooldown_cap:
        time.sleep(15.0)
        waited += 15.0
    load_start = list(os.getloadavg())

    # Steal-aware cool-down (r14): loadavg gating is NOT enough — loadavg
    # is internal to the VM, while the dominant contamination observed
    # this round is hypervisor CPU steal, invisible to it.  Measured on
    # identical code, loadavg start < 0.5 every time: totals 40.5s at
    # 0.2% steal, 54.2s at 12%, 127.5s at 61% (a neighbor storm).  Probe
    # steal under a short real parallel load (an idle probe always reads
    # ~0 — steal only accrues when the VM wants CPU) and wait, capped,
    # for a window where the host actually gives us our cycles.
    steal_threshold = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_MAX", "5.0"))
    steal_cap = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_COOLDOWN_SEC", "300"))
    steal_waited = 0.0
    steal_probe = _probe_steal()
    while (
        steal_probe is not None
        and steal_probe > steal_threshold
        and steal_waited < steal_cap
    ):
        time.sleep(13.0)
        steal_waited += 15.0
        steal_probe = _probe_steal()

    _load_all()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup on a trivial query (not counted).
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # Two measured reps per query, report the min: single local[32] runs on
    # 43 small-SF queries are scheduler/GC-noise-bound (observed ±20% on
    # identical code).  spark.catalog.clearCache() before every rep drops
    # any DataFrame persisted inside a builder, so each rep still computes
    # from parquet — min-of-2 removes noise, not work.
    #
    # Steal-retried (r14): the pre-timing probe cannot see a neighbor
    # storm that STARTS mid-run (observed: probe 0.3% -> 25.5% measured
    # during the run, totals 59-68s on code that times 40-45s clean), so
    # each rep also measures ITS OWN window's steal, and a query whose
    # winning rep was contaminated (> SPARK_GRAFT_BENCH_STEAL_MAX) gets
    # up to 2 extra reps inside a global wall budget
    # (SPARK_GRAFT_BENCH_STEAL_RETRY_SEC, default 120).  Extra reps are
    # full computations from parquet and only deepen the min; per-query
    # winner steal lands in `queries_steal` so a reader can tell which
    # rows stayed contaminated even after retries.
    retry_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_STEAL_RETRY_SEC", "120")
    )
    timings: dict[str, float] = {}
    queries_steal: dict[str, float | None] = {}
    steal_retries = 0
    retry_spent = 0.0
    stat_start = _cpu_stat()
    for name, qd in sorted(REGISTRY.items()):

        def _rep() -> tuple[float, float | None]:
            spark.catalog.clearCache()
            a = _cpu_stat()
            t0 = time.perf_counter()
            df = qd.builder(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0, _steal_pct(a, _cpu_stat())

        reps = [_rep() for _ in range(2)]
        while _needs_steal_retry(
            min(reps, key=lambda r: r[0])[1],
            len(reps) - 2,
            retry_spent,
            steal_threshold,
            2,
            retry_budget,
        ):
            extra = _rep()
            reps.append(extra)
            steal_retries += 1
            retry_spent += extra[0]
        best, best_steal = min(reps, key=lambda r: r[0])
        timings[name] = round(best, 4)
        queries_steal[name] = best_steal
    steal_pct = _steal_pct(stat_start, _cpu_stat())

    out = {
        "metric": (
            "wallclock_all_queries_min_of_2_steal_retried"
            " (read via README.md 'Reading a BENCH_r{N}.json')"
        ),
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        # steal share of the WINNING rep's own window, per query — which
        # rows (if any) stayed contaminated even after retries
        "queries_steal": queries_steal,
        "winners_contaminated": _winners_contaminated(queries_steal, steal_threshold),
        # the contamination threshold the retries used, so readers
        # compare against the value in force, not a hardcoded 5.0
        "steal_threshold_pct": steal_threshold,
        # driver-contract self-proof (VERDICT r14 item 2: the artifact
        # could not prove its own core count, so `suspect_cpus_ignored`
        # fired despite the harness honoring $SPARK_GRAFT_CPUS)
        "cpus": default_parallelism(),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "sf": sf,
        "loadavg": {
            "start": [round(v, 2) for v in load_start],
            "end": [round(v, 2) for v in os.getloadavg()],
            "cooldown_waited_sec": round(waited, 1),
            # pre-timing steal probe: last probed value + how long the
            # bench waited for a low-steal window (0 when first probe
            # was already clean; capped by SPARK_GRAFT_BENCH_STEAL_*)
            "steal_probe_pct": steal_probe,
            "steal_cooldown_waited_sec": round(steal_waited, 1),
            # mid-run storm recovery: extra reps granted to queries whose
            # winning rep was steal-contaminated, and their total wall
            "steal_retries": steal_retries,
            "steal_retry_spent_sec": round(retry_spent, 1),
        },
        # Hypervisor CPU steal during the timed section, as a share of
        # non-idle CPU time — contamination loadavg CANNOT see (it is
        # external to the VM).  Measured on this box: steal fluctuates
        # 2-18% of cycles under full 32-thread load minute to minute,
        # enough to move parallel-stage walls 10-50% between runs that
        # both look "idle" from inside.  > ~5 here means the artifact's
        # per-query deltas are hypervisor noise, not code.
        "steal_pct_of_busy": steal_pct,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
