"""Workload harness: run a frequency-weighted SQL workload across
denormalization variants, account costs from real metrics, rank layouts.

This is the reference's whole `challenge/run.py` pipeline executed for real:

- per-variant catalog build (S7)            -> write each distinct build
  once (``build_collection``), then register each variant's views over
  the stored builds (``materialize_variant``)
- parse + plan with denorm rewrites (O14)   -> plans.sql_front
- simulate (O24 cost model)                 -> plans.metrics (measured
  bytes; each semantically distinct plan measured once)
- frequency-weighted totals (O21)           -> `challenge/run.py:69-77`
- leaderboard sort by (price, carbon, time) -> O23, `challenge/run.py:104-113`
- sinks: results CSV (K4), leaderboard markdown (K5), per-query plan JSON
  (K3), text/JSON report (K1/K2) -> `challenge/reporting.py`

``run_workload`` runs it as one dependency-ordered pass on one thread
pool: the writes start at once, and each variant's measurements start as
soon as its own builds are written, overlapping later variants' writes
and each other.  ``run_with_metrics`` attributes every measurement by a
job tag of its own, so overlapping measurements never bill each other's
execution.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from bigdatastructure_a5_spark.operators.denormalize import (
    DenormalizationSpec,
    build_collection,
    collection_key,
    kept_collections,
)
from bigdatastructure_a5_spark.plans.metrics import QueryMetrics, run_with_metrics
from bigdatastructure_a5_spark.plans.sql_front import rewrite_for_variant
from bigdatastructure_a5_spark.sources.json_config import QuerySpec


@dataclass
class WorkloadRow:
    """One (variant, query) outcome (reference results.csv row,
    `challenge/reporting.py:11-22`)."""

    variant: str
    query: str
    frequency: float
    rewritten_sql: str
    metrics: QueryMetrics
    physical_plan: str = ""

    def weighted_costs(self) -> dict[str, float]:
        return {k: v * self.frequency for k, v in self.metrics.costs().items()}


@dataclass
class WorkloadReport:
    rows: list[WorkloadRow] = field(default_factory=list)

    def totals(self) -> dict[str, dict[str, float]]:
        """O21: total(variant) = sum_q cost(q) x frequency(q), per metric."""
        out: dict[str, dict[str, float]] = {}
        for r in self.rows:
            t = out.setdefault(r.variant, {"time": 0.0, "carbon": 0.0, "price": 0.0})
            for k, v in r.weighted_costs().items():
                t[k] += v
        return out

    def leaderboard(self) -> list[tuple[str, dict[str, float]]]:
        """O23: ascending by (price, carbon, time)."""
        return sorted(
            self.totals().items(),
            key=lambda kv: (kv[1]["price"], kv[1]["carbon"], kv[1]["time"]),
        )

    # -- sinks (K1/K2/K4/K5) -------------------------------------------------
    def to_text(self) -> str:
        lines = ["WORKLOAD REPORT", "=" * 60]
        for r in self.rows:
            c = r.metrics.costs()
            lines.append(
                f"{r.variant:>8} {r.query:<24} scan={r.metrics.scanned_bytes / 2**20:8.2f}MiB "
                f"shuffle={r.metrics.shuffle_bytes / 2**20:8.2f}MiB rows={int(r.metrics.output_rows):>9} "
                f"time={c['time']:.6f} carbon={c['carbon']:.6f} price={c['price']:.6f}"
            )
        lines.append("-" * 60)
        for variant, t in self.leaderboard():
            lines.append(
                f"{variant:>8} TOTAL time={t['time']:.6f} carbon={t['carbon']:.6f} price={t['price']:.6f}"
            )
        return "\n".join(lines)

    def to_json(self) -> str:
        return json.dumps(
            {
                "rows": [
                    {
                        "variant": r.variant,
                        "query": r.query,
                        "frequency": r.frequency,
                        "scanned_bytes": r.metrics.scanned_bytes,
                        "shuffle_bytes": r.metrics.shuffle_bytes,
                        "output_rows": r.metrics.output_rows,
                        "wall_sec": r.metrics.wall_sec,
                        **{f"cost_{k}": v for k, v in r.metrics.costs().items()},
                    }
                    for r in self.rows
                ],
                "totals": self.totals(),
            },
            indent=2,
        )

    def to_csv(self) -> str:
        hdr = (
            "variant,query,frequency,scanned_bytes,shuffle_bytes,output_rows,"
            "wall_sec,time,carbon,price"
        )
        lines = [hdr]
        for r in self.rows:
            c = r.metrics.costs()
            lines.append(
                f"{r.variant},{r.query},{r.frequency},{r.metrics.scanned_bytes:.0f},"
                f"{r.metrics.shuffle_bytes:.0f},{r.metrics.output_rows:.0f},"
                f"{r.metrics.wall_sec:.4f},{c['time']:.8f},{c['carbon']:.8f},{c['price']:.8f}"
            )
        return "\n".join(lines)

    def to_leaderboard_md(self) -> str:
        lines = [
            "# Denormalization leaderboard",
            "",
            "| rank | variant | time | carbon | price |",
            "| --- | --- | --- | --- | --- |",
        ]
        for i, (variant, t) in enumerate(self.leaderboard(), 1):
            lines.append(
                f"| {i} | {variant} | {t['time']:.6f} | {t['carbon']:.6f} | {t['price']:.6f} |"
            )
        return "\n".join(lines)

    def write(self, out_dir: str) -> None:
        os.makedirs(os.path.join(out_dir, "plans"), exist_ok=True)
        with open(os.path.join(out_dir, "results.csv"), "w") as f:
            f.write(self.to_csv())
        with open(os.path.join(out_dir, "leaderboard.md"), "w") as f:
            f.write(self.to_leaderboard_md())
        with open(os.path.join(out_dir, "report.json"), "w") as f:
            f.write(self.to_json())
        for r in self.rows:  # K3 plan sink
            p = os.path.join(out_dir, "plans", f"{r.variant}_{r.query}.plan.json")
            with open(p, "w") as f:
                json.dump(
                    {
                        "variant": r.variant,
                        "query": r.query,
                        "rewritten_sql": r.rewritten_sql,
                        "physical_plan": r.physical_plan,
                    },
                    f,
                    indent=2,
                )


#: collection_key -> (dir the build is written to, its schema)
Builds = dict[tuple, tuple[str, StructType]]


def _copy_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Replace ``dst`` with a copy of ``src`` through the session's Hadoop
    filesystem (local and remote paths alike)."""
    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    src_p = jvm.org.apache.hadoop.fs.Path(src)
    dst_p = jvm.org.apache.hadoop.fs.Path(dst)
    dst_fs = dst_p.getFileSystem(conf)
    dst_fs.delete(dst_p, True)
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(
        src_p.getFileSystem(conf), src_p, dst_fs, dst_p, False, True, conf
    ):
        raise RuntimeError(f"could not copy {src} to {dst}")


def materialize_variant(
    spark: SparkSession,
    base: dict[str, DataFrame],
    spec: DenormalizationSpec,
    built: Builds,
) -> dict[str, DataFrame]:
    """Register a variant's stored tables as views under the plain
    collection names; runs no Spark job.

    Each view reads its build from the dir it was written to (so D4's
    ``part`` reads D3's files) with its known schema, which skips
    Parquet's footer-inference job.

    EVERY base collection's view is dropped first: a variant that embeds
    (and so omits) a collection must not leave the PREVIOUS variant's view
    resolvable under that name — a passthrough query referencing it would
    silently read the prior layout's data and bill this variant for the
    wrong bytes.  After the drop, such a query fails loudly instead."""
    for coll in base:
        spark.catalog.dropTempView(coll)
    out: dict[str, DataFrame] = {}
    for coll in kept_collections(base, spec):
        path, schema = built[collection_key(spec, coll)]
        out[coll] = spark.read.schema(schema).parquet(path)
        out[coll].createOrReplaceTempView(coll)
    return out


def run_workload(
    spark: SparkSession,
    base: dict[str, DataFrame],
    specs: list[DenormalizationSpec],
    queries: list[QuerySpec],
    storage_dir: str,
    out_dir: str | None = None,
) -> WorkloadReport:
    """The full challenge pipeline over real data, as one pass on one
    thread pool.

    The calling thread builds every distinct collection and submits its
    write.  Then, variant by variant, it waits for that variant's writes
    only, registers its views, analyzes its rewritten queries and submits
    their measurements, so one variant's queries run while later
    variants' builds are still writing.  Every view change and every
    analysis stays on the calling thread; the pool only executes (writes,
    copies, ``run_with_metrics``).  A query whose plan is semantically
    the same as one already submitted (same SQL over the same files: D4
    reads D3's ``part``) reuses that measurement.  A collection another
    variant's dir holds is copied into this variant's dir too, off the
    critical path, so every variant dir holds each collection it keeps."""
    report = WorkloadReport()
    columns = {coll: set(df.columns) for coll, df in base.items()}
    # measurements and small writes are driver-bound, not data-bound:
    # twice the task slots keeps the executors fed while plans are made
    workers = 2 * spark.sparkContext.defaultParallelism
    try:
        with ThreadPoolExecutor(workers) as pool:

            def submit(fn, *args) -> Future:
                # wrapped per call: each task gets its own copy of the
                # caller's job group and tags
                return pool.submit(inheritable_thread_target(spark)(fn), *args)

            built: Builds = {}
            writes: dict[tuple, Future] = {}
            for spec in specs:
                for coll in kept_collections(base, spec):
                    key = collection_key(spec, coll)
                    if key not in built:
                        df = build_collection(base, spec, coll)
                        path = os.path.join(storage_dir, spec.id, coll)
                        built[key] = (path, df.schema)
                        writes[key] = submit(df.write.mode("overwrite").parquet, path)

            copies: list[Future] = []
            measured: list[tuple[int, DataFrame, Future]] = []
            pending: list[tuple[DenormalizationSpec, QuerySpec, str, Future]] = []
            for spec in specs:
                for coll in kept_collections(base, spec):
                    key = collection_key(spec, coll)
                    writes[key].result()
                    path = os.path.join(storage_dir, spec.id, coll)
                    if built[key][0] != path:
                        copies.append(submit(_copy_dir, spark, built[key][0], path))
                materialize_variant(spark, base, spec, built)
                for qs in queries:
                    sql = rewrite_for_variant(qs.sql, spec, columns)
                    df = spark.sql(sql)
                    h = df.semanticHash()
                    same = (
                        f
                        for other_h, other, f in measured
                        if other_h == h and other.sameSemantics(df)
                    )
                    future = next(same, None)
                    if future is None:
                        name = f"{spec.id}:{qs.id}"
                        future = submit(run_with_metrics, spark, df, name)
                        measured.append((h, df, future))
                    pending.append((spec, qs, sql, future))

            for spec, qs, sql, future in pending:
                qm = future.result()
                report.rows.append(
                    WorkloadRow(
                        variant=spec.id,
                        query=qs.id,
                        frequency=qs.frequency,
                        rewritten_sql=sql,
                        # the plan of the MEASURED execution (final adaptive
                        # form) — df's own QueryExecution never ran, so its
                        # executedPlan() would be the pre-AQE initial plan
                        metrics=qm,
                        physical_plan=qm.plan_desc,
                    )
                )
            for future in copies:
                future.result()
    finally:
        # the loop leaves the LAST variant's views registered under the
        # base collection names; restore the callers' logical schema so a
        # later spark.sql in the same session reads the base data, not a
        # denormalized (inner-joined, struct-bearing) layout
        for coll, df in base.items():
            df.createOrReplaceTempView(coll)
    if out_dir:
        report.write(out_dir)
    return report
