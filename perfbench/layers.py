"""The traced run's layer split, measured from the benchmark's side.

Spans are recorded around the calls into each engine layer (builder,
``catalog.load_table``, ``session.materialize_release``, the design
workload's materialize/rewrite/measure steps, the ``noop`` write), kept in
memory, and folded into per-operation layer figures right after each
operation.  Spark's own status stores give the rest, read per job-group
tag: the job intervals that split a builder call into driver
construction and eager work, stage task metrics, the SQL plan graph, and
-- through a ``StreamingQueryListener`` -- micro-batch progress.
"""

from __future__ import annotations

import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from stats import covered, self_time, split_op

MIB = float(1 << 20)
#: |build + eager + exec - operation wall| allowed on each operation.
SUM_TOLERANCE_SHARE = 0.02
SUM_TOLERANCE_S = 0.02

#: SQL plan-graph node names counted into the plan signature.
PLAN_NODES = {
    "plan.exchanges": re.compile(r"^Exchange$"),
    "plan.broadcast_joins": re.compile(r"^BroadcastHashJoin$"),
    "plan.sort_merge_joins": re.compile(r"^SortMergeJoin$"),
    "plan.inmemory_scans": re.compile(r"^InMemoryTableScan$"),
    "plan.python_nodes": re.compile(r"Python|Pandas|MapInArrow"),
}

#: Per-operation figures the traced run sums over a pass.  Every name is
#: a ``per_layer`` metric of BENCHMARK.json.
OP_FIELDS = (
    "queries.build_s", "queries.eager_s", "queries.eager_jobs",
    "catalog.load_s", "catalog.load_calls",
    "session.materialize_release_s", "session.materialize_release_calls",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s", "exec.fetch_wait_s",
    "exec.scan_mib", "exec.shuffle_write_mib", "exec.shuffle_read_mib",
    "exec.spill_mib",
    *PLAN_NODES,
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.state_rows", "streaming.state_mem_mib",
    "workload.materialize_s", "workload.rewrite_s", "workload.measure_s",
    "untagged.jobs", "untagged.s", "jvm.gc_s",
)

#: Span name -> (seconds field, calls field or None).
_SPAN_FIELDS = {
    "catalog.load": ("catalog.load_s", "catalog.load_calls"),
    "session.materialize_release": (
        "session.materialize_release_s", "session.materialize_release_calls",
    ),
    "workload.materialize": ("workload.materialize_s", None),
    "workload.rewrite": ("workload.rewrite_s", None),
    "workload.measure": ("workload.measure_s", None),
}


def _opt(option):
    """A Scala ``Option`` from py4j -> its value or None."""
    return option.get() if option.isDefined() else None


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.sink.append(
            (
                str(p.runId),
                dict(p.durationMs or {}),
                sum(s.numRowsTotal for s in p.stateOperators),
                sum(s.memoryUsedBytes for s in p.stateOperators),
            )
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Span recorder plus status-store reader for one session."""

    def __init__(self, spark: SparkSession, workload: str):
        self.spark = spark
        self.workload = workload
        self.jsc = spark.sparkContext._jsc.sc()
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []
        self._progress: list = []
        self._listener = _ProgressListener(self._progress)
        self._patched: list = []
        self.cache_peak_mib = 0.0
        self.heap_peak_mib = 0.0
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self._drain()
        self._last_job = self._max_job_id()
        self._last_exec = self._max_exec_id()
        self._gc_ms = self.gc_ms()

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append((name, time.time(), 0.0, self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            n, start, _, parent = self.spans[idx]
            self.spans[idx] = (n, start, time.time(), parent)

    def _wrap(self, name: str, fn):
        def wrapped(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if name == "session.materialize_release":
                self.sample_cache()
            return out

        wrapped.__wrapped__ = fn
        return wrapped

    def install(self) -> None:
        """Wrap the layer entry points wherever the engine bound them, and
        route every session's streaming progress to the listener."""
        from bigdatastructure_a5_spark import catalog, session
        from bigdatastructure_a5_spark.plans import workload

        targets = [
            (catalog, "load_table", "catalog.load"),
            (session, "materialize_release", "session.materialize_release"),
            (workload, "materialize_variant", "workload.materialize"),
            (workload, "rewrite_for_variant", "workload.rewrite"),
            (workload, "run_with_metrics", "workload.measure"),
        ]
        for home, attr, span_name in targets:
            orig = getattr(home, attr)
            wrapper = self._wrap(span_name, orig)
            for mod in list(sys.modules.values()):
                if (
                    getattr(mod, "__name__", "").startswith("bigdatastructure_a5_spark")
                    and getattr(mod, attr, None) is orig
                ):
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, orig))
        self.spark.streams.addListener(self._listener)
        new_session = SparkSession.newSession
        listener = self._listener

        def traced_new_session(sess):
            out = new_session(sess)
            out.streams.addListener(listener)
            return out

        SparkSession.newSession = traced_new_session
        self._patched.append((SparkSession, "newSession", new_session))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()
        self.spark.streams.removeListener(self._listener)

    # -- status stores -------------------------------------------------------
    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def skip(self) -> None:
        """Forget the spans, jobs, plans and progress since the last
        operation (the harness's own checks and cache clears, or an
        operation that raised)."""
        self.spans.clear()
        self._drain()
        self._last_job = self._max_job_id()
        self._last_exec = self._max_exec_id()
        self._progress[:] = []
        self._gc_ms = self.gc_ms()

    def _max_job_id(self) -> int:
        jobs = self.jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_exec_id(self) -> int:
        lst = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        return lst.last().executionId() if lst.size() else -1

    def gc_ms(self) -> int:
        return sum(max(g.getCollectionTime(), 0) for g in self._mf.getGarbageCollectorMXBeans())

    def sample_heap(self) -> None:
        """Raise ``heap_peak_mib`` to the JVM's total heap in use now and
        just before each collector's last collection.  Each figure is one
        instant's total over the heap pools, so the peak is a sampled
        lower bound of the true one, never a sum of peaks taken at
        different times."""
        used = [self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()]
        heap_pools = {
            str(p.getName())
            for p in self._mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"
        }
        for g in self._mf.getGarbageCollectorMXBeans():
            info = g.getLastGcInfo()
            if info is None:
                continue
            before = info.getMemoryUsageBeforeGc()
            used.append(sum(before[name].getUsed() for name in heap_pools if name in before))
        self.heap_peak_mib = max(self.heap_peak_mib, max(used) / MIB)

    def sample_cache(self) -> None:
        infos = self.jsc.getRDDStorageInfo()
        mib = sum(i.memSize() + i.diskSize() for i in infos) / MIB
        self.cache_peak_mib = max(self.cache_peak_mib, mib)

    def _new_jobs(self) -> list[dict]:
        """Jobs finished since the last call, newest first (jobsList order)."""
        store = self.jsc.statusStore()
        jobs = store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            submitted, completed = _opt(j.submissionTime()), _opt(j.completionTime())
            out.append(
                {
                    "group": _opt(j.jobGroup()),
                    "desc": _opt(j.description()),
                    "start": submitted.getTime() / 1000.0 if submitted else 0.0,
                    "end": completed.getTime() / 1000.0 if completed else time.time(),
                    "stages": [j.stageIds().apply(k) for k in range(j.stageIds().size())],
                }
            )
        if out:
            self._last_job = jobs.apply(0).jobId()
        return out

    def _stage_totals(self, stage_ids: set[int]) -> dict[str, float]:
        store = self.jsc.statusStore()
        t = defaultdict(float)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, None, False, None)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if str(s.status()) == "SKIPPED":
                    continue
                t["exec.stages"] += 1
                t["exec.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                t["exec.failed_tasks"] += s.numFailedTasks()
                t["exec.task_run_s"] += s.executorRunTime() / 1e3
                t["exec.task_cpu_s"] += s.executorCpuTime() / 1e9
                t["exec.task_gc_s"] += s.jvmGcTime() / 1e3
                t["exec.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
                t["exec.scan_mib"] += s.inputBytes() / MIB
                t["exec.shuffle_write_mib"] += s.shuffleWriteBytes() / MIB
                t["exec.shuffle_read_mib"] += s.shuffleReadBytes() / MIB
                t["exec.spill_mib"] += s.diskBytesSpilled() / MIB
        return t

    def _plan_counts(self) -> dict[str, int]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        lst = store.executionsList()
        counts = dict.fromkeys(PLAN_NODES, 0)
        eids = []
        for i in range(lst.size() - 1, -1, -1):
            eid = lst.apply(i).executionId()
            if eid <= self._last_exec:
                break
            eids.append(eid)
        for eid in eids:
            nodes = store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                name = nodes.next().name().strip()
                for key, pat in PLAN_NODES.items():
                    if pat.search(name):
                        counts[key] += 1
        if eids:
            self._last_exec = max(eids)
        return counts

    def _streaming(self) -> dict[str, float]:
        events, self._progress[:] = list(self._progress), []
        t = defaultdict(float)
        last_state: dict[str, tuple[int, int]] = {}
        for run_id, dur, rows, mem in events:
            t["streaming.batches"] += 1
            t["streaming.trigger_ms"] += dur.get("triggerExecution", 0)
            t["streaming.add_batch_ms"] += dur.get("addBatch", 0)
            t["streaming.query_planning_ms"] += dur.get("queryPlanning", 0)
            t["streaming.wal_commit_ms"] += dur.get("walCommit", 0)
            last_state[run_id] = (rows, mem)
        t["streaming.state_rows"] = sum(r for r, _ in last_state.values())
        t["streaming.state_mem_mib"] = sum(m for _, m in last_state.values()) / MIB
        return t

    # -- one operation -------------------------------------------------------
    def fold_op(
        self, tag: str, wall: float, builder_span: int, write_span: int | None, op_span: int
    ) -> dict[str, float]:
        """Layer figures of the operation whose spans were just recorded;
        ``wall`` is the operation's own timer, against which the
        build/eager/exec split is checked (``stats.split_op``)."""
        self._drain()
        self.sample_cache()
        self.sample_heap()
        _, b0, b1, _ = self.spans[builder_span]
        _, o0, o1, _ = self.spans[op_span]
        write = self.spans[write_span][1:3] if write_span is not None else None
        jobs = self._new_jobs()
        split = split_op(
            wall, (b0, b1), write, [(j["start"], j["end"], j["group"], j["desc"]) for j in jobs], tag
        )
        m = defaultdict(float)
        m["queries.build_s"] = split["build_s"]
        m["queries.eager_s"] = split["eager_s"]
        m["queries.eager_jobs"] = split["eager_jobs"]
        m["exec.s"] = split["exec_s"]
        m["exec.jobs"] = len(jobs)
        untagged = [
            (j["start"], j["end"])
            for j in jobs
            if not (j["group"] or "").startswith(f"{self.workload}:")
        ]
        m["untagged.jobs"] = len(untagged)
        m["untagged.s"] = covered((o0, o1), untagged)
        m.update(self._stage_totals({s for j in jobs for s in j["stages"]}))
        m.update(self._plan_counts())
        m.update(self._streaming())
        for idx in range(op_span, len(self.spans)):
            name, s0, s1, _ = self.spans[idx]
            if name not in _SPAN_FIELDS:
                continue
            children = [(c0, c1) for _, c0, c1, p in self.spans if p == idx]
            secs, calls = _SPAN_FIELDS[name]
            m[secs] += self_time((s0, s1), children)
            if calls:
                m[calls] += 1
        gc = self.gc_ms()
        m["jvm.gc_s"] = (gc - self._gc_ms) / 1e3
        self._gc_ms = gc
        m["op_wall_s"] = wall
        m["residual_s"] = split["residual_s"]
        del self.spans[op_span:]
        return dict(m)


def within_tolerance(op: dict[str, float]) -> bool:
    return abs(op["residual_s"]) <= SUM_TOLERANCE_S + SUM_TOLERANCE_SHARE * op["op_wall_s"]
