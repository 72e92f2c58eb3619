"""Benchmark entry point: one closed-loop client over one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

NAME is a workload of ``workloads.WORKLOADS``: ``relational-core`` and
``materialize-core`` (listed in BENCHMARK.json) or one of the three full
partitions ``relational``, ``curation``, ``materialize``.

Run from the repository root.  One run:

1. writes the fixture tables once per checkout (``fixtures.py``) and
   loads or computes the DuckDB oracle answers of the workload's rows;
2. sets the session up on ``local[<cores / 2>]`` (``setup_s``: engine
   import, JVM launch, package shipping and a warm-up query; fixture and
   oracle preparation excluded);
3. times one cold pass over the workload's operations, then warm passes
   until ``--seconds`` have passed since the cold pass began, not
   counting the cold pass's checks: at least ``MIN_WARM_PASSES``, and no
   further pass starts that the last one's wall says would end later.  The seed
   fixes each pass's operation order and the design workload's brand
   literal.  Each pass gets a fresh ``tempfile.tempdir``
   that is deleted afterwards, so no engine store outlives its pass;
4. checks every operation of the cold pass against its oracle once that
   pass has ended (outside the timed region, before its directory is
   deleted), and counts wrong results and exceptions as failures.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the engine
layers in spans and prints the per-layer split (``layers.py``).  The last
stdout line is the result object; the line before it is a detail record
with the run's configuration, contamination and sample counts.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".perfbench_work"
MIB = float(1 << 20)
DRIVER_HEAP = "512m"
#: The median of three warm passes keeps one pass from setting pass_s:
#: the first, which still pays JIT compilation left over from the cold
#: pass, or one that a burst of host CPU steal slowed.
MIN_WARM_PASSES = 3


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _dir_mib(path: Path) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total / MIB


def _vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, args, run_dir: Path):
        self.args = args
        self.workload = args.workload
        self.run_dir = run_dir
        self.tmp = run_dir / "tmp"
        self.spark = None
        self.tracer = None
        self.failures: list[str] = []
        self.attempted = 0

    # -- environment and session ---------------------------------------------
    def _environment(self) -> None:
        """Keep every file Spark, the JVM and Python write inside run_dir."""
        self.tmp.mkdir(parents=True)
        (self.run_dir / "local").mkdir()
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.run_dir / "local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # half the cores: with one task thread per core, the JIT compiler,
        # GC and Python worker threads compete with the tasks, and every
        # burst of host CPU steal lands on a task.  On a 4-vCPU VM the
        # IQR/median of an 8-row relational subset's pass_s over five seeds was 0.30
        # on local[4] and 0.06 on local[2], at a 9% slower median.
        os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
        # a fixed heap cap keeps the JVM's heap growth, and so its peak
        # RSS, from varying with GC heuristics run to run (IQR/median of
        # that subset's peak_rss_mib over five seeds: 0.15 at 1g,
        # 0.07 at 512m; the largest sampled heap in use is about 670 MiB
        # at 1g, so 512m collects more often but still fits every row)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        tempfile.tempdir = str(self.tmp)

    def _session(self):
        from bigdatastructure_a5_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # the status stores the traced run reads exist without the
                # web UI; the UI's server would only add set-up work
                "spark.ui.enabled": "false",
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _setup(self) -> dict:
        """Process start until the session is ready: engine import, JVM
        launch and ``get_spark``, shipping the package to the workers, and
        a trivial warm-up query.  Once per run: a second session in the same
        JVM runs measurably slower, and a second JVM costs a whole pass."""
        from bigdatastructure_a5_spark.catalog import load_table
        from bigdatastructure_a5_spark.session import ensure_workers_can_import

        t0 = time.perf_counter()
        self.spark = self._session()
        t1 = time.perf_counter()
        ensure_workers_can_import(self.spark)
        t2 = time.perf_counter()
        load_table(self.spark, self.sf_dir, "region").count()
        t3 = time.perf_counter()
        return {"setup_s": self.pre_session_s + t3 - t0, "start": t1 - t0, "ship": t2 - t1}

    def _stop_session(self) -> None:
        """Stop Spark, its JVM and the py4j gateway, and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- one operation -------------------------------------------------------
    def _phase(self, tag: str, phase: str, span: str):
        if self.tracer is None:
            return nullcontext()
        self.spark.sparkContext.setJobGroup(tag, phase)
        return self.tracer.span(span)

    def _run_op(self, op: str, pass_dir: Path):
        """Time one operation -> (wall seconds, output, layer figures)."""
        from bigdatastructure_a5_spark.catalog import load_table
        from bigdatastructure_a5_spark.plans.workload import run_workload
        from bigdatastructure_a5_spark.registry import REGISTRY
        from workloads import DESIGN_OP

        tag = f"{self.workload}:{op}"
        write_span = None
        op_ctx = self.tracer.span("op") if self.tracer else nullcontext()
        t0 = time.perf_counter()
        with op_ctx as op_span:
            with self._phase(tag, "build", "builder") as builder_span:
                if op == DESIGN_OP:
                    base = {t: load_table(self.spark, self.sf_dir, t) for t in ("part", "lineitem")}
                    storage = pass_dir / "variants"
                    out = (run_workload(self.spark, base, self.denorms, self.queries, str(storage)), base, storage)
                else:
                    out = REGISTRY[op].builder(self.spark, self.sf_dir)
            if op != DESIGN_OP:
                with self._phase(tag, "exec", "write") as write_span:
                    out.write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        layers = None
        if self.tracer:
            layers = self.tracer.fold_op(tag, wall, builder_span, write_span, op_span)
            if op == DESIGN_OP:
                report, _base, storage = out
                layers["workload.variant_mib"] = _dir_mib(storage)
                layers["workload.billed_gib"] = sum(t["time"] for t in report.totals().values())
        return wall, out, layers

    def _check(self, op: str, out) -> str | None:
        from check import verify_design
        from workloads import DESIGN_OP

        if op == DESIGN_OP:
            report, base, storage = out
            self.leaderboard = [v for v, _ in report.leaderboard()]
            problems = verify_design(
                self.spark, self.oracle, report, self.denorms, self.queries, str(storage), base
            )
            return "; ".join(problems) or None
        return self.oracle.verify(op, out)

    # -- one pass ------------------------------------------------------------
    def _pass(self, index: int, check: bool) -> dict:
        from workloads import pass_order

        pass_dir = self.run_dir / f"pass-{index}"
        pass_dir.mkdir()
        tempfile.tempdir = str(pass_dir)
        self.spark.catalog.clearCache()
        if self.tracer:
            self.tracer.skip()
        walls, layers, outputs = {}, [], {}
        try:
            for op in pass_order(self.workload, self.args.seed, index):
                self.attempted += 1
                try:
                    wall, out, op_layers = self._run_op(op, pass_dir)
                except Exception as exc:  # a failed operation is a counted result
                    self.failures.append(f"pass {index} {op}: {type(exc).__name__}: {str(exc)[:300]}")
                    if self.tracer:
                        self.tracer.skip()
                    continue
                walls[op] = wall
                if op_layers is not None:
                    layers.append(op_layers)
                if check:
                    outputs[op] = out
            tmp_mib = _dir_mib(pass_dir)
            # checked after the pass, while its stores still exist, so the
            # checks' own jobs do not warm the JVM between timed operations
            t_check = time.perf_counter()
            for op, out in outputs.items():
                try:
                    problem = self._check(op, out)
                except Exception as exc:
                    problem = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
                if problem:
                    self.failures.append(f"pass {index} {op}: {problem}")
            if outputs and self.tracer:
                self.tracer.skip()
            check_s = time.perf_counter() - t_check
        finally:
            tempfile.tempdir = str(self.tmp)
            shutil.rmtree(pass_dir, ignore_errors=True)
        return {
            "wall": sum(walls.values()),
            "op_walls": walls,
            "layers": layers,
            "tmp_mib": tmp_mib,
            "check_s": check_s,
        }

    # -- the run -------------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        import bench
        from bigdatastructure_a5_spark.registry import _load_all
        from check import Oracle
        from fixtures import SCALE, ensure_fixtures
        from stats import median, tail_percentile
        from workloads import DESIGN_OP, WORKLOADS, design_brand, design_workload, registry_ops

        _load_all()
        self.pre_session_s = time.perf_counter() - T_START
        self._environment()
        self.sf_dir = ensure_fixtures(str(WORK / "fixtures"))
        steal_probe = bench._probe_steal(0.5)
        self.oracle = Oracle(self.sf_dir, str(WORK / "oracle"))
        self.oracle.prepare(registry_ops(self.workload))
        self.denorms, self.queries = design_workload(self.args.seed)
        self.leaderboard = None
        load_start = os.getloadavg()
        try:
            setup = self._setup()
            if self.args.trace:
                from layers import Tracer

                self.tracer = Tracer(self.spark, self.workload)
                self.tracer.install()
            stat0 = bench._cpu_stat()
            t0 = time.perf_counter()
            passes = [self._pass(0, check=True)]
            # the cold pass's checks run outside the timed region
            timed = lambda: time.perf_counter() - t0 - passes[0]["check_s"]  # noqa: E731
            while len(passes) <= MIN_WARM_PASSES or (
                timed() + passes[-1]["wall"] <= self.args.seconds
            ):
                passes.append(self._pass(len(passes), check=False))
            timed_s = timed()
            steal = bench._steal_pct(stat0, bench._cpu_stat())
            sc = self.spark.sparkContext
            cores = sc.defaultParallelism
            master = sc.master
            jvm_pid = sc._gateway.proc.pid
            heap_peak = None
            if self.tracer:
                self.tracer.sample_heap()
                heap_peak = self.tracer.heap_peak_mib
                self.tracer.uninstall()
            rss_parts = {
                "driver_python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                "jvm": _vm_hwm_mib(jvm_pid),
            }
            peak_rss = sum(rss_parts.values())
        finally:
            self._stop_session()
            self.oracle.close()

        warm = passes[1:]
        op_walls = [w for p in warm for w in p["op_walls"].values()]
        tail, tail_pct, n_ops = tail_percentile(op_walls)
        pass_s = median([p["wall"] for p in warm])
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "pass_s": (pass_s, "s"),
            "peak_rss_mib": (peak_rss, "MiB"),
        }
        error_ratio = len(self.failures) / self.attempted
        detail = {
            "workload": self.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "fixtures": {"dir": os.path.relpath(self.sf_dir, REPO), "scale": SCALE},
            "closed_loop_clients": 1,
            "master": master,
            "cores_default_parallelism": cores,
            "passes": {
                "cold": 1,
                "warm": len(warm),
                "timed_s": timed_s,
                "check_s": passes[0]["check_s"],
            },
            "peak_rss_mib_parts": rss_parts,
            "cold_pass_s": passes[0]["wall"],
            "op_p50_s": {"value": median(op_walls), "samples": n_ops},
            "op_tail_s": {"value": tail, "percentile": tail_pct, "samples": n_ops},
            "op_walls_s": {op: [p["op_walls"].get(op) for p in passes] for op in sorted(WORKLOADS[self.workload])},
            "error_ratio": {"value": error_ratio, "failed": len(self.failures), "attempted": self.attempted},
            "failures": self.failures,
            "checked": "every operation of the cold pass; exceptions on every pass",
            "contamination": {
                "steal_probe_pct": steal_probe,
                "steal_pct_of_busy_timed": steal,
                "loadavg_start": list(load_start),
                "loadavg_end": list(os.getloadavg()),
            },
        }
        if DESIGN_OP in WORKLOADS[self.workload]:
            detail["design"] = {"brand": design_brand(self.args.seed), "leaderboard": self.leaderboard}
        if self.tracer:
            metrics, detail["trace_detail"] = self._layer_metrics(setup, passes, heap_peak, error_ratio)
        return metrics, detail

    def _layer_metrics(self, setup, passes, heap_peak, error_ratio):
        from layers import OP_FIELDS, SUM_TOLERANCE_S, SUM_TOLERANCE_SHARE, within_tolerance
        from stats import median

        warm = passes[1:]
        per_pass = [
            {f: sum(op.get(f, 0.0) for op in p["layers"]) for f in OP_FIELDS}
            for p in warm
        ]
        m = {f: median([pp[f] for pp in per_pass]) for f in OP_FIELDS}
        m["session.start_s"] = setup["start"]
        m["session.ship_s"] = setup["ship"]
        m["jvm.heap_peak_mib"] = heap_peak
        m["session.cache_peak_mib"] = self.tracer.cache_peak_mib
        for f in ("workload.variant_mib", "workload.billed_gib"):
            m[f] = median([sum(op.get(f, 0.0) for op in p["layers"]) for p in warm])
        m["io.tmp_written_mib"] = median([p["tmp_mib"] for p in warm])
        m["trace.pass_s"] = median([p["wall"] for p in warm])
        all_ops = [op for p in passes for op in p["layers"]]
        m["trace.max_residual_s"] = max((abs(op["residual_s"]) for op in all_ops), default=0.0)
        m["trace.ops_outside_tolerance"] = sum(1 for op in all_ops if not within_tolerance(op))
        m["error_ratio"] = error_ratio
        units = {"s": "s", "ms": "ms", "mib": "MiB", "gib": "GiB", "ratio": "ratio"}
        out = {}
        for name, value in m.items():
            unit = units.get(name.replace(".", "_").rsplit("_", 1)[-1], "count")
            out[name] = (value, unit)
        detail = {
            "sum_tolerance": (
                "per operation |build+eager+exec-wall| <= "
                f"{SUM_TOLERANCE_S} s + {SUM_TOLERANCE_SHARE:.0%} of wall"
            ),
            "ops_traced": len(all_ops),
        }
        untraced = WORK / "results" / f"{self.workload}-trace0.json"
        if untraced.is_file():
            prior = json.loads(untraced.read_text())["metrics"]["pass_s"]["value"]
            detail["tracing_overhead_s"] = m["trace.pass_s"] - prior
            detail["tracing_overhead_base_pass_s"] = prior
        return out, detail


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    for needed in ("bigdatastructure_a5_spark", "bench.py", "tools/check_correctness.py"):
        if not (REPO / needed).exists():
            print(f"perfbench: {needed} not found beside perfbench/", file=sys.stderr)
            return 2
    sys.path.insert(1, str(REPO))
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    runner = Bench(args, run_dir)
    try:
        metrics, detail = runner.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-trace{args.trace}.json").write_text(json.dumps(result))
    print("perfbench detail: " + json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
