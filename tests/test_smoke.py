"""Smoke: the driver contract functions work end-to-end."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
spec = importlib.util.spec_from_file_location("__spark_entry__", REPO / "__spark_entry__.py")
entry_mod = importlib.util.module_from_spec(spec)
sys.modules["__spark_entry__"] = entry_mod
spec.loader.exec_module(entry_mod)

# The benchmark's plan-node patterns, imported (perfbench/ is its own tree,
# importable only with its dir on the path).
sys.path.insert(0, str(REPO / "perfbench"))
try:
    from layers import PLAN_NODES
finally:
    sys.path.remove(str(REPO / "perfbench"))

#: Each registry row's plan signature at sf0.001: PLAN_NODES counts, in
#: PLAN_NODES order (exchanges, broadcast joins, sort-merge joins,
#: in-memory scans, Python nodes), summed over the final (AQE) plan graph
#: of every SQL execution the row starts — eager materialize_release
#: pipelines and streaming micro-batches as well as the terminal count().
#: A cached frame's plan counts once, in the execution that builds it
#: (see _plan_signature).
#: An intended plan change re-pins from the table the failure prints.
PLAN_SIGNATURES = {
    "agg_distinct_having": (3, 0, 0, 0, 0),
    "agg_on_orderkey": (2, 0, 0, 0, 0),
    "agg_prefiltered": (2, 0, 0, 0, 0),
    "agg_pricing_summary": (2, 0, 0, 0, 0),
    "agg_rollup": (2, 0, 0, 0, 0),
    "agg_then_join": (2, 1, 0, 0, 0),
    "curriculum_bins": (1, 0, 0, 0, 0),
    "decontam_benchmark": (3, 1, 0, 2, 0),
    "dedup_clusters": (10, 7, 0, 8, 0),
    "dedup_clusters_star": (22, 10, 0, 5, 0),
    "dedup_exact": (2, 0, 0, 0, 0),
    "dedup_minhash_lsh": (3, 3, 0, 5, 0),
    "dedup_ngram_jaccard": (3, 1, 0, 0, 0),
    "dedup_retraction": (16, 16, 0, 23, 0),
    "dedup_semantic": (4, 2, 0, 1, 1),
    "dedup_simhash": (3, 1, 0, 2, 0),
    "denorm_join_elimination": (2, 1, 0, 0, 0),
    "denorm_many_embed": (1, 0, 0, 0, 0),
    "document_report": (1, 0, 0, 0, 0),
    "events_json_extract": (1, 0, 0, 0, 0),
    "events_sessionize": (2, 0, 0, 0, 0),
    "events_sliding_window": (2, 0, 0, 0, 0),
    "events_streaming_interval_join": (5, 0, 0, 0, 0),
    "events_streaming_rollup": (3, 0, 0, 0, 0),
    "filter_eq_conjunctive": (1, 0, 0, 0, 0),
    "filter_over_intermediate": (2, 0, 0, 0, 0),
    "join_asof_attribution": (3, 0, 0, 0, 0),
    "join_equi_inner": (1, 1, 0, 0, 0),
    "join_filtered_brand": (2, 1, 0, 0, 0),
    "join_range_error_context": (2, 1, 0, 0, 0),
    "join_salted_skew": (1, 1, 0, 0, 0),
    "join_semi_anti": (1, 2, 0, 0, 0),
    "join_three_way": (2, 2, 0, 0, 0),
    "layout_zorder_box": (4, 0, 0, 0, 0),
    "multimodal_decode": (1, 0, 0, 0, 1),
    "pack_assembly_incremental": (6, 1, 0, 4, 0),
    "pack_chunks": (2, 0, 0, 0, 0),
    "pipeline_curation": (4, 2, 0, 5, 0),
    "pipeline_mixture": (1, 0, 0, 0, 0),
    "projection_computed": (1, 0, 0, 0, 0),
    "set_operations": (2, 2, 0, 0, 0),
    "sim_ann_ivf": (0, 0, 0, 0, 0),
    "sim_ann_lsh": (0, 0, 0, 0, 0),
    "sim_bruteforce_topk": (0, 0, 0, 0, 0),
    "sim_pq_adc": (0, 0, 0, 0, 0),
    "sim_sq8_topk": (2, 0, 0, 0, 0),
    "sketch_countmin_topk": (2, 1, 0, 0, 0),
    "sort_limit_topk": (0, 0, 0, 0, 0),
    "text_langid": (1, 0, 0, 0, 0),
    "text_quality": (1, 0, 0, 0, 0),
}


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"p_partkey", "p_brand", "n_lines", "avg_price"}


def test_every_query_has_callable_and_most_have_oracles(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 18
    for name in oracles:
        assert name in qs
    # oracle coverage must stay high: non-SQL-expressible ops only may omit.
    assert len(oracles) >= 0.7 * len(qs)


def test_every_query_shaped_function_is_registered():
    """A public module-level function in queries/ with the builder
    signature ``(spark, sf_dir)`` must be a registered row.  An
    unregistered one is reached by no gate and no benchmark; test an
    operator directly instead of keeping a builder for it."""
    import importlib
    import inspect
    import pkgutil

    import bigdatastructure_a5_spark.queries as queries_pkg
    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    registered = {qd.builder.__wrapped__ for qd in REGISTRY.values()}
    stray = []
    for info in pkgutil.iter_modules(queries_pkg.__path__):
        mod = importlib.import_module(f"{queries_pkg.__name__}.{info.name}")
        for name, fn in vars(mod).items():
            if (
                not name.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
                and list(inspect.signature(fn).parameters) == ["spark", "sf_dir"]
                and fn not in registered
            ):
                stray.append(f"{info.name}.{name}")
    assert not stray, f"unregistered builders: {sorted(stray)}"


def _newest_execution(spark) -> int:
    """Id of the newest SQL execution, once the listener bus has delivered
    every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.last().executionId() if execs.size() else -1


def _scala_list(seq) -> list:
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _plan_signature(spark, after: int) -> tuple[int, ...]:
    """PLAN_NODES counts over every SQL execution with id > ``after``.

    The plan graph hangs a cached frame's whole plan under every
    InMemoryTableScan that reads it.  That plan is counted once, under
    the first scan of it in execution order (the one that builds the
    cache); every later scan of the same cached plan counts as the scan
    node alone."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    eids = []
    for i in range(execs.size() - 1, -1, -1):
        eid = execs.apply(i).executionId()
        if eid <= after:
            break
        eids.append(eid)
    counts = [0] * len(PLAN_NODES)
    seen_caches = set()
    for eid in sorted(eids):
        graph = store.planGraph(eid)
        nodes = {n.id(): n for n in _scala_list(graph.allNodes())}
        edges = [(e.fromId(), e.toId()) for e in _scala_list(graph.edges())]
        children = {i: [] for i in nodes}
        for child, parent in edges:
            children[parent].append(child)

        def subtree(i):
            out, stack = [], [i]
            while stack:
                j = stack.pop()
                out.append(j)
                stack.extend(children[j])
            return out

        has_parent = {child for child, _ in edges}
        stack = [i for i in nodes if i not in has_parent]
        visited = set()
        while stack:
            i = stack.pop()
            if i in visited:  # a reused exchange has one node, two parents
                continue
            visited.add(i)
            name = nodes[i].name().strip()
            for k, pat in enumerate(PLAN_NODES.values()):
                counts[k] += bool(pat.search(name))
            if name == "InMemoryTableScan":
                cached = tuple(
                    nodes[j].desc() for c in children[i] for j in subtree(c)
                )
                if cached in seen_caches:
                    continue
                seen_caches.add(cached)
            stack.extend(children[i])
    return tuple(counts)


def test_all_queries_run_nonempty_at_sf0001(spark, sf_dir):
    """Every registry row returns rows and keeps its pinned plan signature.

    Cross-test state that would change a signature is reset per row:
    caches left by earlier tests (they turn pipelines into
    InMemoryTableScan reads)."""
    observed = {}
    for name, fn in entry_mod.queries().items():
        spark.catalog.clearCache()
        before = _newest_execution(spark)
        df = fn(spark, sf_dir)
        assert df.count() > 0, f"{name} returned no rows at sf0.001"
        observed[name] = _plan_signature(spark, before)
    if observed != PLAN_SIGNATURES:
        missing = PLAN_SIGNATURES.keys() - observed.keys()
        changed = [f"  {name}: pinned but not run" for name in sorted(missing)]
        for name, sig in observed.items():
            pinned = PLAN_SIGNATURES.get(name)
            if pinned is None:
                changed.append(f"  {name}: not pinned")
            elif pinned != sig:
                diffs = [f"{f} {a} -> {b}" for f, a, b in zip(PLAN_NODES, pinned, sig) if a != b]
                changed.append(f"  {name}: " + ", ".join(diffs))
        table = "\n".join(f'    "{name}": {sig},' for name, sig in sorted(observed.items()))
        pytest.fail(
            "plan signatures changed:\n" + "\n".join(changed)
            + "\n\nobserved table (paste over PLAN_SIGNATURES if the change is intended):\n"
            + "PLAN_SIGNATURES = {\n" + table + "\n}",
            pytrace=False,
        )


#: Registry rows that compile 155 distinct generated classes between them
#: at sf0.001 (10-24 each, measured after ``agg_pricing_summary`` in a
#: fresh session), well past Spark's default 100-entry codegen cache.
_CODEGEN_FILLER = (
    "agg_then_join",
    "curriculum_bins",
    "decontam_benchmark",
    "denorm_join_elimination",
    "denorm_many_embed",
    "events_sessionize",
    "join_asof_attribution",
    "join_range_error_context",
    "join_three_way",
    "set_operations",
    "sketch_countmin_topk",
)


def test_codegen_cache_outlives_other_rows(spark, sf_dir):
    """A row repeated after enough other rows to overflow Spark's default
    codegen cache compiles nothing the second time: get_spark sizes
    ``spark.sql.codegen.cache.maxEntries`` to the engine's working set.
    At the default of 100 the repeat recompiles every class of the row."""
    queries = entry_mod.queries()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = compiled.METRIC_COMPILATION_TIME()

    def run(name):
        spark.catalog.clearCache()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run("agg_pricing_summary")
    for name in _CODEGEN_FILLER:
        run(name)
    before = compiled.getCount()
    run("agg_pricing_summary")
    assert compiled.getCount() - before == 0


def test_cluster_profile_matches_coverage_deploy_table():
    """VERDICT r6 item 6: the COVERAGE.md deploy checklist is executable
    (session.cluster_overrides / get_spark(profile='cluster')) and this
    test is the drift lock — every conf the profile emits must appear,
    with its value, in the checklist's table row; editing either side
    alone fails here."""
    import re
    from pathlib import Path

    from bigdatastructure_a5_spark.session import (
        CLUSTER_TOTAL_CORES,
        cluster_overrides,
    )

    section = (
        (Path(__file__).resolve().parent.parent / "COVERAGE.md")
        .read_text()
        .split("## Deploy checklist", 1)[1]
    )
    ov = cluster_overrides()
    assert ov["spark.sql.shuffle.partitions"] == str(3 * CLUSTER_TOTAL_CORES)
    # spark.default.parallelism rides the shuffle-partitions row (the code
    # default sets both from one number; the override must keep them equal)
    assert ov["spark.default.parallelism"] == ov["spark.sql.shuffle.partitions"]
    row_token = {
        "spark.sql.shuffle.partitions": ov["spark.sql.shuffle.partitions"],
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256",
        "spark.sql.files.maxPartitionBytes": "256 MiB",
        "spark.driver.memory": "64g",
        "spark.sql.streaming.stateStore.providerClass": "RocksDB",
    }
    for key, token in row_token.items():
        rows = [
            line
            for line in section.splitlines()
            if line.startswith(f"| `{key}`")
        ]
        assert len(rows) == 1, f"deploy table must have exactly one {key} row"
        # the token must sit in the OVERRIDE column (3rd), not just anywhere
        override_col = rows[0].split("|")[3]
        assert token in override_col, (key, token, override_col)
    # value sanity: the emitted strings are what the table's prose means
    assert ov["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "256m"
    assert ov["spark.sql.files.maxPartitionBytes"] == "256m"
    assert re.search(r"RocksDBStateStoreProvider$",
                     ov["spark.sql.streaming.stateStore.providerClass"])
    # and an unknown profile is a loud error, not a silent local session
    from bigdatastructure_a5_spark.session import get_spark

    with pytest.raises(ValueError, match="profile"):
        get_spark(profile="staging")


def test_persist_df_honors_storage_level_env(spark, monkeypatch):
    """session.persist_df routes every tracked-intermediate persist through
    the SPARK_GRAFT_PERSIST_LEVEL knob (EXPERIMENTS §11: DISK_ONLY is the
    starved-executor mitigation), and so does materialize_release's result
    checkpoint; an unknown level is a loud error."""
    import pytest

    from bigdatastructure_a5_spark.session import materialize_release, persist_df

    df = spark.range(10)
    try:
        monkeypatch.setenv("SPARK_GRAFT_PERSIST_LEVEL", "DISK_ONLY")
        p = persist_df(df)
        assert p.storageLevel.useDisk and not p.storageLevel.useMemory
        p.unpersist()
        result = materialize_release(df.selectExpr("id * 3 AS v"), [persist_df(df)])
        level = result._jdf.queryExecution().analyzed().rdd().getStorageLevel()
        assert level.useDisk() and not level.useMemory()

        monkeypatch.setenv("SPARK_GRAFT_PERSIST_LEVEL", "NOT_A_LEVEL")
        with pytest.raises(ValueError, match="NOT_A_LEVEL"):
            persist_df(df)

        monkeypatch.delenv("SPARK_GRAFT_PERSIST_LEVEL")
        p = persist_df(df)
        assert p.storageLevel.useMemory  # Spark's DataFrame default
    finally:
        df.unpersist()
