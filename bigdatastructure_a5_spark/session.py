"""SparkSession factory with scale-oriented defaults.

The reference models a 1000-server sharded cluster
(`/root/reference/query_simulator/config.py:18`); here the cluster is real
Spark.  Local test runs use ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
knob is chosen so the same code runs unchanged on a large cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing),
- CBO + histogram stats on (the reference's 1/NDV selectivity model is exactly
  Catalyst's FilterEstimation/JoinEstimation — SURVEY.md §4),
- Arrow transfer on (pandas UDF extensions run vectorized),
- shuffle partitions sized to the parallelism of the session; on a real
  cluster AQE coalesces / splits from this initial number.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: The reference cluster the deploy checklist is written against:
#: 1000 executors x 8 cores (COVERAGE.md "Deploy checklist").
CLUSTER_TOTAL_CORES = 8000

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def cluster_overrides(total_cores: int = CLUSTER_TOTAL_CORES) -> dict[str, str]:
    """The COVERAGE.md deploy-table overrides as an EXECUTABLE conf dict
    (VERDICT r6 item 6: the checklist could drift from code while it was
    prose).  ``get_spark(profile="cluster")`` applies it; on a real
    deployment the same dict is the ``--conf`` list for spark-submit.
    tests/test_smoke.py::test_cluster_profile_matches_coverage_deploy_table
    asserts every entry here matches the documented table row — edit
    either side and the drift test fails.

    Values are the table's rationale, mechanized:
    - shuffle partitions / default parallelism: 3x total cores as the
      INITIAL number (AQE coalesces down; too few is the direction AQE
      cannot repair),
    - advisory partition size 256 MiB, co-sized with executor memory,
    - maxPartitionBytes 256 MiB (scan tasks over ~1 GiB row groups),
    - driver memory 64g (broadcast relations + bounded driver fetches),
    - RocksDB state store, set before the FIRST checkpoint (provider is
      checkpoint-sticky).
    The broadcast threshold deliberately does NOT appear: the 64 MiB code
    default is the documented production setting (kept co-sized with
    MAX_BROADCAST_DROP_IDS)."""
    p = str(3 * total_cores)
    return {
        "spark.sql.shuffle.partitions": p,
        "spark.default.parallelism": p,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.driver.memory": "64g",
        "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
    }


def get_spark(
    app_name: str = "bigdatastructure-a5-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str = "local",
) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster the master/memory settings come from spark-submit:
    ``.master()`` is skipped whenever the process looks spark-submit-launched
    or a master is already configured (forcing local[] over --master would
    silently run the whole job single-node on the driver).

    ``profile="cluster"`` layers :func:`cluster_overrides` (the COVERAGE.md
    deploy checklist, executable) over the defaults; ``extra_conf`` still
    wins over both.  Streaming state uses Spark's in-memory provider
    unless one of the two sets ``stateStore.providerClass`` (the cluster
    profile sets RocksDB).  Note most of those are STATIC confs — the profile
    takes effect on a fresh session, not via getOrCreate against a live
    one.  Two guards
    because each alone has a blind spot: SparkConf() only sees spark.*
    JVM system properties once the py4j gateway exists (before that it
    reads an empty dict — exactly the state of the FIRST get_spark call in
    a fresh driver), while spark-submit/pyspark shells always export
    gateway env vars (PYSPARK_GATEWAY_PORT / PYSPARK_GATEWAY_SECRET)
    before launching the Python process, so the env check covers the
    pre-gateway window.  A plain ``python script.py`` run has neither and
    correctly gets local[n].
    """
    from pyspark import SparkConf

    n = cpus or default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    launched_by_spark_submit = bool(
        os.environ.get("PYSPARK_GATEWAY_PORT")
        or os.environ.get("PYSPARK_GATEWAY_SECRET")
    )
    if not launched_by_spark_submit and not SparkConf().contains(
        "spark.master"
    ):
        builder = builder.master(f"local[{n}]")
    builder = (
        builder
        # one shuffle partition per core locally; AQE coalesces below this.
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.statistics.histogram.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate is poison for the text family: it adds
        # `size(a) > 0 AND isnotnull(a)` under every explode(a), and when
        # `a` is a computed shingle array, predicate pushdown substitutes
        # the full expression through the token projection — inlining the
        # tokenizer regex into every element_at, re-tokenizing each
        # document once per shingle position, TWICE per row (O(tokens²),
        # the exact pathology shingle_sets materializes tokens to avoid).
        # Measured at sf0.1: the 8-gram bench-index explode 22.2 s -> 0.4 s,
        # the full decontam_benchmark query 60 s -> 2 s.  Safe to drop
        # engine-wide: explode already skips NULL/empty arrays, so the
        # inferred filter only ever helps when it can push into a STORED
        # array column's scan — a shape no engine query has (every exploded
        # array here is computed per row or read from an already-cached
        # frame).  See tests/test_decontam.py::test_no_inferred_generate_filter.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # dimension tables (region/nation/supplier/part at our SFs) broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-code cache sized to the engine's working set (a static
        # conf: it takes effect on the session that starts the JVM).  One
        # pass of the 50 registry rows at sf0.001 compiles 718 distinct
        # classes with a 1024-entry cache; a second pass compiles 20.  At
        # Spark's default of 100 the second pass recompiles 820, because
        # each row's classes are evicted before it runs again (4 vCPU,
        # local[4]).  See tests/test_smoke.py::test_codegen_cache_outlives_other_rows.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if profile == "cluster":
        for k, v in cluster_overrides().items():
            builder = builder.config(k, v)
    elif profile != "local":
        raise ValueError(
            f"unknown profile {profile!r}: expected 'local' or 'cluster'"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: The optimizer rule get_spark excludes session-wide (see the builder
#: comment above): it infers `size(a) > 0` filters under explode(a), and
#: pushdown then inlines computed shingle arrays into every element_at —
#: O(tokens²) per document (measured 60 s -> 2 s on decontam at sf0.1).
GENERATE_FILTER_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def ensure_generate_filter_exclusion(spark: SparkSession) -> None:
    """ADD the InferFiltersFromGenerate exclusion to a live session —
    ``spark.sql.optimizer.excludedRules`` is a dynamic SQL conf, so this
    works on any session, including one the engine did not build (the
    driver harness runs registry queries on ITS session; without the
    exclusion every shingle-family query silently pays the O(tokens²)
    inlined-tokenizer wall).  Merges with whatever the user already
    excluded; called by the registry wrapper so every gate query runs
    under the same optimizer contract as get_spark sessions."""
    key = "spark.sql.optimizer.excludedRules"
    cur = spark.conf.get(key, "") or ""
    if GENERATE_FILTER_RULE not in cur:
        spark.conf.set(
            key, f"{cur},{GENERATE_FILTER_RULE}".strip(",")
        )


def require_generate_filter_exclusion(spark: SparkSession) -> None:
    """Warn LOUDLY if the session lacks the InferFiltersFromGenerate
    exclusion that the text-family operators (dedup shingling, decontam)
    were measured against.

    The deploy checklist makes the exclusion a REQUIRED cluster conf, but
    a user who builds their own SparkSession silently loses it and
    re-enters the O(tokens²) inlined-tokenizer trap — same plan text,
    ~70x the wall.  The conf is dynamic (``spark.conf.set`` works
    mid-session), so the warning tells the user the one-line fix instead
    of raising: the results are still CORRECT, only pathologically slow.
    """
    excluded = spark.conf.get("spark.sql.optimizer.excludedRules", "") or ""
    if GENERATE_FILTER_RULE not in excluded:
        import warnings

        warnings.warn(
            "this SparkSession does not exclude InferFiltersFromGenerate: "
            "shingle-based operators (dedup/decontam) will re-tokenize "
            "each document once per shingle position, O(tokens^2). Fix: "
            'spark.conf.set("spark.sql.optimizer.excludedRules", '
            f'"{GENERATE_FILTER_RULE}") — or build the session with '
            "bigdatastructure_a5_spark.session.get_spark, which sets it.",
            RuntimeWarning,
            stacklevel=3,
        )


def _persist_level():
    """The ``pyspark.StorageLevel`` named by ``SPARK_GRAFT_PERSIST_LEVEL``,
    or None when unset."""
    name = os.environ.get("SPARK_GRAFT_PERSIST_LEVEL")
    if not name:
        return None
    from pyspark import StorageLevel

    try:
        return getattr(StorageLevel, name)
    except AttributeError:
        raise ValueError(
            f"SPARK_GRAFT_PERSIST_LEVEL={name!r} is not a "
            "pyspark.StorageLevel attribute (try DISK_ONLY, "
            "MEMORY_AND_DISK, MEMORY_AND_DISK_DESER)"
        ) from None


def persist_df(df):
    """Persist at the session-selected storage level.

    ``SPARK_GRAFT_PERSIST_LEVEL`` (a ``pyspark.StorageLevel`` attribute
    name, e.g. ``DISK_ONLY`` or ``MEMORY_AND_DISK``) overrides the
    engine-wide level for every tracked intermediate and for the result
    checkpoints ``materialize_release`` takes; unset keeps Spark's default
    for both (MEMORY_AND_DISK_DESER).

    Why a knob (EXPERIMENTS §11): the deserialized default builds each
    cached partition ON HEAP (``MemoryStore.putIteratorAsValues``), so in
    a memory-starved executor a cache fill can OOM while a concurrent
    hash-aggregate is merging its spills — measured at x100 curation in a
    2 g JVM.  ``DISK_ONLY`` streams partitions through the serializer to
    local disk, which is the documented 100 TB setting for the multi-pass
    operators' big intermediates (their cache exists to avoid recompute
    across self-join sides, not for memory-speed reads)."""
    level = _persist_level()
    return df.persist() if level is None else df.persist(level)


_PYFILES_SENT: set[str] = set()
#: Serializes the provision step: under concurrent query submission (the
#: gate's worker pool) two threads could both miss _PYFILES_SENT and each
#: addPyFile a same-named zip from a different tempdir — the second add is
#: a SparkException (same filename, different path).
_PYFILES_LOCK = threading.Lock()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make this package importable by Python WORKER processes regardless of
    the driver's working directory.

    The driver fixes its own ``sys.path`` (bench.py / __spark_entry__.py
    insert the repo dir), but pickled pandas-UDF closures reference module
    globals that the *worker* interpreter must re-import — and workers only
    inherit the JVM's environment and cwd.  Launched from outside the repo,
    every mapInPandas query dies with ModuleNotFoundError.  ``addPyFile``
    with a zip of the package distributes it to workers (and appends it to
    their sys.path) no matter where the session was created; once per
    SparkContext.
    """
    import tempfile
    import zipfile
    from pathlib import Path

    sc = spark.sparkContext
    # applicationId, not id(sc): CPython reuses object addresses after GC,
    # so a restarted context could be wrongly treated as already-provisioned
    key = sc.applicationId
    if key in _PYFILES_SENT:
        return
    with _PYFILES_LOCK:
        if key in _PYFILES_SENT:  # lost the race: another thread shipped it
            return
        pkg_dir = Path(__file__).resolve().parent
        zip_path = Path(tempfile.mkdtemp(prefix="bds_pyfiles_")) / (
            pkg_dir.name + ".zip"
        )
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
        sc.addPyFile(str(zip_path))
        _PYFILES_SENT.add(key)


def materialize_release(result, tracked):
    """Checkpoint ``result``, then unpersist the ``tracked`` intermediates.

    Multi-pass operators (minhash LSH, capped inverted-index jaccard,
    simhash) persist large intermediates so self-joins don't recompute the
    expensive subtree per side.  Left persisted, those blocks ACCUMULATE across a
    long session — the driver runs 50+ queries on one SparkContext, and
    r2's bench showed a 5.8x spike on dedup_ngram_jaccard consistent with
    cached shingle sets evicting each other under memory pressure.  The
    contract here: the operator's final result is computed eagerly into a
    local checkpoint (one job, which does exactly the work the caller's
    collect would have done), the big intermediates are dropped
    immediately, and the caller's later action reads the checkpoint.

    The checkpoint truncates the lineage and never enters Spark's
    CacheManager, so no later call can match it by plan and read a stale
    answer, and its blocks are freed when the returned frame is garbage
    collected (``operators/components.py`` relies on the same for its
    rounds).  Its blocks are executor-local: losing an executor after
    return fails the caller's action instead of recomputing.

    ``tracked`` is the list the operator appended its persisted frames to;
    a no-op when empty.
    """
    if not tracked:
        return result
    result = result.localCheckpoint(eager=True, storageLevel=_persist_level())
    for df in tracked:
        df.unpersist(blocking=False)
    tracked.clear()
    return result


def adopt_tracker(tracker: list | None):
    """The cache contract's entry point, shared by every multi-pass
    operator (minhash LSH, capped inverted-index jaccard, simhash, LSH
    near-dup, benchmark decontamination): returns ``(tracker, finish)`` where the operator appends its
    persisted intermediates to ``tracker`` and returns ``finish(result)``.

    With a caller-supplied tracker, ``finish`` is the identity — the
    CALLER releases the caches via materialize_release once its own result
    is built.  Without one, ``finish`` checkpoints the operator's own
    result and releases its caches before returning, so no persisted frame
    outlives the call either way.  (An operator path that persisted
    nothing leaves the tracker empty, and ``finish`` returns its result
    as is, without a materialize_release call.)"""
    if tracker is not None:
        return tracker, lambda result: result
    own: list = []
    return own, lambda result: materialize_release(result, own) if own else result


#: Widening grain: one task per this many estimated input bytes.  Small on
#: purpose — the stages that widen (tokenize/shingle/minhash/LSH) amplify
#: their input 10-50x in CPU and intermediate size, so a 64 KiB slice of raw
#: text is real work.  The estimate only decides how far to WIDEN a narrow
#: input; wide inputs (the 100 TB case) are untouched, and the count is
#: always clamped to the session parallelism.
_WIDEN_BYTES_PER_TASK = 64 * 1024
_WIDEN_FLOOR = 4


def ensure_min_partitions(df, n: int | None = None):
    """Repartition ``df`` up to a size-proportional task count if narrower.

    A small parquet table arrives as one split, so every narrow stage —
    including the columnar encoding done by ``persist()`` — runs in a single
    task.  Multi-pass pipelines (minhash, inverted-index joins) repartition
    first so compute and cache-build parallelize.  The target scales with
    the optimizer's size estimate (one task per ``_WIDEN_BYTES_PER_TASK``,
    clamped to [``_WIDEN_FLOOR``, session parallelism]): blanket-widening a
    500 KiB table to 32 tasks costs more in per-task scheduling than the
    parallelism buys, and when the estimate is unavailable (or the unknown
    sentinel ~2^63) the clamp falls back to full parallelism.  A no-op when
    the input is already wide (the 100 TB case: thousands of splits).
    Explicit ``n`` overrides the heuristic.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    target = n
    if target is None:
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # estimate unavailable -> old full-width behavior
            size = None
        if size is None:
            target = par
        else:
            # floor first, parallelism clamp last: the target must never
            # exceed the session's cores (a 2-core session widening to the
            # 4-task floor would recreate the oversubscription this
            # heuristic exists to avoid)
            target = min(
                par, max(_WIDEN_FLOOR, -(-size // _WIDEN_BYTES_PER_TASK))
            )
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
