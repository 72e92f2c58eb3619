"""Multi-process (local-cluster) smoke of the scale-critical paths.

VERDICT r12 item 6: the 1000-executor deploy table
(`session.cluster_overrides`, drift-tested against COVERAGE.md) had only
ever executed on local[32] — a single JVM where "no exchange" and
"survives executor isolation" are weaker claims than on real separate
executor processes.  This tool runs FOUR representative paths on
``local-cluster[2,2,1024]`` — two real Worker JVMs, two cores and 1 GiB
each, Python workers spawned per executor (the smallest topology where
serialization, task dispatch, python-worker module shipping, and
cross-process shuffle are all real):

1. BUCKETED CO-PARTITIONED JOIN: lineitem x orders bucketed by orderkey
   (8 buckets, ``bucketBy`` catalog tables) — row counts must equal the
   plain join AND the physical plan must contain ZERO shuffle exchanges
   (the O10/O17 scale claim, now held across process boundaries).
2. CONNECTED COMPONENTS with a RELIABLE ``checkpoint_dir`` (the
   executor-loss-survival path — reliable checkpoints are the variant
   that must round-trip through the cluster's shared filesystem): a
   chained-clique graph with known components must label exactly.
3. STREAMING PACKING: a real AvailableNow ``streaming_assembly_writer``
   run over a file source with the parquet ``shards`` state store and
   ``exactly_once`` per-batch output — emitted complete chunks must
   match the batch assembler restricted to complete chunks.
4. DEDUP MAINTENANCE SWAPS (r14): ``retract_documents`` +
   ``compact_dedup_state`` staging swaps between two real ingest
   batches — exact post-retract store contents, compaction a content
   no-op, batch 2 green over the swapped stores.

Prints one JSON line {"master": ..., "checks": {...}, "ok": bool}; exit
code 0 iff every check passed.  Results are recorded in COVERAGE.md's
deploy-table note.

Usage: python tools/cluster_smoke.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def get_cluster_spark() -> SparkSession:
    return (
        SparkSession.builder.master("local-cluster[2,2,1024]")
        .appName("cluster-smoke")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executor.memory", "1024m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        .config(
            "spark.sql.warehouse.dir",
            tempfile.mkdtemp(prefix="smoke_wh_"),
        )
        .getOrCreate()
    )


def check_bucketed_join(spark: SparkSession, sf_dir: str) -> dict:
    """Bucketed-by-key tables must join with ZERO exchanges across two
    real executor processes, and return the plain join's row count."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderdate"
    )
    for df, name, key in ((li, "smoke_li", "l_orderkey"), (orders, "smoke_ord", "o_orderkey")):
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    bl = spark.table("smoke_li")
    bo = spark.table("smoke_ord")
    joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
    # at smoke scale both sides fit the broadcast threshold; force the
    # shuffle-join path so the plan shows what bucketing buys on a
    # fact-x-fact join (same technique as
    # test_workbench.test_bucketed_join_has_no_exchange)
    for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ):
        spark.conf.set(k, "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n = joined.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    want = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    return {
        "rows": n,
        "rows_match_plain_join": n == want,
        "sort_merge_join": "SortMergeJoin" in plan,
        "zero_exchanges": "Exchange" not in plan,
    }


def check_cc_reliable_checkpoint(spark: SparkSession) -> dict:
    """connected_components with a RELIABLE checkpoint dir (not
    localCheckpoint): per-round state must round-trip through the shared
    filesystem while tasks run in separate executor JVMs."""
    from bigdatastructure_a5_spark.operators.components import (
        connected_components,
    )
    from bigdatastructure_a5_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    # 4 cliques of 5 chained by bridges: one component of 20 per chain,
    # 3 chains -> components {0..19}->0, {100..119}->100, {200..219}->200
    edges = []
    for base in (0, 100, 200):
        for g in range(4):
            ids = [base + g * 5 + i for i in range(5)]
            edges += [(a, b) for a in ids for b in ids if a < b]
            if g:
                edges.append((base + g * 5 - 1, base + g * 5))
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    ckpt = tempfile.mkdtemp(prefix="smoke_ckpt_")
    try:
        comp = connected_components(pairs, checkpoint_dir=ckpt)
        got = {(r.id, r.comp) for r in comp.collect()}
        want = {
            (base + i, base) for base in (0, 100, 200) for i in range(20)
        }
        return {"labels_exact": got == want, "n_vertices": len(got)}
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def check_streaming_packing(spark: SparkSession, sf_dir: str) -> dict:
    """A real AvailableNow streaming assembly run with parquet state on
    the cluster: emitted complete chunks == batch assembly restricted to
    complete chunks."""
    from bigdatastructure_a5_spark.functions.hashing import token_count, tokens
    from bigdatastructure_a5_spark.operators.packing import (
        assemble_chunks,
        concat_and_chunk,
    )
    from bigdatastructure_a5_spark.session import ensure_workers_can_import
    from bigdatastructure_a5_spark.streaming.packing import (
        streaming_assembly_writer,
    )

    ensure_workers_can_import(spark)
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(token_count("text") > 0)
        .select("doc_id", (F.col("doc_id") % 4).alias("shard"), "text")
    )
    root = tempfile.mkdtemp(prefix="smoke_pack_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    mid = docs.approxQuantile("doc_id", [0.5], 0.01)[0]
    t0 = time.time() - 60
    for i, part in enumerate(
        (docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid))
    ):
        p = os.path.join(src, f"s{i}.parquet")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        for dp, _, fns in os.walk(p):
            for fn in fns:
                os.utime(os.path.join(dp, fn), (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("doc_id bigint, shard bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
        .select("doc_id", "shard", tokens("text").alias("toks"))
    )
    out = os.path.join(root, "out")
    try:
        q = (
            streaming_assembly_writer(
                stream,
                os.path.join(root, "state"),
                out,
                os.path.join(root, "ckpt"),
                256,
                exactly_once=True,
            )
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            return {"stream_finished": False}
        streamed = (
            spark.read.parquet(out)
            .select("shard", "chunk_id", F.array_join("toks", " ").alias("text"))
        )
        got = {tuple(r) for r in streamed.collect()}
        base = docs.select(
            "doc_id",
            "shard",
            tokens("text").alias("toks"),
            token_count("text").alias("n_tokens"),
        )
        geo = concat_and_chunk(
            base.select("doc_id", "shard", "n_tokens"),
            256,
            n_tokens_col="n_tokens",
            shard_col="shard",
        )
        asm = assemble_chunks(geo, base.select("doc_id", "toks"), shard_col="shard")
        want = {
            tuple(r)
            for r in asm.filter(F.col("n_tokens") == 256)
            .select("shard", "chunk_id", F.array_join("toks", " ").alias("text"))
            .collect()
        }
        return {
            "stream_finished": True,
            "chunks": len(got),
            "matches_batch_complete_chunks": got == want and len(got) > 0,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def check_dedup_maintenance(spark: SparkSession, sf_dir: str) -> dict:
    """Retraction + compaction staging swaps (streaming/state.py's
    fs_delete + fs_rename protocol) executed across two real executor
    JVMs (VERDICT r13 item 4: the one state-rewrite path still proven
    single-JVM only — the swap's filesystem calls are exactly the code
    most likely to behave differently on a real shared filesystem).

    Sequence: ingest batch 1 (even ids) -> retract a deterministic id
    set -> assert both stores exclude exactly those ids -> compact ->
    assert store CONTENT is unchanged by compaction (set equality) ->
    ingest batch 2 (odd ids) -> assert the second ingest ran green over
    the swapped stores and cross-batch dedup is non-vacuous."""
    from bigdatastructure_a5_spark.functions.hashing import token_count
    from bigdatastructure_a5_spark.session import ensure_workers_can_import
    from bigdatastructure_a5_spark.streaming.dedup import (
        compact_dedup_state,
        process_batch,
        retract_documents,
    )

    ensure_workers_can_import(spark)
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(token_count("text") > 0)
        .select("doc_id", "text")
    )
    root = tempfile.mkdtemp(prefix="smoke_retract_")
    state = os.path.join(root, "state")
    out = os.path.join(root, "out")
    kw = dict(threshold=0.8, num_hashes=32, bands=8)
    try:
        b1 = docs.filter(F.col("doc_id") % 2 == 0)
        process_batch(spark, b1, state, out, **kw)
        bands_p = os.path.join(state, "bands")
        sh_p = os.path.join(state, "shingles")
        pre_bands = {
            tuple(r) for r in spark.read.parquet(bands_p).collect()
        }
        pre_sh_ids = {
            r.id for r in spark.read.parquet(sh_p).select("id").collect()
        }
        retract = sorted(pre_sh_ids)[::4][:8]  # deterministic subset
        retract_documents(spark, state, retract)
        post_bands = {
            tuple(r) for r in spark.read.parquet(bands_p).collect()
        }
        post_sh_ids = {
            r.id for r in spark.read.parquet(sh_p).select("id").collect()
        }
        retract_exact = (
            post_bands == {t for t in pre_bands if t[0] not in set(retract)}
            and post_sh_ids == pre_sh_ids - set(retract)
        )
        compact_dedup_state(spark, state)
        compact_preserves = (
            {tuple(r) for r in spark.read.parquet(bands_p).collect()}
            == post_bands
        )
        n1 = spark.read.parquet(out).count()
        process_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), state, out, **kw)
        n2 = spark.read.parquet(out).count()
        odd_total = docs.filter(F.col("doc_id") % 2 == 1).count()
        return {
            "retracted": len(retract),
            "retract_swap_exact": retract_exact,
            "compact_swap_preserves_content": compact_preserves,
            "batch2_ran_over_swapped_stores": n2 > n1,
            "cross_batch_dedup_nonvacuous": (n2 - n1) < odd_total,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_cluster_spark()
    spark.sparkContext.setLogLevel("ERROR")
    # two executor processes must actually register before claims hold
    t0 = time.time()
    while time.time() - t0 < 60:
        execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
        if execs >= 3:  # driver + 2 executors
            break
        time.sleep(1)
    checks = {}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        checks["bucketed_join"] = check_bucketed_join(spark, sf_dir)
        checks["cc_reliable_checkpoint"] = check_cc_reliable_checkpoint(spark)
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        checks["streaming_packing"] = check_streaming_packing(spark, sf_dir)
        checks["dedup_maintenance_swap"] = check_dedup_maintenance(
            spark, sf_dir
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    def flat_ok(d):
        return all(
            v if isinstance(v, bool) else True
            for v in d.values()
        )

    ok = all(flat_ok(c) for c in checks.values())
    print(
        json.dumps(
            {
                "master": "local-cluster[2,2,1024]",
                "executors": int(
                    spark.sparkContext._jsc.sc()
                    .getExecutorMemoryStatus()
                    .size()
                )
                - 1,
                "checks": checks,
                "ok": ok,
            }
        )
    )
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
