"""Incremental dedup (streaming/dedup.py): the streamed keep-set must
EQUAL the offline batch rule for any batch split, the real Structured
Streaming wiring must reproduce it, and the exact tier must drop
replayed content within the watermark."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.operators.dedup import (
    near_duplicates_minhash,
)
from bigdatastructure_a5_spark.streaming.dedup import (
    process_batch,
    streaming_exact_dedup,
    streaming_neardup_writer,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )


def _batch_keep_set(spark) -> set[int]:
    """The offline rule: drop id_b of every near-dup pair."""
    docs = _docs(spark)
    pairs = near_duplicates_minhash(docs, "doc_id", "text", threshold=0.8)
    dropped = {r.id_b for r in pairs.collect()}
    return {r.doc_id for r in docs.collect()} - dropped


def _splits(docs, n=3):
    """Contiguous id-range batches (arrival order == id order, the
    equivalence precondition)."""
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    bounds = [ids[i * len(ids) // n] for i in range(1, n)] + [ids[-1] + 1]
    lo = ids[0]
    out = []
    for hi in bounds:
        out.append(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        )
        lo = hi
    return out


@pytest.mark.parametrize("state_buckets", [None, 8])
def test_sequential_batches_match_offline_rule(
    spark, tmp_path, state_buckets
):
    docs = _docs(spark)
    want = _batch_keep_set(spark)
    out = str(tmp_path / f"out_{state_buckets}")
    state = str(tmp_path / f"state_{state_buckets}")
    for b in _splits(docs, 3):
        process_batch(
            spark, b, state, out, state_buckets=state_buckets
        )
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == want
    assert len(want) < 500  # the planted duplicates actually dropped


def test_single_batch_equals_offline_rule(spark, tmp_path):
    """Degenerate split: everything in one batch — process_batch IS the
    batch operator then."""
    docs = _docs(spark)
    out, state = str(tmp_path / "out1"), str(tmp_path / "state1")
    process_batch(spark, docs, state, out)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == _batch_keep_set(spark)


def test_real_streaming_run_matches_offline_rule(spark, tmp_path):
    """The foreachBatch wiring over a real file-source stream
    (maxFilesPerTrigger=1, AvailableNow): same keep-set as offline.
    File arrival is forced into id order via ascending mtimes — the file
    source admits oldest-mtime-first while parallel writers finish out
    of order (the EXPERIMENTS §13b lesson)."""
    docs = _docs(spark)
    src = tmp_path / "src"
    src.mkdir()
    base_t = time.time() - 100
    for i, b in enumerate(_splits(docs, 3)):
        p = str(src / f"split_{i}.parquet")
        b.coalesce(1).write.mode("overwrite").parquet(p)
        for f in sorted(
            os.path.join(dp, fn)
            for dp, _, fns in os.walk(p)
            for fn in fns
        ):
            os.utime(f, (base_t + i, base_t + i))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = str(tmp_path / "out_s")
    q = (
        streaming_neardup_writer(
            stream,
            str(tmp_path / "state_s"),
            out,
            str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == _batch_keep_set(spark)


def test_streaming_exact_dedup_drops_replayed_text(spark, tmp_path):
    """First arrival wins within the watermark horizon; distinct texts
    all survive.  "First" is only defined if arrival order is pinned:
    within a single microbatch the winner among same-key rows follows
    file-enumeration order, which Spark does not guarantee — so each row
    ships as its own file with ascending mtimes + maxFilesPerTrigger=1
    (the same §13b lesson as test_real_streaming_run_matches_offline_rule;
    this exact test flaked as [3, 4] when all four rows shared one
    batch)."""
    rows = [
        (1, "2024-01-01 00:00:00", "same text here"),
        (2, "2024-01-01 00:05:00", "same text here"),
        (3, "2024-01-01 00:10:00", "different text entirely"),
        (4, "2024-01-01 00:11:00", "same text here"),
    ]
    src = tmp_path / "exact_src"
    src.mkdir()
    base_t = time.time() - 100
    for i, (doc_id, ts_s, text) in enumerate(rows):
        p = str(src / f"row_{i}.parquet")
        spark.createDataFrame(
            [(doc_id, ts_s, text)], "doc_id bigint, ts_s string, text string"
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop(
            "ts_s"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        for f in sorted(
            os.path.join(dp, fn)
            for dp, _, fns in os.walk(p)
            for fn in fns
        ):
            os.utime(f, (base_t + i, base_t + i))
    stream = (
        spark.readStream.schema("doc_id bigint, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    deduped = streaming_exact_dedup(stream, "ts", "text", "1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("exact_dedup_t")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "exact_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.doc_id for r in spark.sql("SELECT * FROM exact_dedup_t").collect()
    )
    assert got == [1, 3]


def test_dedup_across_compaction_output_identical(spark, tmp_path):
    """compact_dedup_state between batches: the remaining stream produces
    EXACTLY the uncompacted run's keep-set (the compacted index answers
    every cross-batch candidate/verify query the appended one did), and
    the stores end smaller-or-equal in file count."""
    from bigdatastructure_a5_spark.streaming.dedup import (
        compact_dedup_state,
    )

    docs = _docs(spark)
    batches = _splits(docs, 4)

    out_a, st_a = str(tmp_path / "out_a"), str(tmp_path / "st_a")
    for b in batches:
        process_batch(spark, b, st_a, out_a)

    out_b, st_b = str(tmp_path / "out_b"), str(tmp_path / "st_b")
    for i, b in enumerate(batches):
        if i == 2:
            compact_dedup_state(spark, st_b)
        process_batch(spark, b, st_b, out_b)
    compact_dedup_state(spark, st_b)  # idempotent at the tail too

    keep_a = {r.doc_id for r in spark.read.parquet(out_a).collect()}
    keep_b = {r.doc_id for r in spark.read.parquet(out_b).collect()}
    assert keep_b == keep_a == _batch_keep_set(spark)

    # compaction bounds the store at the parallelism floor (one keyed
    # file set), independent of how many batches appended — at test
    # scale four appends may themselves AQE-coalesce to fewer files, so
    # the meaningful invariant is the floor bound, not A-vs-B counts
    # (the consolidation payoff at depth is measured in EXPERIMENTS §21:
    # 2560 -> 64 files, 1.67x faster tail batches)
    def n_files(p):
        return sum(
            1
            for dp, _, fns in os.walk(p)
            for f in fns
            if f.endswith(".parquet")
        )

    floor = spark.sparkContext.defaultParallelism
    assert 0 < n_files(os.path.join(st_b, "bands")) <= floor
    assert 0 < n_files(os.path.join(st_b, "shingles")) <= floor


def test_dedup_compaction_preserves_bucket_partitioning(spark, tmp_path):
    """A bucketed bands store stays bucket-partitioned across compaction
    (the partition column is the store's read-pruning key)."""
    from bigdatastructure_a5_spark.streaming.dedup import (
        compact_dedup_state,
    )

    docs = _docs(spark)
    batches = _splits(docs, 2)
    out, st = str(tmp_path / "out_bk"), str(tmp_path / "st_bk")
    process_batch(spark, batches[0], st, out, state_buckets=8)
    compact_dedup_state(spark, st)
    # physical layout: bucket=N partition dirs survived the rewrite
    bands = os.path.join(st, "bands")
    assert any(d.startswith("bucket=") for d in os.listdir(bands))
    # and the stream continues correctly over the compacted store
    process_batch(spark, batches[1], st, out, state_buckets=8)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == _batch_keep_set(spark)


def test_dedup_interrupted_compaction_raises_then_repairs(spark, tmp_path):
    """Crash window between compact_dedup_state's delete and rename:
    process_batch must RAISE (a silent first-batch restart would disable
    cross-batch dedup over real history), and re-running the compaction
    completes the swap."""
    from bigdatastructure_a5_spark.streaming.dedup import (
        compact_dedup_state,
    )

    docs = _docs(spark)
    batches = _splits(docs, 2)
    out, st = str(tmp_path / "out_ic"), str(tmp_path / "st_ic")
    process_batch(spark, batches[0], st, out)
    bands = os.path.join(st, "bands")
    os.rename(bands, bands + ".compacting")
    with pytest.raises(RuntimeError, match="compact"):
        process_batch(spark, batches[1], st, out)
    compact_dedup_state(spark, st)  # repair: completes the rename
    process_batch(spark, batches[1], st, out)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == _batch_keep_set(spark)


def test_dedup_compaction_vs_writer_mutual_exclusion(spark, tmp_path):
    """The lock pair (streaming/state.py): a compaction during an active
    writer raises; a write during a compaction raises; force=True
    overrides a mark left by a provably crashed batch."""
    from bigdatastructure_a5_spark.streaming.dedup import (
        compact_dedup_state,
    )
    from bigdatastructure_a5_spark.streaming.state import (
        COMPACTION_LOCK,
        WRITER_MARK,
        fs_delete,
        fs_mkdirs,
        join_path,
    )

    docs = _docs(spark)
    batches = _splits(docs, 2)
    out, st = str(tmp_path / "out_mx"), str(tmp_path / "st_mx")
    process_batch(spark, batches[0], st, out)

    # writer active (e.g. crashed mid-batch) -> compaction refuses
    fs_mkdirs(spark, join_path(st, WRITER_MARK))
    with pytest.raises(RuntimeError, match="active writer"):
        compact_dedup_state(spark, st)
    # ...unless the operator confirms the stream is stopped
    compact_dedup_state(spark, st, force=True)
    fs_delete(spark, join_path(st, WRITER_MARK))

    # compaction in flight -> writer refuses
    fs_mkdirs(spark, join_path(st, COMPACTION_LOCK))
    with pytest.raises(RuntimeError, match="compacted"):
        process_batch(spark, batches[1], st, out)
    fs_delete(spark, join_path(st, COMPACTION_LOCK))
    process_batch(spark, batches[1], st, out)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == _batch_keep_set(spark)


def test_retract_documents_forgets_only_the_given_ids(spark, tmp_path):
    """Right-to-erasure on the dedup index: after retracting a doc, a
    NEW near-copy of it is no longer suppressed, while every other
    cross-batch decision is unchanged — and past outputs are untouched
    (retraction changes future decisions only)."""
    from bigdatastructure_a5_spark.streaming.dedup import (
        retract_documents,
    )

    docs = _docs(spark)
    batches = _splits(docs, 2)
    out, st = str(tmp_path / "out_rt"), str(tmp_path / "st_rt")
    process_batch(spark, batches[0], st, out)

    # pick a batch-0 doc with NO near-dups of its own (the fixture
    # plants duplicate clusters; a clustered doc's siblings would keep
    # suppressing the probe after the retraction) and prove a replay of
    # it IS dropped
    pairs = near_duplicates_minhash(docs, "doc_id", "text", threshold=0.8)
    paired = {r.id_a for r in pairs.collect()} | {
        r.id_b for r in pairs.collect()
    }
    some_id = (
        batches[0]
        .filter(~F.col("doc_id").isin(list(paired)))
        .orderBy("doc_id")
        .first()
        .doc_id
    )
    replay_text = (
        docs.filter(F.col("doc_id") == some_id).first().text
    )
    probe1 = spark.createDataFrame(
        [(10_000_001, replay_text)], "doc_id bigint, text string"
    )
    process_batch(spark, probe1, st, out)
    kept_now = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 10_000_001 not in kept_now  # suppressed by the index

    # forget the source doc AND its replay (dropped docs are indexed
    # too — the invariant the equivalence guarantee rests on — so an
    # erasure request must cover the doc's known copies); a fresh copy
    # must then be KEPT
    retract_documents(spark, st, [int(some_id), 10_000_001])
    probe2 = spark.createDataFrame(
        [(10_000_002, replay_text)], "doc_id bigint, text string"
    )
    process_batch(spark, probe2, st, out)
    kept_after = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 10_000_002 in kept_after
    # past outputs untouched: the original doc's kept row remains
    assert some_id in kept_after
    # and the rest of the stream behaves as if nothing else changed:
    # batch 1 produces the same keep decisions as an untouched index
    # (the retracted doc has no near-dups in batch 1 besides planted
    # duplicates of itself, if any — compare against a control run)
    out_c, st_c = str(tmp_path / "out_c"), str(tmp_path / "st_c")
    process_batch(spark, batches[0], st_c, out_c)
    process_batch(spark, batches[1], st_c, out_c)
    control = {r.doc_id for r in spark.read.parquet(out_c).collect()}
    process_batch(spark, batches[1], st, out)
    treated = {r.doc_id for r in spark.read.parquet(out).collect()}
    # some_id had no near-dups, so forgetting it cannot change any
    # batch-1 decision: the treated run keeps exactly the control set
    # plus the post-retraction probe (10000001 stays dropped, some_id
    # was kept in both runs)
    assert treated == control | {10_000_002}


def test_dedup_retraction_gate_row_is_non_vacuous(spark):
    """The r13 gate row must observably exercise BOTH cross-batch
    outcomes (a rule that retracts every cross-parity even would leave
    the index-drop clause dead; one that retracts nothing would gate
    only the happy path): vs a no-retraction control the flow must SAVE
    some odd docs (their only even near-copies were retracted) AND still
    DROP some odd docs through the surviving index entries."""
    from bigdatastructure_a5_spark.queries.pipeline import (
        dedup_minhash_lsh,
        dedup_retraction,
    )
    from bigdatastructure_a5_spark.streaming.dedup import (
        process_batch as pb,
    )

    kept = {
        r.doc_id for r in dedup_retraction(spark, SF).collect()
    }

    # control: same batches, no retraction/compaction
    import tempfile

    root = tempfile.mkdtemp(prefix="retr_ctl_")
    st, out = os.path.join(root, "st"), os.path.join(root, "out")
    docs = _docs(spark)
    kw = dict(threshold=0.8, num_hashes=64, bands=16)
    pb(spark, docs.filter(F.col("doc_id") % 2 == 0), st, out, **kw)
    pb(spark, docs.filter(F.col("doc_id") % 2 == 1), st, out, **kw)
    control = {r.doc_id for r in spark.read.parquet(out).collect()}

    saved = kept - control
    assert control <= kept  # retraction only ever ADDS keeps
    assert saved, "retraction had no observable effect on this fixture"
    # every saved doc is odd (batch-1 decisions are untouched) and has a
    # RETRACTED even near-copy (the only mechanism that can save it)
    assert all(d % 2 == 1 for d in saved)
    pairs = dedup_minhash_lsh(spark, SF)
    sym = {(r.id_a, r.id_b) for r in pairs.collect()}
    sym |= {(b, a) for a, b in sym}
    retracted = {a for a, b in sym if a % 4 == 0 and b % 2 == 1}
    for d in saved:
        assert any((x, d) in sym for x in retracted)
    # ... and the SURVIVING cross-parity evens (mod-4 == 2) must still
    # suppress their odd near-copies through the index — the cross-batch
    # drop clause is live, not dead
    surviving = {
        a for a, b in sym
        if a % 2 == 0 and b % 2 == 1 and a not in retracted
    }
    assert surviving, "fixture has no surviving cross-parity evens"
    forced_drops = {b for a, b in sym if a in surviving and b % 2 == 1}
    assert forced_drops and not (forced_drops & kept)


def test_retract_leaves_duplicate_rows_for_compaction(spark, tmp_path):
    """r14 contract split: retraction REMOVES rows only (a broadcast
    anti-join cannot create duplicates, so it carries no DISTINCT and no
    shuffle — the EXPERIMENTS §22 spill knee was the old shared shape's
    corpus-sized aggregate); collapsing retry re-appended duplicates is
    compact_dedup_state's job.  Pin both halves: duplicate rows SURVIVE
    a retraction bit-for-bit, then the compaction collapses them."""
    from bigdatastructure_a5_spark.streaming.dedup import (
        compact_dedup_state,
        process_batch,
        retract_documents,
    )
    from bigdatastructure_a5_spark.streaming.state import join_path

    docs = _docs(spark)
    batches = _splits(docs, 2)
    out, st = str(tmp_path / "out_dup"), str(tmp_path / "st_dup")
    process_batch(spark, batches[0], st, out)
    bands_p = join_path(st, "bands")
    bands = spark.read.parquet(bands_p)
    base_count = bands.count()
    # simulate a retried batch's re-append: duplicate the whole store
    bands.write.mode("append").parquet(bands_p)
    n_dup = spark.read.parquet(bands_p).count()
    assert n_dup == 2 * base_count

    victim = int(
        spark.read.parquet(bands_p).select("id").orderBy("id").first().id
    )
    # count the victim's rows EAGERLY: the staging swap replaces the
    # store's files, so any lazy frame over the old listing dies after
    victim_base_rows = int(
        spark.read.parquet(bands_p).filter(F.col("id") == victim).count()
    )
    retract_documents(spark, st, [victim])
    after = spark.read.parquet(bands_p)
    # the victim's rows (both copies) are gone...
    assert after.filter(F.col("id") == victim).count() == 0
    # ...and every OTHER duplicate row survived untouched
    survivors = after.count()
    assert survivors == n_dup - victim_base_rows
    per_key_max = (
        after.groupBy(after.columns).count().agg(F.max("count")).first()[0]
    )
    assert per_key_max == 2  # duplicates intact after retraction

    compact_dedup_state(spark, st)
    compacted = spark.read.parquet(bands_p)
    assert compacted.count() == (survivors // 2)
    assert (
        compacted.groupBy(compacted.columns).count().agg(F.max("count"))
        .first()[0]
        == 1
    )


def test_rewrite_partitions_scales_with_store_bytes(spark, tmp_path):
    """The compaction rewrite's partition count (streaming/dedup.py
    `_rewrite_partitions`): floored at defaultParallelism for small
    stores (the §21 one-file trap), scaling with on-disk bytes past
    floor * 16 MiB (the §22 spill knee)."""
    from bigdatastructure_a5_spark.streaming.dedup import (
        _REWRITE_PARTITION_BYTES,
        _rewrite_partitions,
    )
    from bigdatastructure_a5_spark.streaming.state import fs_size_bytes

    small = str(tmp_path / "small")
    spark.range(10).write.parquet(small)
    floor = spark.sparkContext.defaultParallelism
    assert _rewrite_partitions(spark, small) == floor

    sz = fs_size_bytes(spark, small)
    assert 0 < sz < _REWRITE_PARTITION_BYTES
    # missing path -> size 0 -> floor (not an error: maintenance ops
    # probe stores that may not exist yet)
    assert fs_size_bytes(spark, str(tmp_path / "missing")) == 0
    assert _rewrite_partitions(spark, str(tmp_path / "missing")) == floor

    # the scaling arm, without writing floor*16MiB of parquet: shrink
    # the per-partition byte target (a tunable) and let the REAL size
    # probe drive the formula past the floor
    import bigdatastructure_a5_spark.streaming.dedup as sd

    orig = sd._REWRITE_PARTITION_BYTES
    try:
        sd._REWRITE_PARTITION_BYTES = max(1, sz // (floor + 5))
        assert _rewrite_partitions(spark, small) > floor
    finally:
        sd._REWRITE_PARTITION_BYTES = orig


def test_fused_maintenance_equals_sequential(spark, tmp_path):
    """maintain_dedup_state(retract_ids=..., compact=True) — the r14
    single-rewrite maintenance window — must leave BOTH stores with
    exactly the content the sequential retract_documents +
    compact_dedup_state pair produces (the anti-join and the DISTINCT
    are per-row predicates/foldings, so fusing them commutes)."""
    from bigdatastructure_a5_spark.streaming.dedup import (
        compact_dedup_state,
        maintain_dedup_state,
        process_batch,
        retract_documents,
    )
    from bigdatastructure_a5_spark.streaming.state import join_path

    docs = _docs(spark)
    batches = _splits(docs, 2)
    seq_st = str(tmp_path / "st_seq")
    fus_st = str(tmp_path / "st_fus")
    for st in (seq_st, fus_st):
        process_batch(spark, batches[0], st, str(tmp_path / "out_any"))
        # plant retry duplicates so the compaction half is non-vacuous
        bands_p = join_path(st, "bands")
        spark.read.parquet(bands_p).write.mode("append").parquet(bands_p)

    victims = [
        int(r.id)
        for r in spark.read.parquet(join_path(seq_st, "bands"))
        .select("id")
        .distinct()
        .orderBy("id")
        .limit(3)
        .collect()
    ]
    retract_documents(spark, seq_st, victims)
    compact_dedup_state(spark, seq_st)
    maintain_dedup_state(spark, fus_st, retract_ids=victims, compact=True)

    for sub in ("bands", "shingles"):
        a = spark.read.parquet(join_path(seq_st, sub))
        b = spark.read.parquet(join_path(fus_st, sub))
        assert sorted(a.columns) == sorted(b.columns)
        cols = a.columns
        assert a.count() == b.count()
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0
        # victims really gone (non-vacuous retraction half)
        assert b.filter(F.col("id").isin(victims)).count() == 0
        # duplicates really collapsed (non-vacuous compaction half)
        assert (
            b.groupBy(cols).count().agg(F.max("count")).first()[0] == 1
        )


def test_state_store_reads_run_no_spark_job(spark, tmp_path):
    """After two batches, the bucket-partitioned bands store and the
    shingles store are read with the schema from their footers: building
    each frame runs no job, and the schema (``bucket`` partition column
    included) equals Spark's inferred one."""
    from bigdatastructure_a5_spark.streaming.dedup import _store_paths
    from bigdatastructure_a5_spark.streaming.state import read_state_or_none

    docs = _docs(spark)
    out, st = str(tmp_path / "out_nj"), str(tmp_path / "st_nj")
    for b in _splits(docs, 2):
        process_batch(spark, b, st, out, state_buckets=8)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for path in _store_paths(st):
        before = dag.numTotalJobs()
        store = read_state_or_none(spark, path)
        assert dag.numTotalJobs() == before, path
        assert store.schema == spark.read.parquet(path).schema
    assert "bucket" in read_state_or_none(spark, _store_paths(st)[0]).columns
