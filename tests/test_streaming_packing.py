"""Incremental packing (streaming/packing.py): stream == batch
equivalence for any batch split, base persistence across chunk
boundaries, retry idempotence of the shards state store, and the real
foreachBatch wiring."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from bigdatastructure_a5_spark.operators.packing import concat_and_chunk
from bigdatastructure_a5_spark.streaming.packing import (
    pack_batch,
    read_state,
    streaming_pack_writer,
)

L = 16
SCHEMA = "doc_id bigint, shard bigint, n_tokens bigint"


def _docs(spark, counts, shards=None):
    rows = [
        (i, (i % 2) if shards is None else shards[i], n)
        for i, n in enumerate(counts)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _batch_geo(spark, docs):
    return sorted(
        tuple(r)
        for r in concat_and_chunk(docs, L, shard_col="shard").collect()
    )


def _splits(docs, k):
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[int(len(ids) * i / k)] for i in range(1, k)]
    lo = None
    for hi in cuts + [None]:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("doc_id") >= lo)
        if hi is not None:
            cond = cond & (F.col("doc_id") < hi)
        yield docs.filter(cond)
        lo = hi


def _split_stream(spark, docs, src, schema):
    """File-source stream over ``docs`` in 3 id-ordered one-file
    microbatches: the file source admits oldest-mtime-first, so each
    split gets a forced, increasing mtime."""
    src.mkdir()
    base_t = time.time() - 100
    for i, b in enumerate(_splits(docs, 3)):
        p = str(src / f"split_{i}.parquet")
        b.coalesce(1).write.mode("overwrite").parquet(p)
        for dp, _, fns in os.walk(p):
            for fn in fns:
                os.utime(os.path.join(dp, fn), (base_t + i, base_t + i))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )


def test_sequential_batches_equal_batch_pack(spark, tmp_path):
    """Three id-ordered microbatches produce EXACTLY the batch packer's
    geometry — absolute chunk ids, identical slices — including chunks
    that straddle a batch boundary (emitted under-full, then extended
    by the next batch at the same chunk_id)."""
    counts = [5, 3, 40, 1, 16, 7, 2, 31, 9, 4]
    docs = _docs(spark, counts)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    for i, b in enumerate(_splits(docs, 3)):
        pack_batch(spark, b, state, out, L, batch_id=i)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == _batch_geo(spark, docs) and len(got) > 0
    # a straddle exists: some chunk_id appears in more than one batch's
    # rows — verify by the per-chunk offsets tiling [0, L)
    by_chunk: dict[tuple, list] = {}
    for r in spark.read.parquet(out).collect():
        by_chunk.setdefault((r.shard, r.chunk_id), []).append(r)
    for (shard, cid), rs in by_chunk.items():
        rs.sort(key=lambda r: r.chunk_offset)
        assert rs[0].chunk_offset == 0
        for a, b in zip(rs, rs[1:]):
            assert a.chunk_offset + a.slice_len == b.chunk_offset


def test_single_batch_equals_batch_pack(spark, tmp_path):
    docs = _docs(spark, [5, 3, 40, 1, 16, 7])
    state, out = str(tmp_path / "state1"), str(tmp_path / "out1")
    pack_batch(spark, docs, state, out, L, batch_id=0)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == _batch_geo(spark, docs)


def test_carry_accumulates_per_shard(spark, tmp_path):
    """The state is one bigint per shard: after two batches the carry is
    each shard's total packed tokens (zero-token docs excluded)."""
    state, out = str(tmp_path / "state2"), str(tmp_path / "out2")
    b1 = spark.createDataFrame(
        [(0, 0, 5), (1, 1, 7), (2, 0, 0)], SCHEMA
    )
    b2 = spark.createDataFrame([(3, 0, 11), (4, 1, 2)], SCHEMA)
    pack_batch(spark, b1, state, out, L, batch_id=0)
    pack_batch(spark, b2, state, out, L, batch_id=1)
    carry = {
        r.shard: r.base for r in read_state(spark, state).collect()
    }
    assert carry == {0: 16, 1: 9}


def test_retried_batch_does_not_double_count_carry(spark, tmp_path):
    """foreachBatch retries re-run the same batch_id: the state row is
    an absolute base read from strictly-earlier batches, so a replayed
    state append leaves the base unchanged — AND the re-emitted
    geometry is position-identical (the retry packs at the same base
    even though the first attempt already appended this batch's state
    row; ADVICE r10 high).  The
    worst case is crash between foreachBatch return and checkpoint
    commit: geometry written, carry written, batch redelivered whole."""
    state, out = str(tmp_path / "state3"), str(tmp_path / "out3")
    b1 = spark.createDataFrame([(0, 0, 5), (1, 1, 7)], SCHEMA)
    pack_batch(spark, b1, state, out, L, batch_id=0)
    first = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    pack_batch(spark, b1, state, out, L, batch_id=0)  # retry
    carry = {
        r.shard: r.base for r in read_state(spark, state).collect()
    }
    assert carry == {0: 5, 1: 7}
    # geometry: every retried row is an exact duplicate of a first-attempt
    # row — same positions, never shifted by the batch's own carry
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert after == sorted(first * 2)
    assert sorted(set(after)) == first == _batch_geo(spark, b1)
    # and a FOLLOWING batch still packs at the correct (single-count) base
    b2 = spark.createDataFrame([(2, 0, 4)], SCHEMA)
    pack_batch(spark, b2, state, out, L, batch_id=1)
    doc2 = [
        r
        for r in spark.read.parquet(out).collect()
        if r.doc_id == 2
    ]
    assert [(r.chunk_id, r.chunk_offset) for r in doc2] == [(0, 5)]


def test_crash_between_geometry_and_carry_is_retry_safe(spark, tmp_path):
    """Crash BETWEEN the two sinks (geometry appended, carry not yet —
    the write order pack_batch guarantees): the retry re-packs at the
    same base, appending position-identical duplicates, and the final
    deduplicated geometry equals the batch packer's output.  This is
    why geometry-before-carry is the safe order — carry-first would
    shift the retry by the batch's own tokens (VERDICT r10 item 8)."""
    state, out = str(tmp_path / "state5"), str(tmp_path / "out5")
    b1 = spark.createDataFrame([(0, 0, 5), (1, 1, 7)], SCHEMA)
    pack_batch(spark, b1, state, out, L, batch_id=0)
    b2 = spark.createDataFrame([(2, 0, L + 3), (3, 1, 2)], SCHEMA)

    # first attempt of batch 1 crashes after the geometry append, before
    # the carry append: replicate exactly the geometry half of pack_batch
    carry = read_state(spark, state, before_batch_id=1)
    withbase = b2.join(
        F.broadcast(carry.withColumnRenamed("shard", "shard")),
        on=["shard"],
        how="left",
    )
    concat_and_chunk(
        withbase, L, shard_col="shard", base_col="base"
    ).write.mode("append").parquet(out)

    # redelivery: the full body runs again with the same batch_id
    pack_batch(spark, b2, state, out, L, batch_id=1)

    rows = [tuple(r) for r in spark.read.parquet(out).collect()]
    b2_rows = [r for r in rows if r[2] in (2, 3)]  # col 2 = doc_id
    # every batch-1 row appears exactly twice, at identical positions
    from collections import Counter

    assert set(Counter(map(tuple, b2_rows)).values()) == {2}
    # deduplicated stream == the batch packer over the whole corpus
    both = _docs(spark, [5, 7, L + 3, 2], shards=[0, 1, 0, 1])
    assert sorted(set(map(tuple, rows))) == _batch_geo(spark, both)
    # carry is single-counted
    carry2 = {r.shard: r.base for r in read_state(spark, state).collect()}
    assert carry2 == {0: 5 + L + 3, 1: 9}


def test_existing_but_unreadable_state_dir_raises(spark, tmp_path):
    """A state dir that EXISTS but fails analysis (empty dir — 'unable
    to infer schema') must raise, not masquerade as first-batch: packing
    from base 0 over real prior state silently overlaps chunk ids
    (ADVICE r10).  A genuinely missing path still means first batch."""
    import pytest
    from pyspark.errors import AnalysisException

    state = tmp_path / "state6"
    assert read_state(spark, str(state)) is None  # missing -> first batch
    (state / "shards").mkdir(parents=True)  # exists, no parquet inside
    with pytest.raises(AnalysisException):
        read_state(spark, str(state))


def test_state_store_reads_run_no_spark_job(spark, tmp_path):
    """After two batches the shards store is read with the schema from its
    footer: building ``read_state`` and the raw store frame runs no job,
    and the raw schema equals Spark's inferred one."""
    from bigdatastructure_a5_spark.streaming.state import read_state_or_none

    state, out = str(tmp_path / "state_nj"), str(tmp_path / "out_nj")
    for i, counts in enumerate(([5, 20, 3], [7, 1, 30])):
        pack_batch(spark, _docs(spark, counts), state, out, L, batch_id=i)
    shards = os.path.join(state, "shards")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    latest = read_state(spark, state)
    store = read_state_or_none(spark, shards)
    assert dag.numTotalJobs() == before
    assert store.schema == spark.read.parquet(shards).schema
    assert latest.count() == 2  # one row per shard


def test_new_shard_mid_stream_starts_at_zero(spark, tmp_path):
    """A shard first seen in batch 2 has no carry row — its stream
    starts at position 0 (chunk_id 0), while existing shards continue."""
    state, out = str(tmp_path / "state4"), str(tmp_path / "out4")
    pack_batch(
        spark,
        spark.createDataFrame([(0, 0, L + 2)], SCHEMA),
        state, out, L, batch_id=0,
    )
    pack_batch(
        spark,
        spark.createDataFrame([(1, 0, 3), (2, 9, 4)], SCHEMA),
        state, out, L, batch_id=1,
    )
    rows = spark.read.parquet(out).collect()
    new_shard = [r for r in rows if r.shard == 9]
    assert [(r.chunk_id, r.slice_start, r.slice_len, r.chunk_offset) for r in new_shard] == [
        (0, 0, 4, 0)
    ]
    # shard 0 continued: doc 1 lands right after doc 0's 18 tokens
    doc1 = [r for r in rows if r.doc_id == 1]
    assert [(r.chunk_id, r.chunk_offset) for r in doc1] == [(1, 2)]


def test_real_streaming_run_matches_batch_pack(spark, tmp_path):
    """The foreachBatch wiring over a real file-source stream
    (maxFilesPerTrigger=1, AvailableNow): identical geometry to the
    batch packer.  File arrival is forced into id order via ascending
    mtimes (the file source admits oldest-mtime-first)."""
    counts = [5, 3, 40, 1, 16, 7, 2, 31]
    docs = _docs(spark, counts)
    stream = _split_stream(spark, docs, tmp_path / "src", SCHEMA)
    out = str(tmp_path / "out_s")
    q = (
        streaming_pack_writer(
            stream,
            str(tmp_path / "state_s"),
            out,
            str(tmp_path / "ckpt"),
            L,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == _batch_geo(spark, docs) and len(got) > 0


def test_streamed_mixture_then_incremental_pack_matches_batch(spark, tmp_path):
    """The streaming trainer path: the mixer runs UNCHANGED on each
    microbatch (stateless projection — stream==batch is pinned in
    test_mixture), and its copies feed the incremental packer with
    composite order keys.  The streamed geometry must equal the batch
    path (mix everything, pack once) row for row."""
    from bigdatastructure_a5_spark.operators.mixture import mix_domains

    docs = spark.createDataFrame(
        [
            (i, ("src0", "src1", "src2")[i % 3], 3 + (i * 5) % 9)
            for i in range(30)
        ],
        "doc_id bigint, source string, n_tokens bigint",
    )
    weights = {"src0": 2.0, "src1": 0.0, "src2": 1.0}

    def mix(frame):
        return mix_domains(
            frame, weights, domain_col="source", default_weight=0.5
        ).select(
            "doc_id",
            "copy_id",
            (F.col("doc_id") % 4).alias("shard"),
            "n_tokens",
        )

    # batch path: mix the whole corpus, pack once
    want = sorted(
        tuple(r)
        for r in concat_and_chunk(
            mix(docs), L, id_col=["doc_id", "copy_id"], shard_col="shard"
        ).collect()
    )
    # streamed path: 3 id-ordered microbatches, mixer inside the batch
    state, out = str(tmp_path / "state_mx"), str(tmp_path / "out_mx")
    for i, b in enumerate(_splits(docs, 3)):
        pack_batch(
            spark,
            mix(b),
            state,
            out,
            L,
            batch_id=i,
            id_col=["doc_id", "copy_id"],
        )
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == want and len(got) > 0
    # the dropped domain reached neither path
    src1_ids = {r.doc_id for r in docs.filter("source = 'src1'").collect()}
    assert src1_ids.isdisjoint({r[2] for r in got})  # col 2 = doc_id


# ---------------------------------------------------------------------------
# Incremental ASSEMBLY (complete chunk text at ingest)
# ---------------------------------------------------------------------------

TOK_SCHEMA = "doc_id bigint, shard bigint, toks array<string>"


def _tok_docs(spark, counts, shards=None):
    rows = [
        (
            i,
            (i % 2) if shards is None else shards[i],
            [f"w{i}_{j}" for j in range(n)],
        )
        for i, n in enumerate(counts)
    ]
    return spark.createDataFrame(rows, TOK_SCHEMA)


def _batch_assembled(spark, docs):
    """Batch-mode twin: assemble the whole corpus, return complete
    chunks {(shard, chunk_id): toks} and partial tails {shard: toks}."""
    from bigdatastructure_a5_spark.operators.packing import assemble_chunks

    combined = docs.withColumn("n_tokens", F.size("toks").cast("bigint"))
    geo = concat_and_chunk(
        combined, L, n_tokens_col="n_tokens", shard_col="shard"
    )
    asm = assemble_chunks(
        geo,
        combined.select("shard", "doc_id", "toks"),
        id_cols=["shard", "doc_id"],
        shard_col="shard",
    ).collect()
    complete = {
        (r.shard, r.chunk_id): list(r.toks) for r in asm if r.n_tokens == L
    }
    tails = {r.shard: list(r.toks) for r in asm if r.n_tokens < L}
    return complete, tails


def _read_out(spark, out):
    rows = spark.read.parquet(out).collect()
    return {(r.shard, r.chunk_id): list(r.toks) for r in rows}


def test_incremental_assembly_equals_batch_for_any_split(spark, tmp_path):
    """Streamed COMPLETE chunks (text, absolute ids) equal the batch
    assembler's complete chunks for 1- and 3-way splits — including
    chunks straddling batch boundaries (emitted once, by the batch that
    completes them) — and the final stored tail equals the batch path's
    partial last chunk per shard."""
    from bigdatastructure_a5_spark.streaming.packing import (
        assemble_batch,
        read_state,
    )

    counts = [5, 3, 40, 1, 16, 7, 2, 31, 9, 4]
    docs = _tok_docs(spark, counts)
    want_complete, want_tails = _batch_assembled(spark, docs)
    assert want_complete and want_tails  # fixture exercises both

    for k, label in ((1, "one"), (3, "three")):
        state = str(tmp_path / f"st_{label}")
        out = str(tmp_path / f"out_{label}")
        for i, b in enumerate(_splits(docs, k)):
            assemble_batch(spark, b, state, out, L, batch_id=i)
        assert _read_out(spark, out) == want_complete
        got_tails = {
            r.shard: list(r.toks)
            for r in read_state(spark, state).collect()
            if r.toks
        }
        assert got_tails == want_tails


def test_incremental_assembly_never_emits_partial_chunks(spark, tmp_path):
    """Every emitted row is exactly L tokens — the unfilled last chunk
    stays in the tail store (training data is fixed-size by
    construction), and a later batch completes it at the same absolute
    chunk_id with the earlier batch's tokens in front."""
    from bigdatastructure_a5_spark.streaming.packing import assemble_batch

    state, out = str(tmp_path / "st_p"), str(tmp_path / "out_p")
    # batch 0: 10 tokens on shard 0 — no complete chunk yet (L=16)
    b0 = spark.createDataFrame(
        [(0, 0, [f"a{j}" for j in range(10)])], TOK_SCHEMA
    )
    assemble_batch(spark, b0, state, out, L, batch_id=0)
    import os

    assert not any(
        f.endswith(".parquet") and os.path.getsize(os.path.join(dp, f)) > 0
        for dp, _, fns in os.walk(out)
        for f in fns
    ) or len(_read_out(spark, out)) == 0
    # batch 1: 10 more — chunk 0 completes with 6 carried + 10 new... (16)
    b1 = spark.createDataFrame(
        [(1, 0, [f"b{j}" for j in range(10)])], TOK_SCHEMA
    )
    assemble_batch(spark, b1, state, out, L, batch_id=1)
    got = _read_out(spark, out)
    assert set(got) == {(0, 0)}
    assert got[(0, 0)] == [f"a{j}" for j in range(10)] + [
        f"b{j}" for j in range(6)
    ]


def test_incremental_assembly_retry_is_position_identical(spark, tmp_path):
    """A redelivered batch re-emits byte-identical complete chunks (same
    ids, same token arrays) and leaves the tail single-valued — the
    strictly-earlier-batch_id rule applied to BOTH state stores."""
    from collections import Counter

    from bigdatastructure_a5_spark.streaming.packing import (
        assemble_batch,
        read_state,
    )

    state, out = str(tmp_path / "st_r"), str(tmp_path / "out_r")
    b0 = spark.createDataFrame(
        [(0, 0, [f"a{j}" for j in range(20)])], TOK_SCHEMA
    )
    assemble_batch(spark, b0, state, out, L, batch_id=0)
    assemble_batch(spark, b0, state, out, L, batch_id=0)  # retry
    rows = [
        (r.shard, r.chunk_id, tuple(r.toks))
        for r in spark.read.parquet(out).collect()
    ]
    assert set(Counter(rows).values()) == {2}  # exact duplicates only
    assert {(s, c) for s, c, _ in rows} == {(0, 0)}
    tails = {r.shard: list(r.toks) for r in read_state(spark, state).collect()}
    assert tails == {0: [f"a{j}" for j in range(16, 20)]}
    # follow-up batch still packs at the single-counted position
    b1 = spark.createDataFrame(
        [(1, 0, [f"b{j}" for j in range(12)])], TOK_SCHEMA
    )
    assemble_batch(spark, b1, state, out, L, batch_id=1)
    got = _read_out(spark, out)
    assert got[(0, 1)] == [f"a{j}" for j in range(16, 20)] + [
        f"b{j}" for j in range(12)
    ]


def test_incremental_assembly_real_streaming_run(spark, tmp_path):
    """The foreachBatch wiring over a real file-source stream: identical
    complete chunks to the batch assembler."""
    from bigdatastructure_a5_spark.streaming.packing import (
        streaming_assembly_writer,
    )

    counts = [5, 3, 40, 1, 16, 7, 2, 31]
    docs = _tok_docs(spark, counts)
    want_complete, _ = _batch_assembled(spark, docs)
    stream = _split_stream(spark, docs, tmp_path / "asrc", TOK_SCHEMA)
    out = str(tmp_path / "aout")
    q = (
        streaming_assembly_writer(
            stream,
            str(tmp_path / "astate"),
            out,
            str(tmp_path / "ackpt"),
            L,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert _read_out(spark, out) == want_complete and len(want_complete) > 0


def test_compaction_preserves_stream_semantics(spark, tmp_path):
    """compact_state folds pre-N state rows into sentinel (-1) rows —
    continuing the stream across a compaction must produce EXACTLY the
    uncompacted run's output: same geometry, same assembled chunks,
    same carry, same tails.  The sentinel sorts strictly below every
    real batch id, so the strictly-earlier retry rule is untouched —
    a retry of the first post-compaction batch re-packs at the same
    base."""
    from bigdatastructure_a5_spark.streaming.packing import (
        assemble_batch,
        compact_state,
        read_state,
    )

    counts = [5, 3, 40, 1, 16, 7, 2, 31, 9, 4, 12, 29]
    tdocs = _tok_docs(spark, counts)
    batches = list(_splits(tdocs, 4))

    # uncompacted reference run
    st_a, out_a = str(tmp_path / "sa"), str(tmp_path / "oa")
    for i, b in enumerate(batches):
        assemble_batch(spark, b, st_a, out_a, L, batch_id=i)

    # compacted run: compact after batch 1, continue with 2 and 3
    st_b, out_b = str(tmp_path / "sb"), str(tmp_path / "ob")
    for i, b in enumerate(batches[:2]):
        assemble_batch(spark, b, st_b, out_b, L, batch_id=i)
    compact_state(spark, st_b, before_batch_id=2)
    # sentinel rows exist, real pre-cut rows are gone
    carry_rows = spark.read.parquet(str(tmp_path / "sb" / "shards"))
    assert {r.batch_id for r in carry_rows.collect()} == {-1}
    # retry of the first post-compaction batch: same base either way
    assemble_batch(spark, batches[2], st_b, out_b, L, batch_id=2)
    assemble_batch(spark, batches[2], st_b, out_b, L, batch_id=2)  # retry
    assemble_batch(spark, batches[3], st_b, out_b, L, batch_id=3)

    got_a = _read_out(spark, out_a)
    got_b = _read_out(spark, out_b)  # retry dups collapse in the dict
    assert got_b == got_a and len(got_a) > 0
    tails_a = {
        r.shard: list(r.toks) for r in read_state(spark, st_a).collect()
    }
    tails_b = {
        r.shard: list(r.toks) for r in read_state(spark, st_b).collect()
    }
    assert tails_b == tails_a
    carry_a = {
        r.shard: r.base for r in read_state(spark, st_a).collect()
    }
    carry_b = {
        r.shard: r.base for r in read_state(spark, st_b).collect()
    }
    assert carry_b == carry_a


def test_compaction_shrinks_state_files(spark, tmp_path):
    """The point of the maintenance pass (EXPERIMENTS §20): after many
    appends the store is many files; compaction collapses the pre-cut
    history to one row-set."""
    import os

    from bigdatastructure_a5_spark.streaming.packing import compact_state

    state, out = str(tmp_path / "st"), str(tmp_path / "out")
    for i in range(6):
        b = spark.createDataFrame([(i, 0, 7), (100 + i, 1, 9)], SCHEMA)
        pack_batch(spark, b, state, out, L, batch_id=i)

    def n_files(p):
        return sum(
            1
            for dp, _, fns in os.walk(p)
            for f in fns
            if f.endswith(".parquet")
        )

    carry_dir = os.path.join(state, "shards")
    before = n_files(carry_dir)
    compact_state(spark, state, before_batch_id=6)
    after = n_files(carry_dir)
    assert after < before
    carry = {r.shard: r.base for r in read_state(spark, state).collect()}
    assert carry == {0: 6 * 7, 1: 6 * 9}


def test_exactly_once_output_mode_retry_produces_no_duplicates(
    spark, tmp_path
):
    """exactly_once=True: each batch's output overwrites its own
    out_dir/batch=<id> directory, so a redelivered batch leaves ZERO
    duplicate rows — and the union over batch dirs equals the default
    append mode's deduplicated stream for both the packer and the
    assembler."""
    from bigdatastructure_a5_spark.streaming.packing import assemble_batch

    counts = [5, 3, 40, 1, 16, 7, 2, 31]
    # packer
    docs = _docs(spark, counts)
    state, out = str(tmp_path / "st_eo"), str(tmp_path / "out_eo")
    for i, b in enumerate(_splits(docs, 3)):
        pack_batch(spark, b, state, out, L, batch_id=i, exactly_once=True)
        if i == 1:  # redeliver mid-stream
            pack_batch(
                spark, b, state, out, L, batch_id=i, exactly_once=True
            )
    rows = [
        tuple(r)
        for r in spark.read.parquet(out).drop("batch").collect()
    ]
    assert len(rows) == len(set(rows))  # no duplicates despite the retry
    assert sorted(rows) == _batch_geo(spark, docs)
    # assembler
    tdocs = _tok_docs(spark, counts)
    want_complete, _ = _batch_assembled(spark, tdocs)
    astate, aout = str(tmp_path / "ast_eo"), str(tmp_path / "aout_eo")
    for i, b in enumerate(_splits(tdocs, 3)):
        assemble_batch(
            spark, b, astate, aout, L, batch_id=i, exactly_once=True
        )
        if i == 0:
            assemble_batch(
                spark, b, astate, aout, L, batch_id=i, exactly_once=True
            )
    arows = spark.read.parquet(aout).drop("batch").collect()
    keyed = [(r.shard, r.chunk_id) for r in arows]
    assert len(keyed) == len(set(keyed))
    assert {
        (r.shard, r.chunk_id): list(r.toks) for r in arows
    } == want_complete


def test_join_path_preserves_uri_authority():
    """pathlib collapses s3a:// to s3a:/ — the state paths must not."""
    from bigdatastructure_a5_spark.streaming.state import join_path

    assert join_path("s3a://bucket/out", "batch=3") == (
        "s3a://bucket/out/batch=3"
    )
    assert join_path("hdfs://nn:8020/state", "carry") == (
        "hdfs://nn:8020/state/carry"
    )
    assert join_path("/tmp/x/", "tails") == "/tmp/x/tails"


def test_interrupted_compaction_raises_instead_of_first_batch(
    spark, tmp_path
):
    """A crash between compact_state's delete and rename leaves the
    store missing with a completed .compacting dir beside it: the state
    readers must RAISE (packing from base 0 over real history silently
    overlaps chunk ids), and re-running compact_state must complete the
    swap."""
    import os

    import pytest

    from bigdatastructure_a5_spark.streaming.packing import compact_state

    state, out = str(tmp_path / "st_ic"), str(tmp_path / "out_ic")
    for i in range(3):
        b = spark.createDataFrame([(i, 0, 7)], SCHEMA)
        pack_batch(spark, b, state, out, L, batch_id=i)
    carry_dir = os.path.join(state, "shards")
    # simulate the crash window: store gone, staging (with _SUCCESS,
    # since every Spark parquet write leaves one) in its place
    os.rename(carry_dir, carry_dir + ".compacting")
    with pytest.raises(RuntimeError, match="compact_state"):
        read_state(spark, state)
    # repair path: compact_state recovers the staging dir first
    compact_state(spark, state, before_batch_id=3)
    carry = {r.shard: r.base for r in read_state(spark, state).collect()}
    assert carry == {0: 21}
    rows = spark.read.parquet(carry_dir).collect()
    assert {r.batch_id for r in rows} == {-1}


def test_assembler_supports_integer_token_id_arrays(spark, tmp_path):
    """toks as array<bigint> (the trainer-shaped token-id stream): the
    empty-tail placeholder must use the batch's own element type — a
    hardcoded array<string> fails the first time a shard ends exactly
    on a chunk boundary."""
    from bigdatastructure_a5_spark.streaming.packing import (
        assemble_batch,
        read_state,
    )

    schema = "doc_id bigint, shard bigint, toks array<bigint>"
    state, out = str(tmp_path / "st_int"), str(tmp_path / "out_int")
    # batch 0 ends EXACTLY on the chunk boundary -> empty tail row
    b0 = spark.createDataFrame([(0, 0, list(range(L)))], schema)
    assemble_batch(spark, b0, state, out, L, batch_id=0)
    tails = {r.shard: list(r.toks) for r in read_state(spark, state).collect()}
    assert tails == {0: []}
    # batch 1 continues at the boundary; absolute chunk ids carry on
    b1 = spark.createDataFrame([(1, 0, list(range(100, 100 + L + 3)))], schema)
    assemble_batch(spark, b1, state, out, L, batch_id=1)
    got = {
        (r.shard, r.chunk_id): list(r.toks)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (0, 0): list(range(L)),
        (0, 1): list(range(100, 100 + L)),
    }
    tails = {r.shard: list(r.toks) for r in read_state(spark, state).collect()}
    assert tails == {0: list(range(100 + L, 100 + L + 3))}


def test_pack_compaction_vs_writer_mutual_exclusion(spark, tmp_path):
    """VERDICT r11 item 3: the no-concurrent-stream precondition is
    enforced, not documented — a compaction attempted during an active
    writer raises, a write during a compaction raises, and force=True
    overrides a mark left by a provably crashed batch."""
    import pytest

    from bigdatastructure_a5_spark.streaming.packing import compact_state
    from bigdatastructure_a5_spark.streaming.state import (
        COMPACTION_LOCK,
        WRITER_MARK,
        fs_delete,
        fs_mkdirs,
        join_path,
    )

    state, out = str(tmp_path / "st_mx"), str(tmp_path / "out_mx")
    pack_batch(
        spark,
        spark.createDataFrame([(0, 0, 5), (1, 1, 7)], SCHEMA),
        state,
        out,
        L,
        batch_id=0,
    )

    # writer active (e.g. crashed mid-batch) -> compaction refuses
    fs_mkdirs(spark, join_path(state, WRITER_MARK))
    with pytest.raises(RuntimeError, match="active writer"):
        compact_state(spark, state, before_batch_id=1)
    compact_state(spark, state, before_batch_id=1, force=True)
    fs_delete(spark, join_path(state, WRITER_MARK))

    # compaction in flight -> writer refuses, and marks don't linger
    fs_mkdirs(spark, join_path(state, COMPACTION_LOCK))
    with pytest.raises(RuntimeError, match="compacted"):
        pack_batch(
            spark,
            spark.createDataFrame([(2, 0, 3)], SCHEMA),
            state,
            out,
            L,
            batch_id=1,
        )
    assert not os.path.exists(os.path.join(state, WRITER_MARK))
    fs_delete(spark, join_path(state, COMPACTION_LOCK))

    # after both sides release, the stream continues at correct offsets
    pack_batch(
        spark,
        spark.createDataFrame([(2, 0, 3)], SCHEMA),
        state,
        out,
        L,
        batch_id=1,
    )
    carry = {r.shard: r.base for r in read_state(spark, state).collect()}
    assert carry == {0: 8, 1: 7}


def test_compact_state_refuses_uncommitted_batches(spark, tmp_path):
    """ADVICE r11 medium: with the stream's checkpoint_dir given,
    compact_state enforces before_batch_id <= last COMMITTED batch + 1 —
    folding a pending batch's carry into the sentinel would let its
    redelivery pack at base + its own tokens."""
    import pytest

    from bigdatastructure_a5_spark.streaming.packing import compact_state

    state, out = str(tmp_path / "st_cb"), str(tmp_path / "out_cb")
    for i in range(3):
        pack_batch(
            spark,
            spark.createDataFrame([(i, 0, 7)], SCHEMA),
            state,
            out,
            L,
            batch_id=i,
        )
    # checkpoint with commit markers for batches 0 and 1 only: batch 2
    # ran (its state rows exist) but never committed -> redeliverable
    ckpt = tmp_path / "ckpt_cb"
    (ckpt / "commits").mkdir(parents=True)
    for b in ("0", "1"):
        (ckpt / "commits" / b).write_text("v1")
    (ckpt / "commits" / "2.tmp.crc").write_text("")  # non-commit junk

    with pytest.raises(ValueError, match="pending redelivery"):
        compact_state(
            spark, state, before_batch_id=3, checkpoint_dir=str(ckpt)
        )
    # the bound itself is allowed: folds exactly the committed prefix
    compact_state(
        spark, state, before_batch_id=2, checkpoint_dir=str(ckpt)
    )
    rows = spark.read.parquet(os.path.join(state, "shards")).collect()
    assert {r.batch_id for r in rows} == {-1, 2}
    carry = {r.shard: r.base for r in read_state(spark, state).collect()}
    assert carry == {0: 21}
    # an empty/missing commits log means NOTHING may fold
    ckpt2 = tmp_path / "ckpt_cb2"
    ckpt2.mkdir()
    with pytest.raises(ValueError, match="pending redelivery"):
        compact_state(
            spark, state, before_batch_id=1, checkpoint_dir=str(ckpt2)
        )


def test_assemble_batch_rejects_non_numeric_ids(spark, tmp_path):
    """ADVICE r11 medium: a non-numeric string id would cast to NULL and
    tie every doc on one NULL order key — nondeterministic chunk content
    across retries.  The assembler must fail loudly instead."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from bigdatastructure_a5_spark.streaming.packing import assemble_batch

    b = spark.createDataFrame(
        [("doc-a", 0, ["t1", "t2"]), ("doc-b", 0, ["t3"])],
        "doc_id string, shard bigint, toks array<string>",
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="not castable"
    ):
        assemble_batch(
            spark,
            b,
            str(tmp_path / "st_nn"),
            str(tmp_path / "out_nn"),
            L,
            batch_id=0,
        )
    # NUMERIC string ids are fine (they cast losslessly)
    b2 = spark.createDataFrame(
        [("10", 0, ["t1", "t2"]), ("11", 0, ["t3"])],
        "doc_id string, shard bigint, toks array<string>",
    )
    assemble_batch(
        spark,
        b2,
        str(tmp_path / "st_ns"),
        str(tmp_path / "out_ns"),
        L,
        batch_id=0,
    )


def test_compact_bound_reads_real_streaming_checkpoint(spark, tmp_path):
    """The committed-batch bound against a REAL AvailableNow checkpoint
    (not a simulated commits dir): after a 3-file stream commits batches
    0-2, compact_state accepts before_batch_id <= 3 and refuses 4 — and
    continuing with a batch-mode backfill over the compacted state packs
    at the exact uncompacted offsets."""
    import pytest

    from bigdatastructure_a5_spark.streaming.packing import compact_state

    counts = [5, 3, 40, 1, 16, 7, 2, 31]
    docs = _docs(spark, counts)
    src = tmp_path / "src_cb"
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
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out, state = str(tmp_path / "out_cb"), str(tmp_path / "state_cb")
    ckpt = str(tmp_path / "ckpt_cb")
    q = (
        streaming_pack_writer(stream, state, out, ckpt, L)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    with pytest.raises(ValueError, match="pending redelivery"):
        compact_state(spark, state, before_batch_id=4, checkpoint_dir=ckpt)
    # before_batch_id=None derives the committed prefix (3) itself —
    # the one-liner maintenance-window form
    compact_state(spark, state, checkpoint_dir=ckpt)
    rows = spark.read.parquet(os.path.join(state, "shards")).collect()
    assert {r.batch_id for r in rows} == {-1}

    # backfill continues at the exact offsets the full corpus implies
    extra = spark.createDataFrame([(100, 0, 9), (101, 1, 4)], SCHEMA)
    pack_batch(spark, extra, state, out, L, batch_id=3)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = _batch_geo(
        spark, docs.unionByName(extra)
    )
    assert got == want


def test_assemble_batch_rejects_null_ids(spark, tmp_path):
    """ADVICE r12 low: NULL ids are the same hazard as uncastable ones
    (every NULL row would collapse onto one NULL order key) — the guard
    must fire on them too, with a NULL-specific message."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from bigdatastructure_a5_spark.streaming.packing import assemble_batch

    b = spark.createDataFrame(
        [(None, 0, ["t1", "t2"]), (7, 0, ["t3"])],
        "doc_id bigint, shard bigint, toks array<string>",
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="is NULL"
    ):
        assemble_batch(
            spark,
            b,
            str(tmp_path / "st_null"),
            str(tmp_path / "out_null"),
            L,
            batch_id=0,
        )


def test_assembly_state_base_tracks_raw_batch_totals(spark, tmp_path):
    """After every batch of a 3-batch sequence, each shard's state base
    equals its cumulative raw token total — including batch 1, where
    shard 0 only re-packs its tail — and the emitted chunks equal the
    batch assembler's complete chunks over the corpus so far.  Each
    pack_batch/assemble_batch call appends exactly one parquet file to
    state_dir/shards, and state_dir holds no other store."""
    from bigdatastructure_a5_spark.streaming.packing import assemble_batch

    # batch 0: shard 0 gets 10 tokens (partial tail), shard 1 gets 20
    # (one complete chunk + a 4-token tail, L=16); batch 1: shard 1 ONLY
    # (shard 0's tail re-packs, adds 0); batch 2: shard 0 resumes
    batches = [[(0, 0, 10), (1, 1, 20)], [(2, 1, 7)], [(3, 0, 9), (4, 0, 3)]]
    ast, pst, aout = (str(tmp_path / d) for d in ("ast", "pst", "aout"))
    seen, totals = [], {}
    for i, rows in enumerate(batches):
        seen += rows
        for _, s, n in rows:
            totals[s] = totals.get(s, 0) + n
        docs = _tok_docs(spark, [n for *_, n in seen], [s for _, s, _ in seen])
        new = docs.filter(F.col("doc_id") >= rows[0][0])
        assemble_batch(spark, new, ast, aout, L, batch_id=i)
        pack_batch(
            spark, spark.createDataFrame(rows, SCHEMA),
            pst, str(tmp_path / "pout"), L, batch_id=i,
        )
        for state in (ast, pst):
            base = {r.shard: r.base for r in read_state(spark, state).collect()}
            assert base == totals and os.listdir(state) == ["shards"]
            files = os.listdir(os.path.join(state, "shards"))
            assert sum(f.endswith(".parquet") for f in files) == i + 1
        assert _read_out(spark, aout) == _batch_assembled(spark, docs)[0]


def test_two_store_state_dir_raises_instead_of_first_batch(spark, tmp_path):
    """A state dir in the older two-store format (carry + tails, no
    shards store) must raise, not read as a first batch: packing from
    base 0 over it would overlap chunk ids already emitted."""
    import pytest

    from bigdatastructure_a5_spark.streaming.packing import (
        TwoStoreFormatError,
        assemble_batch,
    )

    state, out = tmp_path / "st_two", str(tmp_path / "out_two")
    spark.createDataFrame(
        [(0, 0, 20)], "shard bigint, batch_id bigint, added bigint"
    ).write.parquet(str(state / "carry"))
    spark.createDataFrame(
        [(0, 0, ["a16", "a17", "a18", "a19"])],
        "shard bigint, batch_id bigint, toks array<string>",
    ).write.parquet(str(state / "tails"))
    b = _tok_docs(spark, [3])
    for body, batch in ((assemble_batch, b), (pack_batch, _docs(spark, [3]))):
        with pytest.raises(TwoStoreFormatError, match="two-store"):
            body(spark, batch, str(state), out, L, batch_id=1)
    assert not os.path.exists(out)
    assert sorted(os.listdir(state)) == ["carry", "tails"]


def test_non_aligned_carry_base_raises_naming_the_shard(spark, tmp_path):
    """A state store whose base is not chunk-aligned splits the shard's
    first chunk as well as its last, so one batch assembles TWO partial
    chunks for that shard.  The tail aggregation must fail naming the
    shard instead of silently flattening both partials into one tail."""
    import pytest

    from bigdatastructure_a5_spark.streaming.packing import assemble_batch

    state, out = str(tmp_path / "st_c"), str(tmp_path / "out_c")
    b0 = spark.createDataFrame(
        [(0, 0, [f"a{j}" for j in range(20)])], TOK_SCHEMA
    )
    assemble_batch(spark, b0, state, out, L, batch_id=0)
    # corrupt: batch 0's base now claims 23 tokens, so batch 1 packs
    # from base 23 - 4 = 19
    shards = os.path.join(state, "shards")
    rows = spark.read.parquet(shards).withColumn("base", F.col("base") + 3)
    spark.createDataFrame(rows.collect(), rows.schema).write.mode(
        "overwrite"
    ).parquet(shards)
    b1 = spark.createDataFrame(
        [(1, 0, [f"b{j}" for j in range(20)])], TOK_SCHEMA
    )
    with pytest.raises(Exception, match="shard 0 has 2 partial chunks"):
        assemble_batch(spark, b1, state, out, L, batch_id=1)
