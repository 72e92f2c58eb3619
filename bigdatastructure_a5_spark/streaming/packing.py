"""Incremental (streaming) sequence packing: pack-at-ingest into an
ever-growing chunk stream.

Beyond reference scope (the reference has no streaming — SURVEY.md §1.1);
this is the streaming twin of ``operators.packing.concat_and_chunk``, the
shape a crawl-to-trainer pipeline actually runs: documents arrive in
batches for months, and each batch must extend the packed token stream
WITHOUT re-packing the corpus — yesterday's chunk ids are already
training examples and must never move.

The batch packer's arithmetic makes this almost free: a document's chunk
span is a pure function of its ABSOLUTE stream position, and the only
cross-batch state is one bigint per shard — the tokens packed so far
(the base).  Each microbatch: (1) read the per-shard base from the
parquet state store, (2) run the SAME window arithmetic with it as the
base offset (``concat_and_chunk(base_col=...)``), (3) append the emitted
slice geometry to the output and the shards' new bases to the state.
No state store provider, no watermark: the state is O(shards) rows of
plain parquet.

Equivalence guarantee (pinned by tests/test_streaming_packing.py): when
documents arrive in order-key order, the streamed geometry — for ANY
batch split, including everything-in-one-batch — equals the batch
packer's output on the concatenated corpus, row for row (absolute
chunk ids, same slices).  A shard's last chunk may be emitted
under-full in one batch and EXTENDED by the next (same chunk_id, later
chunk_offsets) — exactly how the batch packer would have filled it.

Ordering contract: like the offline packer, the order key must be
unique per shard and GROW monotonically across batches (arrivals append
to each shard's stream).  Out-of-order arrival would interleave
positions that earlier batches already assigned — the base makes
position assignment append-only by construction, so a late document
simply packs at the CURRENT end of its shard's stream (its id plays no
role in its position; determinism then rests on arrival order, the same
caveat as any at-ingest operator).

State store: ONE append-only parquet store, ``state_dir/shards``, of
``(shard, batch_id, base, toks?)`` rows.  ``base`` is the ABSOLUTE
number of tokens packed in the shard up to and including batch
``batch_id``; ``toks`` (assembler stores only) is the shard's
partial-chunk tail.  Each batch appends one row per shard it touched, in
one parquet file.  The store is latest-wins: the state before batch N
is, per shard, the row with the highest ``batch_id < N`` (``read_state``).
``compact_state`` folds the history below a cut into one row per shard.
A state dir holding the older two-store format (``carry`` + ``tails``
dirs, no ``shards``) is refused rather than read as a first batch.

Retry contract (pinned by tests/test_streaming_packing.py): a retried
batch packs at the SAME base on every attempt, because its state is read
from STRICTLY EARLIER batch_ids — a batch's own row (appended by a first
attempt that crashed before the checkpoint commit) can never feed back
into its base.  Rows hold absolute bases, not deltas, so a retry appends
a row identical to its first attempt's and nothing double-counts.
Retries therefore re-emit position-identical output rows (duplicates on
the key columns, dedupable downstream), never WRONG positions.
``exactly_once=True`` goes further: the batch's output writes to
``out_dir/batch=<id>`` with OVERWRITE, so a retry replaces its own
directory and the stream carries no duplicates at all (plain parquet, no
transactional format needed); the default append mode's failure
envelope stays duplicate rows, never corrupt offsets.

Incremental ASSEMBLY (``assemble_batch`` /
``streaming_assembly_writer``) is the trainer-facing sibling: complete
chunk TEXT at ingest.  Its rows also hold the shard's partial-chunk tail
(< chunk_tokens tokens); each batch re-packs [tail + new docs] from the
last chunk boundary (``base - size(toks)``) and emits ONLY chunks that
completed — fixed-size training examples by construction, straddling
chunks emitted exactly once by the batch that completes them.  The new
base and tail come from one aggregation over the batch's persisted
assembly.  Same retry rule; same chunks-before-state write order.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.operators.packing import (
    assemble_chunks_fused,
    concat_and_chunk,
)
from bigdatastructure_a5_spark.session import persist_df
from bigdatastructure_a5_spark.streaming.state import (
    acquire_writer_mark,
    begin_compaction,
    end_compaction,
    fs_exists,
    guard_interrupted_compaction,
    join_path,
    last_committed_batch_id,
    read_state_or_none,
    recover_interrupted_swap,
    release_writer_mark,
    swap_in_frame,
)


class TwoStoreFormatError(RuntimeError):
    """The state dir was written by the older two-store packer format."""


def _shards_path(state_dir: str) -> str:
    # join_path, not pathlib: state dirs are Spark paths (hdfs://,
    # s3a://...) whose double slash pathlib would mangle
    return join_path(state_dir, "shards")


def _write_output(
    df: DataFrame, out_dir: str, batch_id: int, exactly_once: bool
) -> None:
    """Output write for one batch.  ``exactly_once=False`` (default)
    appends to ``out_dir`` — a foreachBatch retry then re-emits
    position-identical DUPLICATE rows (dedupable, never wrong).
    ``exactly_once=True`` writes to ``out_dir/batch=<id>`` with
    overwrite: a retry replaces its own directory, so the output stream
    carries NO duplicates at all — closing the module docstring's
    exactly-once to-do with plain parquet (readers see an extra
    ``batch`` partition column via partition discovery; a crash
    mid-overwrite leaves at worst a partial batch dir that the retry
    overwrites whole)."""
    if exactly_once:
        df.write.mode("overwrite").parquet(
            join_path(out_dir, f"batch={int(batch_id)}")
        )
    else:
        df.write.mode("append").parquet(out_dir)


@contextmanager
def _writer_mark(spark: SparkSession, state_dir: str):
    """Hold the writer mark for one batch body: excludes a concurrent
    compact_state (whose delete+rename swap would silently drop this
    batch's appends) — raises if a compaction is in flight (VERDICT r11
    item 3)."""
    acquire_writer_mark(spark, state_dir)
    try:
        yield
    finally:
        release_writer_mark(spark, state_dir)


def read_state(
    spark: SparkSession,
    state_dir: str,
    before_batch_id: int | None = None,
) -> DataFrame | None:
    """Current per-shard state: ``(shard, base)`` for a ``pack_batch``
    store, ``(shard, base, toks)`` for an ``assemble_batch`` store —
    each shard's row with the highest batch_id (latest wins).

    ``before_batch_id`` restricts the read to batches STRICTLY EARLIER —
    the retry-safety keystone: batch N's base must be the same number on
    every attempt, so it can never include batch N's own row.  Without
    the filter, a batch redelivered AFTER its first attempt appended its
    row (crash between foreachBatch return and checkpoint commit) would
    pack at ``base + its own tokens`` — positions overlapping the NEXT
    batch's chunks, silent stream corruption (ADVICE r10 high).  The
    batch bodies always pass it; ``None`` is the read-the-final-state
    query shape.

    The first-batch probe is a Spark-side read attempt, NOT a local
    ``Path.exists()``: the state dir is a Spark path (hdfs://, s3://...)
    that the driver's local filesystem cannot see — a local probe would
    return False forever on a cluster and every batch would silently
    pack from base 0 (overlapping chunk ids, corrupted offsets).  Only
    PATH_NOT_FOUND means "first batch"; any other analysis failure
    (empty-but-existing dir, schema drift) re-raises — see
    streaming/state.py.  A missing store beside an interrupted
    compaction's staging dir, or beside the two-store format's
    ``carry``/``tails`` dirs, raises too: packing from base 0 there
    would overlap chunk ids already emitted."""
    path = _shards_path(state_dir)
    rows = read_state_or_none(spark, path)
    if rows is None:
        guard_interrupted_compaction(spark, path)
        old = [
            name
            for name in ("carry", "tails")
            if fs_exists(spark, join_path(state_dir, name))
        ]
        if old:
            raise TwoStoreFormatError(
                f"packer state {state_dir} was written by the two-store "
                f"format ({' + '.join(old)}, no shards): it cannot be "
                "read as the one shards store, and packing from base 0 "
                "over it would overlap chunk ids already emitted — "
                "finish that stream on the version that wrote it, or "
                "start a new state_dir"
            )
        return None
    if before_batch_id is not None:
        rows = rows.filter(F.col("batch_id") < F.lit(int(before_batch_id)))
    vals = [c for c in rows.columns if c not in ("shard", "batch_id")]
    # one aggregation, no window; a retry appends a row identical to its
    # first attempt's, so a tie on batch_id picks the same values
    return (
        rows.groupBy("shard")
        .agg(F.max_by(F.struct(*vals), "batch_id").alias("__s"))
        .select("shard", "__s.*")
    )


def pack_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    out_dir: str,
    chunk_tokens: int,
    batch_id: int,
    n_tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    shard_col: str = "shard",
    exactly_once: bool = False,
) -> None:
    """One microbatch of the incremental packer (the foreachBatch body,
    callable directly for batch-mode backfills and tests).

    ``batch`` carries (id, shard, token count) rows — the same input
    shape as ``concat_and_chunk`` with a mandatory shard column (an
    unsharded incremental packer would serialize every batch through
    one window partition AND one global base; shard first, always).

    ``batch_id`` is REQUIRED and must be unique per distinct batch (the
    streaming writer passes foreachBatch's): the state is read from
    strictly-earlier batch_ids, so two DIFFERENT batches sharing an id
    would both pack at the same base — overlapping already-emitted
    chunks.  A backfill loop must number its batches.
    """
    with _writer_mark(spark, state_dir):
        # strictly-earlier batches only: the base is then a pure function
        # of batch_id, identical on every retry attempt regardless of
        # whether the first attempt already appended this batch's row
        state = read_state(spark, state_dir, before_batch_id=batch_id)
        if state is not None:
            withbase = batch.join(
                F.broadcast(state.withColumnRenamed("shard", shard_col)),
                on=[shard_col],
                how="left",
            )
        else:
            withbase = batch.withColumn("base", F.lit(0).cast("bigint"))
        geo = concat_and_chunk(
            withbase,
            chunk_tokens,
            n_tokens_col=n_tokens_col,
            id_col=id_col,
            shard_col=shard_col,
            base_col="base",
        )
        # geometry BEFORE state — the crash-ordering twin of streaming/
        # dedup.py's shingles-before-bands: a crash between the two
        # appends then leaves geometry without its state row, and the
        # retry re-packs the batch at the SAME base — duplicate geometry
        # rows (same values, dedupable on key columns), never WRONG
        # positions.  State-first would shift the retried batch by its
        # own tokens and corrupt every subsequent offset silently.
        _write_output(geo, out_dir, batch_id, exactly_once)

        n = F.col(n_tokens_col).cast("bigint")
        new_state = (
            withbase.filter(n > 0)
            .groupBy(shard_col)
            .agg((F.coalesce(F.max("base"), F.lit(0)) + F.sum(n)).alias("base"))
            .select(
                F.col(shard_col).alias("shard"),
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                "base",
            )
        )
        # O(shards) rows: one file per batch append (write-task count and
        # the later read's file-count tax both drop)
        new_state.coalesce(1).write.mode("append").parquet(
            _shards_path(state_dir)
        )


def _foreach_batch_writer(
    body,
    stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    chunk_tokens: int,
    **batch_kwargs,
):
    """Wire a batch body (``pack_batch``/``assemble_batch``) as a
    foreachBatch sink over a STREAMING documents frame; returns the
    DataStreamWriter (caller picks the trigger and calls .start())."""

    def run(batch: DataFrame, batch_id: int) -> None:
        body(
            batch.sparkSession,
            batch,
            state_dir,
            out_dir,
            chunk_tokens,
            batch_id=batch_id,
            **batch_kwargs,
        )

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def streaming_pack_writer(
    stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    chunk_tokens: int,
    **batch_kwargs,
):
    """Wire ``pack_batch`` as a foreachBatch sink over a STREAMING
    documents frame; returns the DataStreamWriter (caller picks the
    trigger and calls .start())."""
    return _foreach_batch_writer(
        pack_batch,
        stream,
        state_dir,
        out_dir,
        checkpoint_dir,
        chunk_tokens,
        **batch_kwargs,
    )


# ---------------------------------------------------------------------------
# Incremental ASSEMBLY: complete chunk TEXT at ingest (geometry's trainer-
# facing sibling).  Each state row also holds the shard's PARTIAL-CHUNK
# TAIL: the (< chunk_tokens) tokens of its unfilled last chunk.  Each
# batch re-packs [tail + new docs] from the last chunk boundary, emits
# every chunk that COMPLETED (exactly chunk_tokens tokens — complete
# chunks are final and never move, because positions are append-only),
# and stores the new base and tail.  Retry-safe by the same
# strictly-earlier-batch_id rule as the packer.
# ---------------------------------------------------------------------------

#: Synthetic order key for the carried tail "document" — sorts before any
#: real id, so the tail replays at the exact stream positions it owns.
_TAIL_SENTINEL = -(1 << 62)


def _order_key(id_col: str) -> Column:
    """``id_col`` as the assembler's bigint order key.  The key must cast
    to bigint to union with the tail sentinel; a non-numeric string id
    would silently cast to NULL, tying every doc on one NULL order key —
    nondeterministic chunk CONTENT across retries, violating the
    byte-identical-retry contract.  Fail loudly at the first such id
    instead (ADVICE r11 medium); raise_error lives INSIDE the order-key
    expression so column pruning cannot drop it."""
    # try_cast, not cast: under ANSI (the Spark 4 default) a plain cast
    # would throw CAST_INVALID_INPUT with no operator context before the
    # guard runs; try_cast yields NULL in both ANSI modes, so the clear
    # message below fires deterministically
    casted = F.col(id_col).try_cast("bigint")
    # NULL ids are the same hazard as uncastable ones (every NULL row
    # would collapse onto one NULL order key) — the guard fires for both,
    # with distinct messages (ADVICE r12 low: the original condition
    # isNotNull() & casted.isNull() let NULLs slip past)
    return (
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit(
                    f"assemble_batch: {id_col} is NULL — the assembler "
                    "needs non-null numeric unique ids for its order "
                    "key; NULL ids would all tie on one NULL order key "
                    "(nondeterministic chunk content across retries)"
                )
            ).cast("bigint"),
        )
        .when(
            casted.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"assemble_batch: {id_col}="
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(
                        " is not castable to bigint — the assembler needs "
                        "numeric unique ids for its order key (unlike "
                        "pack_batch, which orders by the raw column)"
                    ),
                )
            ).cast("bigint"),
        )
        .otherwise(casted)
    )


def assemble_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    out_dir: str,
    chunk_tokens: int,
    batch_id: int,
    toks_col: str = "toks",
    id_col: str = "doc_id",
    shard_col: str = "shard",
    exactly_once: bool = False,
) -> None:
    """One microbatch of the incremental ASSEMBLER (foreachBatch body):
    emit the batch's COMPLETED chunks as (shard, chunk_id, toks,
    n_tokens == chunk_tokens) rows and persist the new partial tail.

    ``batch`` carries (id, shard, token array) rows — the assembler
    derives counts from the arrays, so geometry and text can never
    disagree.  Emitted chunk ids are ABSOLUTE (continuations of every
    earlier batch); a chunk that straddles batches is emitted exactly
    once, by the batch that completes it.  The shard's unfilled last
    chunk is NEVER emitted — it lives in the state row's tail until
    full, so downstream training data contains only fixed-size examples.

    Write order (same contract as pack_batch): chunks BEFORE state — a
    crash between the writes makes the retry re-emit identical chunk
    rows (dedupable on (shard, chunk_id)), never wrong ones, because the
    retry's base and tail come from strictly-earlier batch_ids on every
    attempt.
    """
    with _writer_mark(spark, state_dir):
        docs = batch.select(
            F.col(shard_col).alias("shard"),
            _order_key(id_col).alias("__oid"),
            F.col(toks_col).alias("toks"),
        ).filter(F.size("toks") > 0)

        state = read_state(spark, state_dir, before_batch_id=batch_id)
        if state is not None:
            tails = state.filter(F.size("toks") > 0).select(
                "shard",
                F.lit(_TAIL_SENTINEL).cast("bigint").alias("__oid"),
                "toks",
            )
            # re-pack base = first position of the shard's UNFILLED
            # chunk: tokens packed so far minus the tail (which re-packs)
            repack = state.select(
                "shard", (F.col("base") - F.size("toks")).alias("base")
            )
            docs = tails.unionByName(docs).join(
                F.broadcast(repack), "shard", "left"
            )
        else:
            docs = docs.withColumn("base", F.lit(0).cast("bigint"))

        # FUSED geometry+assembly (r15): one evaluation of the batch (whose
        # toks column may be a COMPUTED tokenize projection), one
        # exchange, output identical to concat_and_chunk -> join ->
        # assemble_chunks (parity pytest-pinned).  The tail sentinel id
        # repeats across shards, which is fine here: the window keys on
        # (shard, __oid), so each shard's sentinel row orders first
        # within its own shard only.
        asm = persist_df(
            assemble_chunks_fused(
                docs,
                chunk_tokens,
                id_col="__oid",
                shard_col="shard",
                base_col="base",
            )
        )
        try:
            complete = asm.filter(F.col("n_tokens") == chunk_tokens)
            _write_output(complete, out_dir, batch_id, exactly_once)

            # new state = ONE aggregation over the PERSISTED assembly (no
            # second evaluation of the batch): every touched shard emits
            # >= 1 assembly row (docs are pre-filtered to size > 0), its
            # last chunk ends at the shard's absolute token count — the
            # new base — and its (single) incomplete chunk is the new
            # tail.  collect_list skips the NULLs the when() emits for
            # complete chunks, so a shard with a partial yields [that
            # array] and flatten unwraps it; a shard ending exactly on a
            # boundary yields [] and flatten keeps it as an EMPTY tail
            # (skipping the row would resurrect the pre-batch tail on the
            # next read) — in the batch's own element type, because the
            # arrays come from the assembly itself (integer token-id
            # streams included).  A chunk-aligned re-pack base leaves at
            # most ONE partial per shard; two mean the state store is
            # corrupt (a non-aligned base splits the first chunk too),
            # and flatten would silently merge them into one tail — fail
            # loudly instead, naming the shard.
            partial = F.col("n_tokens") < chunk_tokens
            new_state = (
                asm.groupBy("shard")
                .agg(
                    F.max(
                        F.col("chunk_id") * chunk_tokens + F.col("n_tokens")
                    ).alias("base"),
                    F.flatten(
                        F.collect_list(F.when(partial, F.col("toks")))
                    ).alias("toks"),
                    F.count(F.when(partial, 1)).alias("__partials"),
                )
                .select(
                    "shard",
                    F.lit(batch_id).cast("bigint").alias("batch_id"),
                    "base",
                    F.when(
                        F.col("__partials") > 1,
                        F.raise_error(
                            F.concat(
                                F.lit("assemble_batch: shard "),
                                F.col("shard").cast("string"),
                                F.lit(" has "),
                                F.col("__partials").cast("string"),
                                F.lit(
                                    " partial chunks (at most one "
                                    "expected) — base not chunk-aligned, "
                                    "state corrupted"
                                ),
                            )
                        ),
                    )
                    .otherwise(F.col("toks"))
                    .alias("toks"),
                )
            )
            # O(shards) rows: one file per batch append (see pack_batch)
            new_state.coalesce(1).write.mode("append").parquet(
                _shards_path(state_dir)
            )
        finally:
            asm.unpersist()


def streaming_assembly_writer(
    stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    chunk_tokens: int,
    **batch_kwargs,
):
    """Wire ``assemble_batch`` as a foreachBatch sink over a STREAMING
    documents frame; returns the DataStreamWriter (caller picks the
    trigger and calls .start())."""
    return _foreach_batch_writer(
        assemble_batch,
        stream,
        state_dir,
        out_dir,
        checkpoint_dir,
        chunk_tokens,
        **batch_kwargs,
    )


#: Compacted state rows carry this batch_id: strictly smaller than every
#: real foreachBatch id (they start at 0), so the strictly-earlier-
#: batch_id retry rule reads compacted history exactly like the original
#: rows it replaced.
_COMPACT_SENTINEL = -1


def compact_state(
    spark: SparkSession,
    state_dir: str,
    before_batch_id: int | None = None,
    checkpoint_dir: str | None = None,
    force: bool = False,
) -> None:
    """Fold the ``shards`` store's rows with ``batch_id < before_batch_id``
    into one sentinel row per shard — the maintenance pass §20 prices:
    the store is append-only (one parquet footer per batch), so after
    thousands of batches the per-batch read pays a file-count tax;
    compaction resets it without touching semantics.

    The store is latest-wins, so the fold is the same for every column:
    each shard's latest row below the cut survives, re-tagged
    ``batch_id = -1``; rows at or above the cut are kept as they are
    and keep winning by batch_id order.  The sentinel sorts strictly
    below every real batch id, so ``read_state(..., before_batch_id=N)``
    sees exactly the values the replaced rows produced — pytest-pinned
    by continuing a stream across a compaction and comparing against
    the uncompacted run.

    MUST run while the stream is STOPPED (between runs, or from a
    maintenance window) — the swap is not atomic against a concurrent
    append.  That precondition is now ENFORCED, not just documented
    (VERDICT r11 item 3): compaction takes a ``_COMPACTION_IN_PROGRESS``
    lock that makes a racing ``pack_batch``/``assemble_batch`` raise,
    and itself raises if a ``_WRITER_ACTIVE`` mark is present (a live —
    or crashed mid-batch — writer; pass ``force=True`` only after
    confirming the stream is stopped).  See streaming/state.py's lock
    protocol note for why at least one side always loses loudly.

    ``before_batch_id`` must not exceed the stream's last COMMITTED
    batch id + 1 (ADVICE r11 medium): a batch whose foreachBatch ran but
    whose checkpoint commit didn't land is still pending REDELIVERY, and
    folding its row into the ``batch_id = -1`` sentinel would put it
    below the strictly-earlier filter — the redelivered batch would pack
    at ``base + its own tokens``, the exact silent-offset corruption the
    strictly-earlier rule exists to prevent.  Pass ``checkpoint_dir``
    (the stream's checkpointLocation) and the bound is read from its
    ``commits/`` log and enforced here; without it the caller owns the
    bound.  ``before_batch_id=None`` requires ``checkpoint_dir`` and
    compacts exactly the committed prefix (last committed + 1) — the
    maintenance-window call is then just
    ``compact_state(spark, state_dir, checkpoint_dir=ckpt)``.

    All filesystem ops go through the Hadoop FileSystem API,
    so the swap works on hdfs://, s3a://... state dirs, not just the
    driver's local disk.  Crash-safety: the compacted store is fully
    written to ``<path>.compacting`` (Spark write, ``_SUCCESS``-marked)
    BEFORE the original is deleted; a crash between the delete and the
    final rename leaves the staging dir in place, re-running
    ``compact_state`` completes the rename first, and until it does
    ``read_state`` RAISES on the missing-main-with-staging state instead
    of silently treating it as first-batch."""
    if before_batch_id is None:
        if checkpoint_dir is None:
            raise ValueError(
                "compact_state: before_batch_id=None needs "
                "checkpoint_dir to derive the committed prefix"
            )
        last = last_committed_batch_id(spark, checkpoint_dir)
        before_batch_id = (last if last is not None else -1) + 1
    elif checkpoint_dir is not None:
        last = last_committed_batch_id(spark, checkpoint_dir)
        bound = (last if last is not None else -1) + 1
        if before_batch_id > bound:
            raise ValueError(
                f"compact_state: before_batch_id={before_batch_id} "
                f"exceeds last committed batch id {last} + 1 — batches "
                "without a commit marker are still pending redelivery "
                "and must not fold into the sentinel row (their retry "
                "would pack at base + its own tokens)"
            )

    if before_batch_id <= _COMPACT_SENTINEL + 1:
        return

    path = _shards_path(state_dir)
    begin_compaction(spark, state_dir, force=force)
    try:
        recover_interrupted_swap(spark, path)
        store = read_state_or_none(spark, path)
        if store is not None:
            old = read_state(spark, state_dir, before_batch_id).withColumn(
                "batch_id", F.lit(_COMPACT_SENTINEL).cast("bigint")
            )
            keep = store.filter(F.col("batch_id") >= F.lit(before_batch_id))
            # the swap DELETES the input's files before the rename, so
            # the compacted frame must be fully materialized first —
            # collect() is bounded: one row per (shard, surviving batch)
            rows = old.unionByName(keep).select(store.columns).collect()
            swap_in_frame(
                spark, spark.createDataFrame(rows, store.schema), path
            )
    finally:
        end_compaction(spark, state_dir)
