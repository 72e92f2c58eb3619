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
(the carry).  Each microbatch: (1) read the per-shard carry from the
parquet state store, (2) run the SAME window arithmetic with the carry
as the base offset (``concat_and_chunk(base_col=...)``), (3) append the
emitted slice geometry to the output and the batch's per-shard token
totals to the state.  No state store provider, no watermark: the state
is O(shards) rows of plain parquet.

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
positions that earlier batches already assigned — the carry makes
position assignment append-only by construction, so a late document
simply packs at the CURRENT end of its shard's stream (its id plays no
role in its position; determinism then rests on arrival order, the same
caveat as any at-ingest operator).

Retry contract (pinned by tests/test_streaming_packing.py): a retried
batch packs at the SAME base on every attempt, because the base is the
carry summed over STRICTLY EARLIER batch_ids — a batch's own carry row
(appended by a first attempt that crashed before the checkpoint commit)
can never feed back into its base.  Retries therefore re-emit
position-identical geometry rows (duplicates on the key columns,
dedupable downstream), never WRONG positions; the state append carries
``batch_id`` so a retried batch's carry re-append collapses rather than
double-counts.  ``exactly_once=True`` goes further: the batch's
output writes to ``out_dir/batch=<id>`` with OVERWRITE, so a retry
replaces its own directory and the stream carries no duplicates at
all (plain parquet, no transactional format needed); the default
append mode's failure envelope stays duplicate rows, never corrupt
offsets.

Incremental ASSEMBLY (``assemble_batch`` /
``streaming_assembly_writer``) is the trainer-facing sibling: complete
chunk TEXT at ingest.  Extra state beyond the carry is one
partial-chunk TAIL per shard (< chunk_tokens tokens, latest-batch-wins
parquet rows); each batch re-packs [tail + new docs] from the last
chunk boundary and emits ONLY chunks that completed — fixed-size
training examples by construction, straddling chunks emitted exactly
once by the batch that completes them.  Same strictly-earlier-batch_id
retry rule on both stores; same chunks-before-state write order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.operators.packing import concat_and_chunk
from bigdatastructure_a5_spark.streaming.state import join_path


def _carry_path(state_dir: str) -> str:
    # join_path, not pathlib: state dirs are Spark paths (hdfs://,
    # s3a://...) whose double slash pathlib would mangle
    return join_path(state_dir, "carry")


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


def read_carry(
    spark: SparkSession,
    state_dir: str,
    before_batch_id: int | None = None,
) -> DataFrame | None:
    """Current per-shard carry: ``(shard, base)`` — the sum of every
    batch's appended token totals, deduplicated by (shard, batch_id) so
    a retried batch's re-append replaces rather than double-counts.

    ``before_batch_id`` restricts the sum to batches STRICTLY EARLIER —
    the retry-safety keystone: batch N's base must be the same number on
    every attempt, so it can never include batch N's own carry row.
    Without the filter, a batch redelivered AFTER its first attempt
    appended the carry (crash between foreachBatch return and checkpoint
    commit) would pack at ``base + its own tokens`` — geometry at
    positions overlapping the NEXT batch's chunks, silent stream
    corruption (ADVICE r10 high).  ``pack_batch`` always passes it;
    ``None`` (sum everything) is the read-the-final-state query shape.

    The first-batch probe is a Spark-side read attempt, NOT a local
    ``Path.exists()``: the state dir is a Spark path (hdfs://, s3://...)
    that the driver's local filesystem cannot see — a local probe would
    return False forever on a cluster and every batch would silently
    pack from base 0 (overlapping chunk ids, corrupted offsets).  Only
    PATH_NOT_FOUND means "first batch"; any other analysis failure
    (empty-but-existing dir, schema drift) re-raises — see
    streaming/state.py."""
    from bigdatastructure_a5_spark.streaming.state import read_state_or_none

    rows = read_state_or_none(spark, _carry_path(state_dir))
    if rows is None:
        _guard_interrupted_compaction(spark, _carry_path(state_dir))
        return None
    if before_batch_id is not None:
        rows = rows.filter(F.col("batch_id") < F.lit(int(before_batch_id)))
    # last write wins per (shard, batch_id): retries re-append the same
    # totals; max() collapses them (totals for a given batch are
    # deterministic, so any copy is the right one)
    per_batch = rows.groupBy("shard", "batch_id").agg(
        F.max("added").alias("added")
    )
    return per_batch.groupBy("shard").agg(F.sum("added").alias("base"))


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
    one window partition AND one global carry; shard first, always).

    ``batch_id`` is REQUIRED and must be unique per distinct batch (the
    streaming writer passes foreachBatch's): the carry store dedups on
    (shard, batch_id) to absorb retries, so two DIFFERENT batches
    sharing an id would collapse to one carry entry — later batches
    would pack at stale offsets, silently overlapping already-emitted
    chunks.  A backfill loop must number its batches.
    """
    from bigdatastructure_a5_spark.streaming.state import (
        acquire_writer_mark,
        release_writer_mark,
    )

    # writer mark: excludes a concurrent compact_state (whose
    # delete+rename swap would silently drop this batch's appends) —
    # raises if a compaction is in flight (VERDICT r11 item 3)
    acquire_writer_mark(spark, state_dir)
    try:
        _pack_batch_body(
            spark,
            batch,
            state_dir,
            out_dir,
            chunk_tokens,
            batch_id,
            n_tokens_col,
            id_col,
            shard_col,
            exactly_once,
        )
    finally:
        release_writer_mark(spark, state_dir)


def _pack_batch_body(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    out_dir: str,
    chunk_tokens: int,
    batch_id: int,
    n_tokens_col: str,
    id_col: str,
    shard_col: str,
    exactly_once: bool,
) -> None:
    # strictly-earlier batches only: the base is then a pure function of
    # batch_id, identical on every retry attempt regardless of whether
    # the first attempt already appended this batch's carry row
    carry = read_carry(spark, state_dir, before_batch_id=batch_id)
    if carry is not None:
        withbase = batch.join(
            F.broadcast(carry.withColumnRenamed("shard", shard_col)),
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
    # geometry BEFORE carry — the crash-ordering twin of streaming/
    # dedup.py's shingles-before-bands: a crash between the two appends
    # then leaves geometry without its carry update, and the retry
    # re-packs the batch at the SAME base — duplicate geometry rows
    # (same values, dedupable on key columns), never WRONG positions.
    # Carry-first would shift the retried batch by its own tokens and
    # corrupt every subsequent offset silently.
    _write_output(geo, out_dir, batch_id, exactly_once)

    n = F.col(n_tokens_col).cast("bigint")
    added = (
        batch.filter(n > 0)
        .groupBy(shard_col)
        .agg(F.sum(n).alias("added"))
        .select(
            F.col(shard_col).alias("shard"),
            F.lit(batch_id).cast("bigint").alias("batch_id"),
            "added",
        )
    )
    # O(shards) rows: one file per batch append (write-task count and
    # the later read's file-count tax both drop)
    added.coalesce(1).write.mode("append").parquet(_carry_path(state_dir))


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

    def body(batch: DataFrame, batch_id: int) -> None:
        pack_batch(
            batch.sparkSession,
            batch,
            state_dir,
            out_dir,
            chunk_tokens,
            batch_id=batch_id,
            **batch_kwargs,
        )

    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


# ---------------------------------------------------------------------------
# Incremental ASSEMBLY: complete chunk TEXT at ingest (geometry's trainer-
# facing sibling).  The extra cross-batch state beyond the carry is one
# PARTIAL-CHUNK TAIL per shard: the (< chunk_tokens) tokens of the shard's
# unfilled last chunk.  Each batch re-packs [tail + new docs] from the
# last chunk boundary, emits every chunk that COMPLETED (exactly
# chunk_tokens tokens — complete chunks are final and never move, because
# positions are append-only), and stores the new tail.  Retry-safe by the
# same strictly-earlier-batch_id rule as the carry.
# ---------------------------------------------------------------------------

#: Synthetic order key for the carried tail "document" — sorts before any
#: real id, so the tail replays at the exact stream positions it owns.
_TAIL_SENTINEL = -(1 << 62)


def _tails_path(state_dir: str) -> str:
    return join_path(state_dir, "tails")


def read_tails(
    spark: SparkSession,
    state_dir: str,
    before_batch_id: int | None = None,
) -> DataFrame | None:
    """Latest per-shard partial-chunk tail: ``(shard, toks)`` from the row
    with the highest batch_id strictly below ``before_batch_id`` (tails
    REPLACE per batch, unlike the summed carry).  None before the first
    assembled batch; PATH_NOT_FOUND-only probe like read_carry."""
    from pyspark.sql import Window

    from bigdatastructure_a5_spark.streaming.state import read_state_or_none

    rows = read_state_or_none(spark, _tails_path(state_dir))
    if rows is None:
        _guard_interrupted_compaction(spark, _tails_path(state_dir))
        return None
    if before_batch_id is not None:
        rows = rows.filter(F.col("batch_id") < F.lit(int(before_batch_id)))
    w = Window.partitionBy("shard").orderBy(F.col("batch_id").desc())
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("shard", "toks")
    )


#: Optimizer-estimated batch bytes above which the carry delta is DERIVED
#: from the persisted assembly (sum of chunk n_tokens minus the re-packed
#: tail length) instead of re-aggregating the raw batch.  Re-aggregation
#: re-evaluates the batch source — for a real ingest that means re-reading
#: and RE-TOKENIZING every document in the micro-batch just to size() its
#: token array (the same waste class the touched-shards read fixed in r14).
#: The derivation is O(shards) on already-cached data but costs two extra
#: tiny jobs (asm aggregate + tail-length join), measured ~0.2s/batch on
#: local[32] — cheaper than the re-scan only once the batch is large, so
#: the cutover derives from the batch's own size estimate (guide §2:
#: scale-adaptive, not box-tuned).  Both paths write bit-identical carry
#: rows (parity-pinned: test_assembly_carry_rows_match_raw_batch_totals).
DERIVE_CARRY_MIN_BYTES = 256 * 1024 * 1024


def _carry_from_assembly(batch: DataFrame, override: bool | None) -> bool:
    """Pick the carry-delta strategy for this batch (see
    DERIVE_CARRY_MIN_BYTES).  Unknown estimates — including Catalyst's
    ~2^63 unknown sentinel — take the raw-aggregation path: it is always
    correct and cheapest at the small end, so never guess 'large'."""
    if override is not None:
        return override
    try:
        size = int(
            batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return False
    return 0 < size < (1 << 62) and size >= DERIVE_CARRY_MIN_BYTES


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
    carry_from_assembly: bool | None = None,
) -> None:
    """One microbatch of the incremental ASSEMBLER (foreachBatch body):
    emit the batch's COMPLETED chunks as (shard, chunk_id, toks,
    n_tokens == chunk_tokens) rows and persist the new partial tail.

    ``batch`` carries (id, shard, token array) rows — the assembler
    derives counts from the arrays, so geometry and text can never
    disagree.  Emitted chunk ids are ABSOLUTE (continuations of every
    earlier batch); a chunk that straddles batches is emitted exactly
    once, by the batch that completes it.  The shard's unfilled last
    chunk is NEVER emitted — it lives in the tail store until full,
    so downstream training data contains only fixed-size examples.

    Write order (same contract as pack_batch): chunks BEFORE state
    (tail, then carry) — a crash between the writes makes the retry
    re-emit identical chunk rows (dedupable on (shard, chunk_id)),
    never wrong ones, because the retry's base and tail come from
    strictly-earlier batch_ids on every attempt.
    """
    from bigdatastructure_a5_spark.streaming.state import (
        acquire_writer_mark,
        release_writer_mark,
    )

    # writer mark: same concurrent-compaction exclusion as pack_batch
    acquire_writer_mark(spark, state_dir)
    try:
        _assemble_batch_body(
            spark,
            batch,
            state_dir,
            out_dir,
            chunk_tokens,
            batch_id,
            toks_col,
            id_col,
            shard_col,
            exactly_once,
            carry_from_assembly,
        )
    finally:
        release_writer_mark(spark, state_dir)


def _assemble_batch_body(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    out_dir: str,
    chunk_tokens: int,
    batch_id: int,
    toks_col: str,
    id_col: str,
    shard_col: str,
    exactly_once: bool,
    carry_from_assembly: bool | None = None,
) -> None:
    derive_carry = _carry_from_assembly(batch, carry_from_assembly)

    n = F.size(F.col(toks_col))
    # the order key must cast to bigint to union with the tail sentinel;
    # a non-numeric string id would silently cast to NULL, tying every
    # doc on one NULL order key — nondeterministic chunk CONTENT across
    # retries, violating the byte-identical-retry contract.  Fail loudly
    # at the first such id instead (ADVICE r11 medium); raise_error lives
    # INSIDE the order-key expression so column pruning cannot drop it.
    # try_cast, not cast: under ANSI (the Spark 4 default) a plain cast
    # would throw CAST_INVALID_INPUT with no operator context before the
    # guard runs; try_cast yields NULL in both ANSI modes, so the clear
    # message below fires deterministically
    casted = F.col(id_col).try_cast("bigint")
    # NULL ids are the same hazard as uncastable ones (every NULL row
    # would collapse onto one NULL order key) — the guard fires for both,
    # with distinct messages (ADVICE r12 low: the original condition
    # isNotNull() & casted.isNull() let NULLs slip past)
    oid = (
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
    docs = batch.select(
        F.col(shard_col).alias("shard"),
        oid.alias("__oid"),
        F.col(toks_col).alias("toks"),
    ).filter(n > 0)

    carry = read_carry(spark, state_dir, before_batch_id=batch_id)
    tails = read_tails(spark, state_dir, before_batch_id=batch_id)
    tail_len = None
    if tails is not None:
        tail_docs = tails.filter(F.size("toks") > 0).select(
            "shard",
            F.lit(_TAIL_SENTINEL).cast("bigint").alias("__oid"),
            "toks",
        )
        docs = tail_docs.unionByName(docs)
        # per-shard tail length (empty tails count 0, consistent with
        # tail_docs dropping them); on the derived-carry path it feeds
        # two separate jobs (carry base + carry delta), so persist it
        # there — the row_number window inside read_tails would
        # otherwise re-shuffle the store once per use
        tail_len = tails.select(
            "shard", F.size("toks").cast("bigint").alias("__tl")
        )
        if derive_carry:
            from bigdatastructure_a5_spark.session import persist_df as _p

            tail_len = _p(tail_len)
            # from here on EVERY exit must unpersist tail_len — the
            # try below starts immediately so an analysis error in
            # concat_and_chunk/assemble_chunks/persist_df(asm) cannot
            # leak the cached frame for the session (ADVICE r14 low)
    _tail_persisted = derive_carry and tail_len is not None
    try:
        _assemble_batch_tail(
            spark,
            docs,
            carry,
            tail_len,
            state_dir,
            out_dir,
            chunk_tokens,
            batch_id,
            toks_col,
            shard_col,
            exactly_once,
            derive_carry,
            batch,
        )
    finally:
        if _tail_persisted:
            tail_len.unpersist()


def _assemble_batch_tail(
    spark: SparkSession,
    docs: DataFrame,
    carry: DataFrame | None,
    tail_len: DataFrame | None,
    state_dir: str,
    out_dir: str,
    chunk_tokens: int,
    batch_id: int,
    toks_col: str,
    shard_col: str,
    exactly_once: bool,
    derive_carry: bool,
    batch: DataFrame,
) -> None:
    """The assembly body downstream of the tail_len persist point —
    split out so the caller's try/finally covers every statement that
    could raise after the persist (ADVICE r14 low: the cached tail_len
    leaked on an exception before the old inner try)."""
    from bigdatastructure_a5_spark.operators.packing import (
        assemble_chunks_fused,
    )

    combined = docs.withColumn(
        "n_tokens", F.size("toks").cast("bigint")
    )
    if carry is not None:
        # base = first position of the shard's UNFILLED chunk: tokens
        # packed so far minus the tail's length (the tail re-packs)
        base = carry.withColumnRenamed("base", "__packed")
        if tail_len is not None:
            base = base.join(tail_len, "shard", "left")
        else:
            base = base.withColumn("__tl", F.lit(0).cast("bigint"))
        base = base.select(
            "shard",
            (
                F.col("__packed")
                - F.coalesce("__tl", F.lit(0).cast("bigint"))
            ).alias("base"),
        )
        combined = combined.join(F.broadcast(base), "shard", "left")
    else:
        combined = combined.withColumn("base", F.lit(0).cast("bigint"))

    # FUSED geometry+assembly (r15): the old concat_and_chunk -> join ->
    # assemble_chunks shape evaluated `combined` twice (count projection
    # for the window + token side of the join) — for a streaming batch
    # whose toks column is a COMPUTED projection, that re-tokenized every
    # document a second time per batch, and the join added exchanges.
    # assemble_chunks_fused windows the token frame itself: one
    # evaluation, one exchange, provably identical output (parity
    # pytest-pinned).  The tail sentinel id repeats across shards, which
    # is fine here: the window keys on (shard, __oid), so each shard's
    # sentinel row orders first within its own shard only.
    asm = assemble_chunks_fused(
        combined.select("shard", "__oid", "toks", "base"),
        chunk_tokens,
        id_col="__oid",
        shard_col="shard",
        base_col="base",
    )
    from bigdatastructure_a5_spark.session import persist_df

    asm = persist_df(asm)
    try:
        complete = asm.filter(F.col("n_tokens") == chunk_tokens)
        _write_output(complete, out_dir, batch_id, exactly_once)

        # new tail = the shard's (single) incomplete last chunk; shards
        # ending exactly on a boundary store an EMPTY tail row — skipping
        # the write would resurrect the pre-batch tail on the next read.
        # Touched shards come from the PERSISTED assembly, not the raw
        # combined input: every touched shard emits >= 1 assembly row
        # (complete chunks, or the under-full partial — combined rows
        # are pre-filtered to n_tokens > 0, so a touched shard always
        # packs something), and reading the persisted frame avoids
        # re-evaluating the whole batch input a second time (r14).
        # ONE aggregation over the cached assembly (r15; was a
        # distinct + left join + coalesce — two extra operators per
        # batch): collect_list skips the NULLs the when() emits for
        # complete chunks, so a shard with a partial yields [that
        # array] and flatten unwraps it; a shard ending exactly on a
        # boundary yields [] and flatten keeps it the empty tail row —
        # in the batch's own element type, because the arrays come
        # from the assembly itself (integer token-id streams included).
        # A chunk-aligned base leaves at most ONE partial per shard; two
        # mean the carry/tails stores are corrupt (a non-aligned base
        # splits the first chunk too), and flatten would silently merge
        # them into one tail — fail loudly instead, naming the shard.
        partial = F.col("n_tokens") < chunk_tokens
        new_tails = (
            asm.groupBy("shard")
            .agg(
                F.flatten(
                    F.collect_list(F.when(partial, F.col("toks")))
                ).alias("toks"),
                F.count(F.when(partial, 1)).alias("__partials"),
            )
            .select(
                "shard",
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                F.when(
                    F.col("__partials") > 1,
                    F.raise_error(
                        F.concat(
                            F.lit("assemble_batch: shard "),
                            F.col("shard").cast("string"),
                            F.lit(" has "),
                            F.col("__partials").cast("string"),
                            F.lit(
                                " partial chunks (at most one expected) "
                                "— carry base not chunk-aligned, state "
                                "corrupted"
                            ),
                        )
                    ),
                )
                .otherwise(F.col("toks"))
                .alias("toks"),
            )
        )
        # O(shards) rows: one output file, not one per shuffle partition
        # — fewer write tasks now and fewer files for every later
        # read_tails (the §21 file-count tax grows per batch)
        new_tails.coalesce(1).write.mode("append").parquet(
            _tails_path(state_dir)
        )

        if derive_carry:
            # LARGE batch (see DERIVE_CARRY_MIN_BYTES): carry delta from
            # the PERSISTED assembly, not a second evaluation of the raw
            # batch.  sum(asm.n_tokens) per shard is tail_len + this
            # batch's tokens by construction (concat_and_chunk slices
            # cover every combined token exactly once), so subtracting
            # the tail length recovers exactly the batch's own per-shard
            # totals (guide §1.2: don't recompute the expensive subtree).
            # `added > 0` keeps the carry row set bit-identical to the
            # raw-batch aggregation: a shard whose only activity was its
            # re-packed tail contributed no new tokens and never wrote a
            # carry row.
            packed_now = asm.groupBy("shard").agg(
                F.sum("n_tokens").cast("bigint").alias("__packed_now")
            )
            if tail_len is not None:
                packed_now = packed_now.join(tail_len, "shard", "left")
            else:
                packed_now = packed_now.withColumn(
                    "__tl", F.lit(0).cast("bigint")
                )
            delta = F.col("__packed_now") - F.coalesce(
                "__tl", F.lit(0).cast("bigint")
            )
            # a NEGATIVE delta (sum(asm.n_tokens) < tail length) means
            # the assembly lost tokens — accounting corruption; fail
            # loudly like the module's other corruption classes instead
            # of silently dropping the carry row (ADVICE r14 low).  The
            # > 0 filter below keeps only the legitimate zero case out.
            checked = F.when(
                delta < 0,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "assemble_batch: negative carry delta for "
                            "shard "
                        ),
                        F.col("shard").cast("string"),
                        F.lit(
                            " (assembled tokens < carried tail length) "
                            "— token accounting corrupted"
                        ),
                    )
                ).cast("bigint"),
            ).otherwise(delta)
            added = packed_now.select(
                "shard",
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                checked.alias("added"),
            ).filter(F.col("added") > 0)
        else:
            # SMALL batch: one aggregation over the raw batch is cheaper
            # than the assembly-derived jobs (measured — the derived
            # path's extra agg+join round trips beat a tiny re-scan only
            # once the batch outgrows them)
            added = (
                batch.select(
                    F.col(shard_col).alias("shard"),
                    F.size(F.col(toks_col)).cast("bigint").alias("n"),
                )
                .filter(F.col("n") > 0)
                .groupBy("shard")
                .agg(F.sum("n").alias("added"))
                .select(
                    "shard",
                    F.lit(batch_id).cast("bigint").alias("batch_id"),
                    "added",
                )
            )
        # O(shards) rows: one file per batch append (see pack_batch)
        added.coalesce(1).write.mode("append").parquet(
            _carry_path(state_dir)
        )
    finally:
        # tail_len's unpersist is owned by _assemble_batch_body's outer
        # try/finally (which also covers exceptions BEFORE this point)
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

    def body(batch: DataFrame, batch_id: int) -> None:
        assemble_batch(
            batch.sparkSession,
            batch,
            state_dir,
            out_dir,
            chunk_tokens,
            batch_id=batch_id,
            **batch_kwargs,
        )

    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
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
    """Fold state rows with ``batch_id < before_batch_id`` into one
    sentinel row per shard — the maintenance pass §20 prices: the stores
    are append-only (one parquet footer per batch), so after thousands
    of batches the per-batch read pays a file-count tax; compaction
    resets it without touching semantics.

    - carry: earlier rows sum (after per-(shard, batch_id) max dedup)
      into a single ``batch_id = -1`` row per shard;
    - tails: only the LATEST earlier row per shard survives, re-tagged
      ``batch_id = -1``; later rows keep winning by batch_id order.

    The sentinel sorts strictly below every real batch id, so
    ``read_carry(..., before_batch_id=N)`` and ``read_tails`` see
    exactly the values the replaced rows produced — pytest-pinned by
    continuing a stream across a compaction and comparing against the
    uncompacted run.

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
    folding its carry into the ``batch_id = -1`` sentinel would put it
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
    ``compact_state`` completes the rename first, and until it does the
    state readers RAISE on the missing-main-with-staging state instead
    of silently treating it as first-batch."""
    from pyspark.sql import Window

    from bigdatastructure_a5_spark.streaming.state import (
        begin_compaction,
        end_compaction,
        last_committed_batch_id,
        read_state_or_none,
        recover_interrupted_swap,
        swap_in_frame,
    )

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

    cut = F.lit(int(before_batch_id))
    sent = F.lit(_COMPACT_SENTINEL).cast("bigint")

    begin_compaction(spark, state_dir, force=force)
    try:
        for path in (_carry_path(state_dir), _tails_path(state_dir)):
            recover_interrupted_swap(spark, path)

        carry = read_state_or_none(spark, _carry_path(state_dir))
        if carry is not None:
            old_part = (
                carry.filter(F.col("batch_id") < cut)
                .groupBy("shard", "batch_id")
                .agg(F.max("added").alias("added"))
                .groupBy("shard")
                .agg(F.sum("added").alias("added"))
                .select("shard", sent.alias("batch_id"), "added")
            )
            keep = carry.filter(F.col("batch_id") >= cut).select(
                "shard", "batch_id", "added"
            )
            # the swap DELETES the input's files before the rename, so
            # the compacted frame must be fully materialized first —
            # collect() is bounded: one row per (shard, surviving batch)
            rows = old_part.unionByName(keep).collect()
            compacted = spark.createDataFrame(
                rows, "shard bigint, batch_id bigint, added bigint"
            )
            swap_in_frame(spark, compacted, _carry_path(state_dir))

        tails = read_state_or_none(spark, _tails_path(state_dir))
        if tails is not None:
            w = Window.partitionBy("shard").orderBy(F.col("batch_id").desc())
            old_part = (
                tails.filter(F.col("batch_id") < cut)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("shard", sent.alias("batch_id"), "toks")
            )
            keep = tails.filter(F.col("batch_id") >= cut).select(
                "shard", "batch_id", "toks"
            )
            toks_type = tails.schema["toks"].dataType.simpleString()
            rows = old_part.unionByName(keep).collect()
            compacted = spark.createDataFrame(
                rows, f"shard bigint, batch_id bigint, toks {toks_type}"
            )
            swap_in_frame(spark, compacted, _tails_path(state_dir))
    finally:
        end_compaction(spark, state_dir)


def _guard_interrupted_compaction(spark: SparkSession, path: str) -> None:
    """See streaming/state.guard_interrupted_compaction — for the packer
    the corruption would be packing from base 0 over real prior state
    (overlapping chunk ids)."""
    from bigdatastructure_a5_spark.streaming.state import (
        guard_interrupted_compaction,
    )

    guard_interrupted_compaction(spark, path)
