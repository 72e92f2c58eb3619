"""Incremental (streaming) deduplication: dedup-at-ingest against an
accumulating corpus.

Beyond reference scope (the reference has no streaming — SURVEY.md §1.1);
this is the streaming twin of ``operators.dedup.near_duplicates_minhash``,
the shape a crawl pipeline actually runs: documents arrive in batches for
months, and each batch must be deduplicated against EVERYTHING already
seen without ever re-scanning the corpus pair-wise.

Two tiers:

- ``streaming_exact_dedup``: content-hash exact dedup as a pure
  Structured Streaming operator (``dropDuplicatesWithinWatermark`` over
  md5(text) — state is hash-sized, watermark-evicted: the engine-native
  path when "seen recently" is an acceptable horizon).
- ``streaming_neardup_writer`` / ``process_batch``: near-dup dedup with
  UNBOUNDED horizon via ``foreachBatch``.  Executor-memory state cannot
  hold a corpus-lifetime index, so the state LIVES IN PARQUET — two
  append-only stores under ``state_dir``:

      bands/     (id, band, bhash)   — the LSH candidate-join keys
      shingles/  (id, shingles)      — for exact-Jaccard verification

  Each microbatch: (1) within-batch near-dup via the batch operators;
  (2) cross-batch candidates = batch band-keys JOIN stored bands on
  (band, bhash) — bucket-key equi-join, never all-pairs; (3) exact
  verify candidates against stored shingles (candidates-sized join);
  (4) append the batch's keys for BOTH kept and dropped docs to the
  stores.  Indexing dropped docs too is what makes the online result
  EXACTLY the offline one (see below), and it is also the safer
  semantic: a near-copy of an already-dropped page is still a duplicate.

Equivalence guarantee (pinned by tests/test_streaming_dedup.py): when
documents arrive in id order, the streamed keep-set equals the batch
rule "drop id_b of every near_duplicates_minhash pair" — for ANY batch
split, including everything-in-one-batch.  A new doc y is dropped iff
some earlier doc x (kept or dropped) has jaccard(x, y) >= threshold,
which is exactly the offline pair condition x < y.

100 TB notes: the band store grows one row per doc per band — at 10^10
docs x 32 bands x 24 B that is ~8 TB of plain parquet, scanned per batch
as a broadcast-or-shuffle equi-join on (band, bhash); partition the
store on ``pmod(bhash, K)`` (pass ``state_buckets``) so each microbatch
joins only matching buckets.  The shingle store is read candidates-only
via an id-equality join.  Checkpointing/exactly-once is foreachBatch's
contract: both appends are idempotent-enough under retry only if the
sink dir is per-batch-id committed; production should write batch-id
suffixed files or use a transactional table format on top.  The two
state appends are ordered shingles-then-bands so a crash between them
can only UNDER-index (repaired by the batch retry), never leave band
rows whose candidates the shingle verify join would silently drop
forever (see the step-4 comment in ``process_batch``).  Both stores are
append-only (one file set per batch x shuffle partition), so long
streams pay a FILE-COUNT tax per batch — ``compact_dedup_state``
(r12) rewrites each store as one DISTINCT, join-key-partitioned file
set between stream runs (EXPERIMENTS §21 measures the tax and the
reset: 2560 -> 64 files, 1.67x faster tail batches), guarded by the
same writer/compaction lock pair and staging-swap crash protocol as
the packer's state (streaming/state.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.operators.dedup import (
    band_keys,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_sets,
)
from bigdatastructure_a5_spark.session import ensure_min_partitions, persist_df


def streaming_exact_dedup(
    stream: DataFrame,
    time_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact content dedup on a STREAMING frame: first arrival within the
    watermark horizon wins, later identical texts are dropped by the
    engine's dedup state operator (state holds one 32-hex hash per
    distinct doc, evicted once the watermark passes it — bounded by the
    horizon, not the corpus)."""
    return (
        stream.withColumn("__h", F.md5(F.col(text_col)))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def _store_paths(state_dir: str) -> tuple[str, str]:
    # join_path, not pathlib: state dirs are Spark paths (hdfs://,
    # s3a://...) whose double slash pathlib would mangle — the same
    # rule as streaming/packing's stores
    from bigdatastructure_a5_spark.streaming.state import join_path

    return join_path(state_dir, "bands"), join_path(state_dir, "shingles")


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    state_buckets: int | None = None,
) -> None:
    """One microbatch of the incremental near-dup flow (the foreachBatch
    body, callable directly for batch-mode backfills and tests).

    Kept documents append to ``out_dir``; band/shingle keys of ALL batch
    documents (kept and dropped) append to ``state_dir`` — the invariant
    the equivalence guarantee rests on.  Documents too short to shingle
    (< shingle_n words) can match nothing and are kept verbatim."""
    from bigdatastructure_a5_spark.streaming.state import (
        acquire_writer_mark,
        release_writer_mark,
    )

    # writer mark: excludes a concurrent compact_dedup_state (whose
    # delete+rename swap would silently drop this batch's index appends
    # — permanently missed duplicates); see streaming/state.py
    acquire_writer_mark(spark, state_dir)
    try:
        _process_batch_body(
            spark,
            batch,
            state_dir,
            out_dir,
            id_col,
            text_col,
            threshold,
            num_hashes,
            bands,
            shingle_n,
            state_buckets,
        )
    finally:
        release_writer_mark(spark, state_dir)


def _process_batch_body(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    out_dir: str,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    state_buckets: int | None,
) -> None:
    bands_dir, shingles_dir = _store_paths(state_dir)
    rows_per_band = num_hashes // bands
    tracked: list = []

    # Spread the batch BEFORE the heavy per-row maps: a batch-mode
    # backfill hands this body a filter over a one-split parquet, and
    # without widening the tokenize -> shingle -> minhash chain (the
    # heaviest map work in the flow) runs as a SINGLE task — measured as
    # (0+1)/1 stages filling both persisted frames while 31 cores idle.
    # Size-proportional and clamped (ensure_min_partitions), so a real
    # streaming micro-batch that already arrives wide is untouched.
    shingled = persist_df(
        shingle_sets(
            ensure_min_partitions(batch), id_col, text_col, shingle_n
        )
    )
    tracked.append(shingled)
    sigs = minhash_signatures(shingled, num_hashes)
    # ONE persisted band-key frame for all three consumers: the
    # within-batch candidate self-join (both sides), the cross-batch
    # index join, and the step-4 state append.  Without it each consumer
    # re-derives the shingle -> minhash -> banding subtree — the
    # num_hashes-min aggregation is the heaviest per-row map in the
    # batch, and it was evaluated 3x per microbatch (r14 measurement:
    # the batch-2 ingest dominates dedup_retraction's wall).
    keys = persist_df(band_keys(sigs, bands, rows_per_band))
    tracked.append(keys)

    # (1) within-batch: the batch operator's own pair rule
    within = jaccard_pairs(
        shingled,
        threshold,
        candidates=lsh_candidate_pairs(
            sigs, bands, rows_per_band, tracker=tracked, banded_keys=keys
        ),
        tracker=tracked,
    ).select(F.col("id_b").alias("id"))

    # (2) + (3) cross-batch: stored bands -> candidates -> exact verify.
    # First-batch probe via a Spark-side read attempt, not a local
    # Path.exists(): on a cluster the state dir is an hdfs://'/s3:// path
    # the driver's filesystem cannot see — a local probe would stay False
    # forever and every batch would skip the cross-batch check (silently
    # missed duplicates).  Only PATH_NOT_FOUND means "first batch" —
    # any other analysis failure (empty-but-existing dir, schema drift)
    # re-raises rather than silently disabling cross-batch dedup forever
    # (streaming/state.py; ADVICE r10).
    from bigdatastructure_a5_spark.streaming.state import read_state_or_none

    cross = None
    stored_bands = read_state_or_none(spark, bands_dir)
    if stored_bands is None:
        # a missing store beside a completed .compacting staging dir is
        # an interrupted compaction, NOT a first batch: proceeding would
        # silently disable the cross-batch check over real prior state
        from bigdatastructure_a5_spark.streaming.state import (
            guard_interrupted_compaction,
        )

        for p in (bands_dir, shingles_dir):
            guard_interrupted_compaction(spark, p)
    if stored_bands is not None:
        if state_buckets is not None:
            # prune the store read to buckets the batch actually touches
            batch_buckets = [
                r.b
                for r in keys.select(
                    F.pmod(F.col("bhash"), F.lit(state_buckets)).alias("b")
                )
                .distinct()
                .collect()
            ]
            stored_bands = stored_bands.filter(
                F.col("bucket").isin(batch_buckets)
            )
        cands = (
            keys.join(
                stored_bands.select(
                    F.col("id").alias("id_a"), "band", "bhash"
                ),
                ["band", "bhash"],
            )
            .select("id_a", F.col("id").alias("id_b"))
            .distinct()
        )
        # the shingles store gets the same missing-store diagnosis as the
        # bands store (ADVICE r12 low): bands present + shingles missing
        # is a compaction interrupted mid-shingles-swap (guard names the
        # repair) or store corruption — either way a raw PATH_NOT_FOUND
        # would lose the designed diagnostic
        stored_sh = read_state_or_none(spark, shingles_dir)
        if stored_sh is None:
            from bigdatastructure_a5_spark.streaming.state import (
                guard_interrupted_compaction,
            )

            guard_interrupted_compaction(spark, shingles_dir)
            raise RuntimeError(
                f"dedup state at {state_dir} has a bands store but no "
                f"shingles store ({shingles_dir} missing, no staging "
                "dir): the candidate-verify join cannot run — the store "
                "pair is corrupt; restore the shingles store or rebuild "
                "the index"
            )
        stored_sh = stored_sh.select(
            F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")
        )
        batch_sh = shingled.select(
            F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        cross = (
            cands.join(stored_sh, "id_a")
            .join(batch_sh, "id_b")
            .filter(
                inter.cast("double") / union.cast("double")
                >= F.lit(threshold)
            )
            .select(F.col("id_b").alias("id"))
        )

    dropped = within if cross is None else within.union(cross)
    dropped = persist_df(dropped.distinct())
    tracked.append(dropped)
    kept = batch.join(
        dropped.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    kept.write.mode("append").parquet(out_dir)

    # (4) append ALL batch docs' keys — kept and dropped (see docstring).
    # Order matters for crash-safety: SHINGLES FIRST.  A band row whose
    # shingle row is missing produces candidates that the inner join to
    # stored shingles silently discards on EVERY later batch — a
    # permanently missed duplicate with no error.  A shingle row whose
    # band row is missing merely under-indexes (the doc generates no
    # candidates, same observable state as the batch never having been
    # indexed), which the foreachBatch retry repairs by re-appending.
    # zstd on the state appends, matching the compaction rewrites
    # (streaming/state.swap_in_frame — measured -19% bytes and faster
    # warm writes on these hash-heavy rows); store bytes are paid again
    # by every later batch's candidate/verify reads
    shingled.write.mode("append").option("compression", "zstd").parquet(
        shingles_dir
    )
    keys_out = keys
    if state_buckets is not None:
        keys_out = keys_out.withColumn(
            "bucket", F.pmod(F.col("bhash"), F.lit(state_buckets))
        )
    writer = keys_out.write.mode("append").option("compression", "zstd")
    if state_buckets is not None:
        writer = writer.partitionBy("bucket")
    writer.parquet(bands_dir)
    for df in tracked:
        df.unpersist()


def streaming_neardup_writer(
    stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    **batch_kwargs,
):
    """Wire ``process_batch`` as a foreachBatch sink over a STREAMING
    documents frame; returns the DataStreamWriter (caller picks the
    trigger and calls .start())."""

    def body(batch: DataFrame, batch_id: int) -> None:
        process_batch(
            batch.sparkSession, batch, state_dir, out_dir, **batch_kwargs
        )

    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


#: Parquet bytes per partition of a store REWRITE.  The stores are
#: narrow rows of RANDOM 64-bit hashes — parquet can't encode them away,
#: yet they still decode to several times their on-disk size once in
#: UnsafeRow + aggregate-hash-map form, so the on-disk target must be
#: SMALL for the DISTINCT state to fit a task's execution-memory share.
#: Measured on the §22 rung-4 store (164M band rows, 1.84 GB on disk,
#: 32-thread/8g driver): the identical rewrite takes 253s at 32
#: partitions (deep spill), 56s at 128, 142s at 512 (tiny-task +
#: per-task dynamic-partition-writer overhead) — 16 MiB lands the
#: partition count at the measured sweet spot and scales linearly past
#: it.
_REWRITE_PARTITION_BYTES = 16 << 20


def _rewrite_partitions(spark: SparkSession, path: str) -> int:
    """Partition count for a compaction rewrite of the store at
    ``path``: the parallelism floor (below it a tiny DISTINCT would
    AQE-coalesce to one file — the §21 finding), scaled UP with on-disk
    bytes.  Pinning rewrites at defaultParallelism looked linear until
    EXPERIMENTS §22's 164M-band-row rung jumped ~10x per 4x docs: each
    task's DISTINCT state outgrew its heap share and the aggregate fell
    into spill (the knee the 100 TB brief calls out — size partitions so
    state fits executor memory).  Scaling with bytes restores the
    ~linear curve (§22, re-measured r14)."""
    from bigdatastructure_a5_spark.streaming.state import fs_size_bytes

    floor = max(spark.sparkContext.defaultParallelism, 1)
    return max(floor, fs_size_bytes(spark, path) // _REWRITE_PARTITION_BYTES + 1)


def maintain_dedup_state(
    spark: SparkSession,
    state_dir: str,
    retract_ids: DataFrame | list | None = None,
    id_col: str = "doc_id",
    compact: bool = False,
    force: bool = False,
) -> None:
    """Retraction and/or compaction in ONE staging-swap rewrite per store.

    ``retract_documents`` and ``compact_dedup_state`` each rewrite BOTH
    stores through the full swap protocol (stage write, delete, rename);
    a maintenance window that needs both therefore pays four
    corpus-sized store rewrites.  This op applies the retraction
    anti-join and the compaction DISTINCT in the same pass — two
    rewrites, half the maintenance-window I/O, identical final store
    content (removing rows then DISTINCTing commutes with DISTINCTing
    then removing: both are per-row predicates/foldings — pinned by
    tests/test_streaming_dedup.py::test_fused_maintenance_equals_sequential).

    Same locks, same crash protocol, same MUST-run-while-stopped
    contract as the single-purpose ops (which are now thin wrappers over
    this).  ``retract_ids=None`` with ``compact=False`` is a no-op."""
    from bigdatastructure_a5_spark.streaming.state import (
        begin_compaction,
        end_compaction,
        read_state_or_none,
        recover_interrupted_swap,
        swap_in_frame,
    )

    if retract_ids is None and not compact:
        return
    drop = None
    if retract_ids is not None:
        ids = retract_ids
        if not isinstance(ids, DataFrame):
            ids = spark.createDataFrame(
                [(int(i),) for i in ids], f"{id_col} bigint"
            )
        drop = F.broadcast(
            ids.select(F.col(id_col).alias("id")).distinct()
        )

    bands_dir, _ = _store_paths(state_dir)

    def _rewrite_store(path: str) -> None:
        recover_interrupted_swap(spark, path)
        store = read_state_or_none(spark, path)
        if store is None:
            return
        kept = store
        if drop is not None:
            # broadcast anti-join applied in the scan tasks — adds
            # no exchange regardless of whether compaction follows
            kept = kept.join(drop, "id", "left_anti")
        if compact:
            # repartition-THEN-distinct: hash partitioning on the
            # join key is a subset of the distinct's grouping
            # columns, so the aggregate reuses the repartition
            # exchange — ONE shuffle of the corpus-sized store
            # (see compact_dedup_state's docstring; partition count
            # scales with on-disk bytes, _rewrite_partitions)
            parts = _rewrite_partitions(spark, path)
            key = ["band", "bhash"] if path == bands_dir else ["id"]
            kept = kept.repartition(parts, *key).distinct()
        swap_in_frame(
            spark,
            kept,
            path,
            partition_by=(
                ["bucket"] if "bucket" in store.columns else None
            ),
            op="maintain_dedup_state",
        )

    begin_compaction(spark, state_dir, force=force)
    try:
        # The two stores' rewrites touch disjoint paths and share no
        # state beyond the (already-built) broadcast drop frame, so run
        # them as two concurrent driver-submitted jobs: each rewrite at
        # maintenance-window scale is scheduling + FS-round-trip latency
        # as much as compute, and the second job's tasks back-fill the
        # executor tail of the first (optimization-guide §2.6).  Crash
        # recovery is unchanged — both rewrites happen inside ONE
        # begin/end_compaction window, each store's staging swap is
        # independently recoverable, and re-running the maintenance op
        # is idempotent (the anti-join of already-removed ids and the
        # DISTINCT of already-distinct rows are both no-ops).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [
                pool.submit(_rewrite_store, p) for p in _store_paths(state_dir)
            ]:
                f.result()
    finally:
        end_compaction(spark, state_dir)


def retract_documents(
    spark: SparkSession,
    state_dir: str,
    ids: DataFrame | list,
    id_col: str = "doc_id",
    force: bool = False,
) -> None:
    """FORGET documents from the dedup index: delete the given ids' band
    and shingle rows via the same staging-swap protocol as compaction —
    the right-to-erasure maintenance op a production crawl index needs
    (a deleted page must stop suppressing future near-copies of itself;
    conversely nothing else changes: pairs among the REMAINING corpus
    are untouched because index rows are per-document).

    ``ids`` is a one-column DataFrame (``id_col``) or a plain list.  The
    op is corpus-safe AND shuffle-free: a broadcast anti-join applied in
    the scan tasks themselves, written straight back out — no
    repartition, no aggregation state, so the pass is a streaming
    filter over the store no matter how large it grows (EXPERIMENTS
    §22: the earlier anti-join + DISTINCT shape hit a spill knee at
    164M band rows — removing rows cannot CREATE duplicate rows, so the
    DISTINCT bought nothing and cost a corpus-sized shuffle).  The
    rewrite still materializes fully to the staging dir before the
    original store is deleted (no collect), preserves bucket columns,
    and holds the writer/compaction lock pair around a
    crash-recoverable swap.

    MUST run while the stream is STOPPED, like compaction.  Note kept
    OUTPUTS are not touched: documents already in ``out_dir`` (or
    already dropped because they matched a now-retracted doc) keep
    their history — retraction changes FUTURE dedup decisions only,
    which is the semantically safe direction (no silent resurrection
    of past drops).

    Production note: retraction REMOVES rows only.  Collapsing retry
    re-appended duplicates and restoring the join-key file clustering
    remain ``compact_dedup_state``'s job — when both matter in one
    maintenance window, call ``maintain_dedup_state(...,
    retract_ids=ids, compact=True)`` instead: it fuses the two into a
    single rewrite per store (half the window's I/O; the gate row runs
    the fused form)."""
    maintain_dedup_state(
        spark, state_dir, retract_ids=ids, id_col=id_col, force=force
    )


def compact_dedup_state(
    spark: SparkSession, state_dir: str, force: bool = False
) -> None:
    """Rewrite the band/shingle stores as one compact file set each —
    the dedup twin of streaming/packing.compact_state (VERDICT r11
    item 4).  The stores are append-only (one parquet file set per
    batch), so after thousands of batches every microbatch's
    candidate/verify joins pay a FILE-COUNT tax — listing + footer reads
    + tiny-file scan tasks — that grows with history even though data
    volume doesn't (the same §20 mechanism measured for the packer).
    Compaction folds them back to a handful of right-sized files.

    Unlike the packer's store there is no latest row to pick: index
    rows are pure content (their batch provenance is irrelevant to the band-key
    join), so compaction is ``DISTINCT`` + rewrite — the DISTINCT also
    collapses the duplicate rows a retried batch's re-append left
    behind, shrinking the store below the sum of its appends.  Bucket
    partitioning (``state_buckets``) is preserved: the bands store is
    rewritten ``partitionBy("bucket")`` whenever the column is present.

    Same protections as the packer's compaction: the
    ``_COMPACTION_IN_PROGRESS`` / ``_WRITER_ACTIVE`` lock pair excludes
    a racing ``process_batch`` (either side raises loudly; ``force=True``
    overrides a mark left by a provably crashed batch), and the
    staging-dir swap (write ``<store>.compacting`` fully, delete,
    rename) makes a crash at any point recoverable — readers raise on
    the missing-store-with-staging shape, re-running this completes the
    swap.  Unlike the packer's store (O(shards), collected), these are
    CORPUS-sized: the compacted frame is materialized by the staging
    WRITE itself — the original's files are deleted only after that
    write (and its ``_SUCCESS``) completes, and the frame is never
    evaluated again afterwards.

    MUST run while the stream is STOPPED, like compact_state; safe at
    any point between batches (no batch_id cut — the stores carry none
    and need none: unlike the packer's base, no row is read back as a
    retry's starting offset, so folding a pending batch's rows cannot
    corrupt a retry — the retry's re-append just re-duplicates them
    until the next compaction).

    Repartition notes live in ``maintain_dedup_state`` (this is a thin
    wrapper): the rewrite keys files by the store's JOIN column with a
    parallelism floor (a tiny DISTINCT would AQE-coalesce to one file —
    the §21 finding) and a byte-scaled count (§22's spill knee), and
    repartition-then-distinct shares one exchange."""
    maintain_dedup_state(spark, state_dir, compact=True, force=force)
