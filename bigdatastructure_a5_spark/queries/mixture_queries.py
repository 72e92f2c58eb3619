"""Gate queries for the mixture and packing operators (extension scope:
the training-data pipeline charter, like queries/pipeline.py).

Both operators are pure Catalyst arithmetic over cross-engine-identical
primitives (the md5-prefix hash of functions/hashing.py:78; integer
window cumsums), so the DuckDB oracles replay them bit-for-bit — the
same hard signal the dedup/decontam/quantization families carry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table, read_parquet
from bigdatastructure_a5_spark.operators.mixture import mix_domains
from bigdatastructure_a5_spark.operators.packing import concat_and_chunk
from bigdatastructure_a5_spark.registry import query

#: The gate mixture spec — every regime in one run: upsample with a
#: fractional tail (2.5), integer pass-through (1.0), keep-sample (0.25),
#: explicit drop (0.0), and the catch-all default (0.5) for the 16
#: unlisted sources.  All weights are exact binary fractions, so
#: ``w - floor(w)`` is the same double in both engines and the
#: ``u < frac`` gate cannot straddle a rounding difference.
MIX_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.25, "src3": 0.0}
MIX_DEFAULT = 0.5

#: DuckDB twin of operators/mixture.py: u = md5_hash60('mix:' || key) /
#: 2^60 (one exact-power-of-two IEEE division — bit-identical in both
#: engines), n = floor(w) + (u < w - floor(w)).
_MIX_ORACLE = """
    WITH m AS (
      SELECT doc_id, source, n_chars,
             CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
                         WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.0
                         ELSE 0.5 END AS w,
             CAST(CAST('0x' || SUBSTR(
                    MD5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
      FROM documents
    ),
    k AS (
      SELECT doc_id, source, n_chars,
             CAST(FLOOR(w) AS BIGINT)
               + (CASE WHEN u < w - FLOOR(w) THEN 1 ELSE 0 END) AS n
      FROM m
    )
    SELECT doc_id, source, n_chars,
           UNNEST(GENERATE_SERIES(0, n - 1)) AS copy_id
    FROM k WHERE n > 0
    """


@query("pipeline_mixture", oracle=_MIX_ORACLE, tags=("ext:mixture",))
def pipeline_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixture over documents
    (operators/mixture.py): src0 upsampled 2.5x, src1 passed through,
    src2 keep-sampled at 0.25, src3 dropped, everything else at the 0.5
    default.  Each kept copy is a row with its ``copy_id``; the whole
    mixer is a projection + explode — ZERO exchanges at any corpus size
    (the 100 TB mixer is a map-side pass over the ingest scan).  The
    hash gate is the cross-engine md5-prefix uniform, so the oracle
    reproduces every kept row and copy count exactly."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return mix_domains(
        docs, MIX_WEIGHTS, domain_col="source", default_weight=MIX_DEFAULT
    )


#: DuckDB twin of operators/packing.py over whitespace tokens of the
#: normalized text (the engine-wide tokenizer, same as text_quality's
#: oracle): one cumsum window per shard, chunk span by integer division.
#: The CASE guard mirrors functions/hashing.token_count — STRING_SPLIT('')
#: is [''] (n=1) in both engines, but an empty document must count ZERO
#: tokens or it packs a phantom slice and shifts every later cumsum.
_PACK_ORACLE = """
    WITH t0 AS (
      SELECT doc_id, doc_id % 8 AS shard,
             TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')) AS txt
      FROM documents
    ),
    t AS (
      SELECT doc_id, shard,
             CASE WHEN txt = '' THEN CAST(0 AS BIGINT)
                  ELSE CAST(LEN(STRING_SPLIT(txt, ' ')) AS BIGINT)
             END AS n
      FROM t0
    ),
    p AS (
      SELECT shard, doc_id, n,
             SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS e
      FROM t WHERE n > 0
    ),
    x AS (
      SELECT shard, doc_id, e - n AS s, e,
             UNNEST(GENERATE_SERIES(
               CAST(FLOOR((e - n) / 512.0) AS BIGINT),
               CAST(FLOOR((e - 1) / 512.0) AS BIGINT))) AS chunk_id
      FROM p
    )
    SELECT shard, chunk_id, doc_id,
           CAST(GREATEST(s, chunk_id * 512) - s AS BIGINT) AS slice_start,
           CAST(LEAST(e, (chunk_id + 1) * 512)
             - GREATEST(s, chunk_id * 512) AS BIGINT) AS slice_len,
           CAST(GREATEST(s, chunk_id * 512) - chunk_id * 512
             AS BIGINT) AS chunk_offset
    FROM x
    """


@query("pack_chunks", oracle=_PACK_ORACLE, tags=("ext:packing",))
def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/packing.py):
    documents sharded by ``doc_id % 8``, each shard's token stream (the
    engine-wide whitespace tokenizer) concatenated in doc_id order and
    sliced into 512-token chunks; rows are (shard, chunk_id, doc_id,
    slice geometry).  One shuffle total (the per-shard cumsum window) +
    an output-sized explode, zero Python — and chunk boundaries never
    cross shards, which is what makes the 100 TB packer embarrassingly
    parallel and re-pack-stable per shard.  ``doc_id`` is unique in the
    documents table, so the per-shard order key is tie-free; token counts
    come from ``token_count`` (empty documents count 0 and drop)."""
    from bigdatastructure_a5_spark.functions.hashing import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        token_count("text").alias("n_tokens"),
    )
    return concat_and_chunk(
        docs, 512, n_tokens_col="n_tokens", shard_col="shard"
    )


#: DuckDB twin of the INCREMENTAL assembler's output: the _PACK_ORACLE
#: geometry CTEs, then LIST_SLICE each document's tokens by its slice and
#: STRING_AGG the pieces in chunk_offset order, restricted to COMPLETE
#: chunks (n_tokens == 512) — the streaming assembler's contract is to
#: emit exactly the chunks that COMPLETED (each shard's unfilled last
#: chunk stays in the tail store), so batch-complete == streamed-emitted,
#: row for row.
_ASSEMBLY_INCREMENTAL_ORACLE = """
    WITH t0 AS (
      SELECT doc_id, doc_id % 8 AS shard,
             TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')) AS txt
      FROM documents
    ),
    t AS (
      SELECT doc_id, shard, STRING_SPLIT(txt, ' ') AS toks,
             CASE WHEN txt = '' THEN CAST(0 AS BIGINT)
                  ELSE CAST(LEN(STRING_SPLIT(txt, ' ')) AS BIGINT)
             END AS n
      FROM t0
    ),
    p AS (
      SELECT shard, doc_id, toks, n,
             SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS e
      FROM t WHERE n > 0
    ),
    x AS (
      SELECT shard, doc_id, toks, e - n AS s, e,
             UNNEST(GENERATE_SERIES(
               CAST(FLOOR((e - n) / 512.0) AS BIGINT),
               CAST(FLOOR((e - 1) / 512.0) AS BIGINT))) AS chunk_id
      FROM p
    ),
    sl AS (
      SELECT shard, chunk_id, doc_id, toks,
             GREATEST(s, chunk_id * 512) - s AS slice_start,
             LEAST(e, (chunk_id + 1) * 512)
               - GREATEST(s, chunk_id * 512) AS slice_len,
             GREATEST(s, chunk_id * 512) - chunk_id * 512 AS chunk_offset
      FROM x
    )
    SELECT shard, chunk_id,
           STRING_AGG(
             ARRAY_TO_STRING(
               LIST_SLICE(toks, slice_start + 1, slice_start + slice_len),
               ' '),
             ' ' ORDER BY chunk_offset) AS text,
           CAST(SUM(slice_len) AS BIGINT) AS n_tokens
    FROM sl
    GROUP BY shard, chunk_id
    HAVING CAST(SUM(slice_len) AS BIGINT) = 512
    """


@query(
    "pack_assembly_incremental",
    oracle=_ASSEMBLY_INCREMENTAL_ORACLE,
    tags=("ext:packing", "ext:streaming"),
)
def pack_assembly_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-ingest ASSEMBLY as a REAL Structured Streaming run in the
    correctness gate (VERDICT r11 item 1): the documents fixture is
    split into two id-range ingest batches, streamed through
    ``streaming_assembly_writer`` (streaming/packing.py) under
    Trigger.AvailableNow with ``exactly_once=True``, and the emitted
    complete chunks are hash-matched against the batch assembly SQL
    restricted to complete chunks — stream == batch is the operator's
    own contract, here driver-gated end-to-end: incremental packing
    geometry, the one per-shard state store (absolute base plus
    partial-chunk tail), cross-batch chunk completion, and the
    per-batch-directory exactly-once output mode all sit on the gated
    path.

    Harness scaffolding vs operator: the ntile split + per-split
    temp-file write + forced mtimes exist only to make a finite fixture
    arrive as ordered microbatches (the same trick the pytest streaming
    runs use); the gated operator is the foreachBatch body.  Empty
    documents are dropped up front (token_count = 0 — the same rule the
    batch packer applies inside concat_and_chunk).  TWO ingest batches
    since r13 (VERDICT r12 item 4's second lever): the oracle is
    batch-count independent (it checks the union of COMPLETE chunks)
    and two batches already put every cross-batch mechanism on the
    gated path — state read-back, tail re-pack, strictly-earlier retry
    state, per-batch exactly-once dirs; the 3-batch and bucketed splits
    stay pytest-pinned (test_streaming_packing.py).

    Every call writes the two ingest SPLITS into its own PID-scoped run
    dir (queries/scratch.pid_run_dir) next to the stream's state,
    checkpoint and output, so the row's wall covers the splits as well
    as the streaming run; repeated gate and multi-rep bench runs
    overwrite that dir rather than accumulate orphaned temp roots
    (ADVICE r12 low)."""
    import hashlib
    import os
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import Window

    from bigdatastructure_a5_spark.functions.hashing import token_count, tokens
    from bigdatastructure_a5_spark.queries.scratch import pid_run_dir
    from bigdatastructure_a5_spark.streaming.packing import (
        streaming_assembly_writer,
    )

    scope_h = hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:8]
    # per-invocation scratch, PID-scoped (queries/scratch.pid_run_dir):
    # cleared up front each invocation — the previous invocation's
    # output has been consumed by then (the driver collects before
    # calling the next query) and a crashed run's state/checkpoint must
    # not leak into a fresh stream
    run = pid_run_dir(
        os.path.join(tempfile.gettempdir(), "bds_a5_pack_asm", scope_h)
    )
    src = os.path.join(run, "src")
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(token_count("text") > 0)
        .select("doc_id", (F.col("doc_id") % 8).alias("shard"), "text")
    )
    # id-range cut points from a SLIM ntile (ids only): running the
    # window over the document frame itself would drag every text
    # through a single-partition sort — once per split write
    cuts = (
        docs.select("doc_id")
        .withColumn("__b", F.ntile(2).over(Window.orderBy("doc_id")))
        .groupBy("__b")
        .agg(F.max("doc_id").alias("hi"))
        .collect()
    )
    hi = {int(r["__b"]): int(r.hi) for r in cuts}
    # forced, increasing mtimes: the file source orders its one-file
    # microbatches by modification time
    base_t = _time.time() - 100
    lo = None
    for i in (1, 2):
        p = os.path.join(src, f"split_{i}.parquet")
        part = docs.filter(F.col("doc_id") <= hi[i])
        if lo is not None:
            part = part.filter(F.col("doc_id") > lo)
        lo = hi[i]
        part.coalesce(1).write.mode("overwrite").parquet(p)
        for f in sorted(
            os.path.join(dp, fn) for dp, _, fns in os.walk(p) for fn in fns
        ):
            os.utime(f, (base_t + i, base_t + i))

    # The per-batch windows/joins key on 8 shards — a 32/200-partition
    # shuffle default is pure task overhead — but setting the override on
    # the SHARED session would leak into any registry row the gate runs
    # concurrently (dedup_retraction deliberately depends on the
    # 32-partition default; ADVICE r13 low).  spark.newSession() gives an
    # isolated SQLConf over the same SparkContext: the override lives and
    # dies with the stream's session, no restore bookkeeping, no leak.
    stream_sess = spark.newSession()
    stream_sess.conf.set("spark.sql.shuffle.partitions", "8")
    # splits carry TEXT (small at rest); tokenization happens inside the
    # stream projection, once per document, exactly like a real ingest
    stream = (
        stream_sess.readStream.schema("doc_id bigint, shard bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
        .select("doc_id", "shard", tokens("text").alias("toks"))
    )
    out = os.path.join(run, "out")
    q = (
        streaming_assembly_writer(
            stream,
            os.path.join(run, "state"),
            out,
            os.path.join(run, "ckpt"),
            512,
            exactly_once=True,
        )
        .trigger(availableNow=True)
        .start()
    )
    # a False return is a HUNG stream, not success: stop it and
    # raise BEFORE any cleanup runs — deleting its state/checkpoint
    # out from under a live query turns a timeout into a confusing
    # partial-output gate failure (ADVICE r12 low)
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "pack_assembly_incremental: AvailableNow stream did not "
            "terminate within 600s — stopped it; state/checkpoint "
            f"left under {run} for diagnosis (cleared on next run)"
        )
    # only the output outlives the run (the returned frame reads it
    # lazily); the splits, state stores and checkpoint are scaffolding —
    # drop them now, and the next invocation clears out/ itself
    for sub in ("src", "state", "ckpt"):
        shutil.rmtree(os.path.join(run, sub), ignore_errors=True)
    # exactly_once wrote per-batch dirs (partition-discovered `batch`
    # column, dropped here); chunk text joins exactly like the batch row
    return read_parquet(spark, out).select(
        "shard",
        "chunk_id",
        F.array_join("toks", " ").alias("text"),
        "n_tokens",
    )
