"""End-to-end trainer path: the documented composition of the whole
LLM-data-pipeline family over the real fixture, in one test —
curation -> domain mixture -> train/val/test split -> composite-key
packing -> chunk assembly.  Each stage is gated individually elsewhere
(driver oracles / pytest twins); this pins that they COMPOSE: schemas
line up, duplicate copy ids pack tie-free, holdout documents never
reach the packed training stream, and the assembled chunks tile the
mixed corpus exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table
from bigdatastructure_a5_spark.functions.hashing import token_count, tokens
from bigdatastructure_a5_spark.operators.mixture import (
    assign_split,
    mix_domains,
)
from bigdatastructure_a5_spark.operators.packing import (
    assemble_chunks,
    concat_and_chunk,
)
from bigdatastructure_a5_spark.queries.pipeline import curate_documents

SF = "/root/testdata/sf0.001"
L = 128


def test_trainer_capstone_composes(spark):
    docs = load_table(spark, SF, "documents")

    # 1. curation: quality/language gate + near-dup removal
    curated_ids = curate_documents(docs).select("doc_id")
    base = docs.join(curated_ids, "doc_id").select(
        "doc_id",
        "source",
        tokens("text").alias("toks"),
        token_count("text").alias("n_tokens"),
    )
    n_curated = base.count()
    assert 0 < n_curated < docs.count()

    # 2. mixture: upsample one source, drop another, default the rest
    mixed = mix_domains(
        base,
        {"src0": 2.0, "src1": 0.0},
        domain_col="source",
        default_weight=1.0,
    )

    # 3. split: hold out val+test by document key (copies inherit the
    # label through doc_id, so no document leaks across splits)
    labeled = assign_split(
        mixed, {"train": 0.75, "val": 0.125, "test": 0.125}
    )
    train = labeled.filter(F.col("split") == "train")

    # 4. pack the train stream with composite keys (mixture copies)
    packed = concat_and_chunk(
        train.select(
            "doc_id",
            "copy_id",
            (F.col("doc_id") % 4).alias("shard"),
            "n_tokens",
        ),
        L,
        id_col=["doc_id", "copy_id"],
        shard_col="shard",
    )

    # 5. assemble trainer-shaped examples
    assembled = assemble_chunks(
        packed, base.select("doc_id", "toks"), shard_col="shard"
    ).collect()

    # invariants across the whole composition:
    # (a) stream conservation — assembled tokens == the train mixture's
    train_rows = train.select("doc_id", "n_tokens", "copy_id").collect()
    want_total = sum(r.n_tokens for r in train_rows)
    got_total = sum(r.n_tokens for r in assembled)
    assert got_total == want_total > 0
    # (b) every non-final chunk per shard holds exactly L tokens
    by_shard: dict[int, list] = {}
    for r in assembled:
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.chunk_id)
        for r in rs[:-1]:
            assert r.n_tokens == L
        assert len(r.toks) == r.n_tokens
    # (c) no holdout leakage: every packed doc is train-labeled
    train_ids = {r.doc_id for r in train_rows}
    held_out = {
        r.doc_id
        for r in labeled.filter(F.col("split") != "train")
        .select("doc_id")
        .collect()
    }
    packed_ids = {r.doc_id for r in packed.select("doc_id").collect()}
    assert packed_ids <= train_ids
    assert packed_ids.isdisjoint(held_out - train_ids)
    # (d) the dropped domain is gone, the upsampled one multiplied
    per_source = {
        r.source: r.n
        for r in labeled.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert "src1" not in per_source
    copies_src0 = (
        labeled.filter(F.col("source") == "src0")
        .groupBy("doc_id")
        .agg(F.countDistinct("copy_id").alias("c"))
        .agg(F.min("c"), F.max("c"))
        .first()
    )
    if copies_src0[0] is not None:
        assert copies_src0[0] >= 2  # weight 2.0: every kept doc >= 2 copies


def test_trainer_capstone_streams_at_ingest(spark, tmp_path):
    """The AT-INGEST trainer path — the composition a crawl pipeline
    actually runs as one foreachBatch body: streaming near-dup dedup ->
    domain mixture -> train-split filter -> incremental chunk ASSEMBLY.
    The emitted complete chunks (text, absolute ids) must equal the
    batch pipeline (offline dedup rule -> same mixture/split -> batch
    assembler) run over the whole corpus, and the final tails must
    match the batch path's partial last chunks."""
    from bigdatastructure_a5_spark.operators.dedup import (
        near_duplicates_minhash,
    )
    from bigdatastructure_a5_spark.streaming.dedup import process_batch
    from bigdatastructure_a5_spark.streaming.packing import (
        assemble_batch,
        read_state,
    )

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    )
    weights = {"src0": 2.0, "src1": 0.0}

    def stage(frame):
        """Stateless tail of the ingest pipeline: mixture -> train-only
        -> single-bigint composite key (mixture copies share doc_id)."""
        mixed = mix_domains(
            frame, weights, domain_col="source", default_weight=1.0
        )
        labeled = assign_split(
            mixed, {"train": 0.75, "val": 0.125, "test": 0.125}
        )
        return labeled.filter(F.col("split") == "train").select(
            (F.col("doc_id") * 1024 + F.col("copy_id")).alias("key"),
            (F.col("doc_id") % 4).alias("shard"),
            tokens("text").alias("toks"),
        )

    # ---- batch twin: offline dedup rule, then the same stage ----
    pairs = near_duplicates_minhash(docs, "doc_id", "text", threshold=0.8)
    dropped = [r.id_b for r in pairs.collect()]
    kept_all = docs.filter(~F.col("doc_id").isin(dropped))
    combined = stage(kept_all).withColumn(
        "n_tokens", F.size("toks").cast("bigint")
    )
    geo = concat_and_chunk(
        combined, L, id_col="key", shard_col="shard"
    )
    asm = assemble_chunks(
        geo,
        combined.select("shard", "key", "toks"),
        id_cols=["shard", "key"],
        shard_col="shard",
    ).collect()
    want_complete = {
        (r.shard, r.chunk_id): list(r.toks) for r in asm if r.n_tokens == L
    }
    want_tails = {r.shard: list(r.toks) for r in asm if r.n_tokens < L}
    assert want_complete, "fixture must produce complete chunks"

    # ---- streamed: 3 id-ordered batches, the full body per batch ----
    dstate, dout = str(tmp_path / "dstate"), str(tmp_path / "dkept")
    astate, aout = str(tmp_path / "astate"), str(tmp_path / "aout")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    bounds = [ids[i * len(ids) // 3] for i in (1, 2)] + [ids[-1] + 1]
    lo = ids[0]
    for i, hi in enumerate(bounds):
        b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        process_batch(spark, b, dstate, dout)  # dedup at ingest
        kept_b = spark.read.parquet(dout).filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        assemble_batch(
            spark,
            stage(kept_b),
            astate,
            aout,
            L,
            batch_id=i,
            toks_col="toks",
            id_col="key",
            shard_col="shard",
        )
        lo = hi

    got = {
        (r.shard, r.chunk_id): list(r.toks)
        for r in spark.read.parquet(aout).collect()
    }
    assert got == want_complete
    got_tails = {
        r.shard: list(r.toks)
        for r in read_state(spark, astate).collect()
        if r.toks
    }
    assert got_tails == want_tails
