"""Incremental packing/assembly: per-batch cost vs stream HISTORY.

The parquet state store behind streaming/packing.py is tiny per batch
(one row per touched shard: its base, plus the assembler's tail), but it
is APPEND-ONLY: batch N's read_state scans N-1 earlier row-sets, so the
per-batch cost has a slowly-growing term linear in BATCH COUNT (not in
corpus size).  This tool measures that term directly: K constant-size
microbatches through ``pack_batch`` and ``assemble_batch``, per-batch
wall recorded, early-window vs late-window medians compared — the
honest price of "plain parquet state, no state-store provider", and
the number that says when a deployment should compact the state store
(keep each shard's latest row with batch_id < N as one sentinel row).

Owns the "## 20." section of EXPERIMENTS.md (same splice protocol as
bench_variance / components_scale).

Usage: python tools/streampack_scale.py [n_batches] [docs_per_batch]
       (defaults: 60 x 512 docs, 8 shards, L=512)
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

SECTION = "## 20. Incremental packing/assembly: per-batch cost vs history"
L = 512
SHARDS = 8


def _batch(spark, batch_ix: int, docs_per_batch: int, with_toks: bool):
    base = batch_ix * docs_per_batch
    rows = spark.range(base, base + docs_per_batch).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % SHARDS).alias("shard"),
        (F.pmod(F.col("id") * 37, F.lit(90)) + 10).alias("n_tokens"),
    )
    if not with_toks:
        return rows
    return rows.select(
        "doc_id",
        "shard",
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens")),
            lambda i: F.concat(F.lit("t"), F.col("doc_id"), F.lit("_"), i),
        ).alias("toks"),
    )


def measure(spark, n_batches: int, docs_per_batch: int, tmp: Path):
    from bigdatastructure_a5_spark.streaming.packing import (
        assemble_batch,
        pack_batch,
    )

    results = {}
    for name, fn, with_toks in (
        ("pack_batch (geometry)", pack_batch, False),
        ("assemble_batch (chunk text)", assemble_batch, True),
    ):
        state = str(tmp / f"state_{with_toks}")
        out = str(tmp / f"out_{with_toks}")
        walls = []
        for i in range(n_batches):
            b = _batch(spark, i, docs_per_batch, with_toks)
            t0 = time.perf_counter()
            if with_toks:
                fn(spark, b, state, out, L, batch_id=i, toks_col="toks")
            else:
                fn(spark, b, state, out, L, batch_id=i)
            walls.append(time.perf_counter() - t0)
            if i % 10 == 0:
                print(f"  {name} batch {i}: {walls[-1]:.2f}s")
        early = statistics.median(walls[1:11])  # skip warm-up batch 0
        late = statistics.median(walls[-10:])
        state_files = sum(1 for _ in Path(state).rglob("*.parquet"))
        state_bytes = sum(
            p.stat().st_size for p in Path(state).rglob("*.parquet")
        )
        results[name] = (early, late, walls, state_files, state_bytes)
    return results


def main() -> None:
    import tempfile

    from bigdatastructure_a5_spark.session import get_spark

    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    docs_per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 512
    spark = get_spark("streampack-scale")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="streampack_") as tmp:
        results = measure(spark, n_batches, docs_per_batch, Path(tmp))

    rows = []
    for name, (early, late, walls, files, nbytes) in results.items():
        rows.append(
            f"| {name} | {n_batches} x {docs_per_batch:,} docs | "
            f"{early:.2f} | {late:.2f} | {late / early:.2f}x | "
            f"{files} | {nbytes / 1024:.0f} KiB |"
        )
        print(rows[-1])

    section = "\n".join(
        [
            SECTION,
            "",
            "`tools/streampack_scale.py`: the parquet state store behind",
            "streaming/packing.py is append-only — batch N's",
            "read_state scans N-1 earlier row-sets — so the",
            "per-batch cost carries a term linear in BATCH COUNT (never",
            "in corpus size: the base is one bigint and the tail",
            f"< L tokens per shard regardless of history).  {n_batches}",
            f"constant-size batches ({docs_per_batch:,} docs x {SHARDS}",
            f"shards, L={L}); early = median wall of batches 1-10, late =",
            "median of the last 10.",
            "",
            "| stage | stream | early s/batch | late s/batch | "
            "late/early | state files | state size |",
            "| --- | --- | --- | --- | --- | --- | --- |",
            *rows,
            "",
            "Reading: the late/early ratio IS the history tax at this",
            "depth — driven by parquet FILE COUNT (one footer per",
            "append), not data volume.  At production cadence",
            "(thousands of batches) the deployment answer is periodic",
            "state COMPACTION — implemented as",
            "``streaming/packing.compact_state``: each shard's latest row",
            "with batch_id < N is kept as one sentinel row (batch_id -1 sorts",
            "strictly earlier than every real batch, so the",
            "strictly-earlier-batch_id retry rule is untouched; run",
            "between stream runs — the swap is not atomic against a",
            "concurrent append).  Pytest pins stream-across-compaction",
            "output identical to the uncompacted run, retry included.",
            "Until the file count is thousands, the tax is milliseconds;",
            "the chunk/geometry OUTPUT path is append-only parquet either",
            "way and never re-read by the packer.",
        ]
    )
    path = REPO / "EXPERIMENTS.md"
    text = path.read_text()
    tail = ""
    if SECTION in text:
        head, rest = text.split(SECTION, 1)
        head = head.rstrip() + "\n"
        nxt = rest.find("\n## ")
        if nxt != -1:
            tail = rest[nxt:].lstrip("\n")
    else:
        head = text.rstrip() + "\n"
    path.write_text(head + "\n" + section + "\n\n" + tail)
    print(f"updated {path}")


if __name__ == "__main__":
    main()
