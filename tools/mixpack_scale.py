"""Mixture + packing at scale: wall, output, and the shard contrast.

Measures the two trainer-facing operators (operators/mixture.py,
operators/packing.py) on x1/x10/x100 of the sf0.01 documents table:

- mixture (the gate spec MIX_WEIGHTS + 0.5 default): end-to-end wall to
  a noop sink, rows emitted vs the analytic expectation sum(w_d * n_d)
  — the mixer's plan has ZERO exchanges, so its wall must track the
  corpus linearly with a small constant;
- packing (512-token chunks): wall + chunks emitted, once sharded by
  doc_id % 8 (the gate shape) and once as ONE shard — the single-shard
  window serializes the whole cumsum through one partition, which is
  the anti-pattern the module docstring forbids at scale;
- a synthetic WINDOW-STRESS contrast at 2M/8M/32M rows (spark.range
  metadata, no fixture build): the fixture rungs top out at 50k
  documents where the window is nowhere near binding, so the serialized
  single-partition cost is priced where it actually appears.

Owns the "## 17." section of EXPERIMENTS.md (same splice protocol as
the other tools).

Usage: python tools/mixpack_scale.py [copies ...]   (default: 1 10 100)
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402
from timing import N_REPS, timed_reps  # noqa: E402

SECTION = "## 17. Mixture and packing at scale"
BASE = "/root/testdata/sf0.01"


def measure(spark, copy_points) -> tuple[list[str], list[str]]:
    from scale_fixtures import ensure_x10

    from bigdatastructure_a5_spark.functions.hashing import tokens
    from bigdatastructure_a5_spark.operators.mixture import mix_domains
    from bigdatastructure_a5_spark.operators.packing import concat_and_chunk
    from bigdatastructure_a5_spark.queries.mixture_queries import (
        MIX_DEFAULT,
        MIX_WEIGHTS,
    )

    mix_rows, pack_rows = [], []
    for copies in copy_points:
        sf_dir = BASE if copies == 1 else ensure_x10(BASE, copies)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_docs = docs.count()

        mixed = mix_domains(
            docs.select("doc_id", "source", "n_chars"),
            MIX_WEIGHTS,
            domain_col="source",
            default_weight=MIX_DEFAULT,
        )
        plan = mixed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "mixer grew a shuffle"
        n_out = mixed.count()
        sec = timed_reps(
            lambda: mixed.write.mode("overwrite").format("noop").save()
        )
        mix_rows.append(
            f"| x{copies} | {n_docs:,} | {n_out:,} | "
            f"{n_out / n_docs:.3f} | {sec} |"
        )
        print(mix_rows[-1])

        base = docs.select(
            "doc_id",
            (F.col("doc_id") % 8).alias("shard"),
            F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        )
        for label, shard in (("8 shards", "shard"), ("1 shard", None)):
            packed = concat_and_chunk(
                base, 512, n_tokens_col="n_tokens", shard_col=shard
            )
            n_slices = packed.count()
            n_chunks = (
                packed.select("chunk_id", *([shard] if shard else []))
                .distinct()
                .count()
            )
            sec = timed_reps(
                lambda: packed.write.mode("overwrite").format("noop").save()
            )
            pack_rows.append(
                f"| x{copies} | {label} | {n_docs:,} | {n_chunks:,} | "
                f"{n_slices:,} | {sec} |"
            )
            print(pack_rows[-1])
    return mix_rows, pack_rows


def measure_assembly(spark, copy_points) -> list[str]:
    """§17b (r10): assemble_chunks at scale — the geometry→examples
    materialization, with the fill invariant checked distributed (zero
    collect) at every rung."""
    from scale_fixtures import ensure_x10

    from bigdatastructure_a5_spark.functions.hashing import (
        token_count,
        tokens,
    )
    from bigdatastructure_a5_spark.operators.packing import (
        assemble_chunks,
        concat_and_chunk,
    )

    rows = []
    for copies in copy_points:
        sf_dir = BASE if copies == 1 else ensure_x10(BASE, copies)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            (F.col("doc_id") % 8).alias("shard"),
            tokens("text").alias("toks"),
            token_count("text").alias("n_tokens"),
        )
        geo = concat_and_chunk(
            docs.select("doc_id", "shard", "n_tokens"),
            512,
            shard_col="shard",
        )
        asm = assemble_chunks(
            geo, docs.select("doc_id", "toks"), shard_col="shard"
        )
        plan = asm._jdf.queryExecution().executedPlan().toString()
        n_exchanges = plan.count("Exchange hashpartitioning")
        # which join strategy carried geometry x tokens at this rung —
        # the broadcast threshold (10 MB default) eventually flips the
        # geometry side from broadcast to a shuffled join (VERDICT r11
        # item 8: document where).  AQE may rewrite at runtime, so
        # re-read the FINAL plan after the first materialization below.
        n_chunks = asm.count()
        final_plan = asm._jdf.queryExecution().executedPlan().toString()
        if "BroadcastHashJoin" in final_plan:
            join_kind = "broadcast"
        elif "SortMergeJoin" in final_plan:
            join_kind = "sort-merge"
        elif "ShuffledHashJoin" in final_plan:
            join_kind = "shuffled-hash"
        else:
            join_kind = "?"
        # invariant, checked distributed: every chunk but each shard's
        # last holds exactly 512 tokens, and size(toks) == n_tokens
        last = asm.groupBy("shard").agg(F.max("chunk_id").alias("__last"))
        bad = (
            asm.join(last, "shard")
            .filter(
                (
                    (F.col("chunk_id") != F.col("__last"))
                    & (F.col("n_tokens") != 512)
                )
                | (F.size("toks") != F.col("n_tokens"))
            )
            .count()
        )
        total_toks = asm.agg(F.sum("n_tokens")).first()[0]
        sec = timed_reps(
            lambda: asm.write.mode("overwrite").format("noop").save()
        )
        rows.append(
            f"| x{copies} | {n_chunks:,} | {total_toks:,} | {bad} | "
            f"{n_exchanges} | {join_kind} | {sec} |"
        )
        print(rows[-1])
        if copies == max(copy_points):
            # price the POST-FLIP plan at the same rung: disable the
            # broadcast threshold so the geometry side takes the
            # shuffle-join path it will take once it outgrows 10 MB —
            # the measured answer to "what happens at the flip", not an
            # extrapolation
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                asm2 = assemble_chunks(
                    geo, docs.select("doc_id", "toks"), shard_col="shard"
                )
                asm2.count()
                plan2 = (
                    asm2._jdf.queryExecution().executedPlan().toString()
                )
                kind2 = (
                    "sort-merge"
                    if "SortMergeJoin" in plan2
                    else (
                        "shuffled-hash"
                        if "ShuffledHashJoin" in plan2
                        else "?"
                    )
                )
                nex2 = plan2.count("Exchange hashpartitioning")
                sec2 = timed_reps(
                    lambda: asm2.write.mode("overwrite")
                    .format("noop")
                    .save()
                )
                rows.append(
                    f"| x{copies} (forced post-flip) | {n_chunks:,} | "
                    f"{total_toks:,} | {bad} | {nex2} | {kind2} | "
                    f"{sec2} |"
                )
                print(rows[-1])
            finally:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", old
                )
    return rows


def window_stress(spark) -> list[str]:
    from pyspark.sql import functions as F

    from bigdatastructure_a5_spark.operators.packing import concat_and_chunk

    rows = []
    for n in (2_000_000, 8_000_000, 32_000_000):
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 64).alias("shard"),
            (F.col("id") % 100 + 20).alias("n_tokens"),
        )
        secs = {}
        for label, shard in (("64 shards", "shard"), ("1 shard", None)):
            packed = concat_and_chunk(docs, 2048, shard_col=shard)
            secs[label] = timed_reps(
                lambda: packed.write.mode("overwrite").format("noop").save()
            )
        rows.append(
            f"| {n:,} | {secs['64 shards']} | {secs['1 shard']} | "
            f"{secs['1 shard'].sec / secs['64 shards'].sec:.1f}x |"
        )
        print(rows[-1])
    return rows


def main() -> None:
    from bigdatastructure_a5_spark.session import get_spark

    copy_points = (
        tuple(int(a) for a in sys.argv[1:])
        if len(sys.argv) > 1
        else (1, 10, 100)
    )
    spark = get_spark("mixpack-scale")
    spark.sparkContext.setLogLevel("ERROR")
    mix_rows, pack_rows = measure(spark, copy_points)
    asm_rows = measure_assembly(spark, copy_points)
    stress_rows = window_stress(spark)
    section = "\n".join(
        [
            SECTION,
            "",
            "`tools/mixpack_scale.py`: the two trainer-facing operators",
            "on x1/x10/x100 of the sf0.01 documents (walls are noop-sink",
            f"medians of {N_REPS} reps, warm-up excluded, each with the",
            "steal share of its timed reps).  The mixer runs",
            "the gate spec (2.5/1.0/0.25/0.0 + 0.5 default); its plan is",
            "asserted Exchange-free before timing.  The packer packs",
            "512-token chunks twice: sharded by doc_id % 8 (the gate",
            "shape) and as ONE shard — the anti-pattern that serializes",
            "the cumsum window through a single partition.",
            "",
            "| corpus | docs | rows out | rows/doc | mixer secs |",
            "| --- | --- | --- | --- | --- |",
            *mix_rows,
            "",
            "| corpus | layout | docs | chunks | slices | packer secs |",
            "| --- | --- | --- | --- | --- | --- |",
            *pack_rows,
            "",
            "### 17b. Assembly: geometry → trainer-shaped examples",
            "",
            "`assemble_chunks` (r10) joins the pack geometry back to the",
            "token arrays, slices, and flattens in chunk_offset order —",
            "zero Python; cost is at most the geometry join plus one",
            "aggregation exchange on (shard, chunk_id), and the",
            "'exchanges' column counts what the planner actually needed,",
            "and 'geo join' records HOW the geometry side reached the",
            "token arrays — AQE's final choice, read after",
            "materialization (VERDICT r11 item 8: the rung where the",
            "geometry frame outgrows the 10 MB broadcast threshold and",
            "the join flips to a shuffle is the first real scale",
            "inflection of the assembly plan).  'bad' counts invariant",
            "violations CHECKED DISTRIBUTED at each rung: a non-final",
            "chunk not holding exactly 512 tokens, or an assembled",
            "array whose size disagrees with its summed slice lengths.",
            "",
            "| corpus | chunks | total tokens | bad | exchanges | "
            "geo join | assembly secs |",
            "| --- | --- | --- | --- | --- | --- | --- |",
            *asm_rows,
            "",
            "Window stress (synthetic metadata, 2048-token chunks, 64",
            "shards vs 1 — median of the same reps):",
            "",
            "| rows | 64 shards s | 1 shard s | penalty |",
            "| --- | --- | --- | --- |",
            *stress_rows,
            "",
            "Reading: the mixer's rows/doc sits at the analytic mixture",
            "rate at every rung (the hash gate is exact in expectation and",
            "deterministic per key) and its wall tracks the corpus with no",
            "shuffle anywhere — at 100 TB it rides the ingest scan.  Chunk",
            "and slice counts track the corpus exactly linearly in both",
            "packer layouts (identical answers, different walls; chunk ids",
            "are shard-local by design).  At the fixture rungs (<= 50k",
            "docs) the cumsum window is nowhere near binding and the two",
            "layouts tie — the shard column is not a fixture-scale win,",
            "it is a ceiling remover: the stress table prices the",
            "single-partition window where it actually binds, and the",
            "penalty GROWS with rows (the sharded window scales out, the",
            "serialized one cannot).  At 100 TB the packer without a",
            "shard column would funnel the whole corpus through one task;",
            "with it, packing is one ordinary hash-partitioned window.",
            "Assembly (§17b) walls track total tokens linearly with zero",
            "invariant violations at every rung — the heavy token",
            "arrays cross the shuffle exactly once, already cut to the",
            "slice; at 100 TB the assembly is the dominant packing cost",
            "(it moves the corpus bytes, the geometry pass moves only",
            "counts), which is why it stays a separate operator: re-pack",
            "experiments iterate on geometry without re-shuffling text.",
            "Broadcast headroom, measured: the geometry side is still",
            "broadcast at the top rung (slice rows are ~5 bigints, so",
            "the 10 MB default threshold holds to roughly 2M slices —",
            "another ~12x past the top rung here), and the forced",
            "post-flip row prices the plan past it: sort-merge join,",
            "exchanges 1 -> 4 (both join sides shuffle on the doc key,",
            "then the agg shuffles on the chunk key), wall COMPARABLE —",
            "even slightly faster here, since broadcasting 165k rows to",
            "every task isn't free either.  The flip is a constant-",
            "factor step, not a cliff; the real cost it adds at corpus",
            "scale is the token arrays crossing one extra shuffle, and",
            "the deployment answer is co-partitioning — generate",
            "geometry from the token frame itself (or bucket both sides",
            "by the doc key) and the join is collocated at any size, as",
            "the assemble_chunks docstring prescribes.",
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
    path.write_text(
        head + "\n" + section + "\n" + (("\n" + tail) if tail else "")
    )
    print(f"updated {path}")


if __name__ == "__main__":
    main()
