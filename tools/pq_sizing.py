"""PQ compression + serving measured: bytes/vector, recall, secs/query.

Companion to §12 (IVF sizing): IVF bounds the rows a probe SCANS, PQ
bounds the bytes each row STORES.  This tool measures the actual parquet
footprint of PQ codes vs raw vectors (parquet bit-packs the < n_codes
ints, so the claimed ~1 B/code must be MEASURED, not asserted), ADC
recall@10 against brute force on the same held-out midpoint probes §12
uses, the exact-refine tier's recovery, and serving wall per query over
the stored representations — raw brute force vs full-corpus ADC vs
IVF-PQ (cell-partitioned store + codes, the FAISS IVFPQ shape).

Corpus: the §12 construction (rotation + hash-seeded jitter) at x100 and
x1000 of the sf0.1 embeddings (200k / 2M vectors) by default; pass copy
counts to override.  Owns the "## 14." section of EXPERIMENTS.md (same splice
protocol as ivf_sizing / streaming_scale).

Usage: python tools/pq_sizing.py [copies ...]   (default: 100 1000)
"""

from __future__ import annotations

import shutil
import statistics
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402
from timing import N_REPS, timed_reps  # noqa: E402

SECTION = "## 14. PQ compression + ADC serving, measured"
STORE_ROOT = Path("/tmp/bds_pq_sizing")
N_QUERIES = 5
PQ_CONFIGS = ((8, 256), (16, 256))  # (m sub-vectors, codes per sub-space)


def dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def measure(spark, copy_points) -> list[str]:
    from ivf_sizing import scaled_embeddings

    from bigdatastructure_a5_spark.operators.quantization import (
        fit_pq_codebook,
        fit_sq8_bounds,
        ivf_pq_topk,
        pq_adc_topk,
        sq8_dot_topk,
        with_pq_codes,
        with_sq8_codes,
    )
    from bigdatastructure_a5_spark.operators.similarity import (
        auto_cells,
        auto_probe,
        brute_force_topk,
        fit_centroids_sample,
        with_ivf_cells,
    )

    rows = []
    for copies in copy_points:
        emb = scaled_embeddings(spark, copies).persist()
        n = emb.count()
        # held-out midpoint probes, exactly §12's query model (shared
        # derivation — cross-rotation-class pairs, ADVICE r8)
        from ivf_sizing import midpoint_probes

        qvs = midpoint_probes(emb, copies, N_QUERIES)
        exact = {
            i: [r.vec_id for r in brute_force_topk(emb, qv, k=10).collect()]
            for i, qv in enumerate(qvs)
        }
        STORE_ROOT.mkdir(exist_ok=True)

        # ---- baseline: raw vectors stored, brute-force serving ----
        raw_store = STORE_ROOT / f"x{copies}_raw"
        emb.write.mode("overwrite").parquet(str(raw_store))
        raw_mb = dir_bytes(str(raw_store)) / 1e6
        stored_raw = spark.read.parquet(str(raw_store))
        bf_sec = timed_reps(
            lambda: [
                brute_force_topk(stored_raw, qv, k=10).collect() for qv in qvs
            ]
        ) / len(qvs)
        rows.append(
            f"| {copies}x | {n:,} | raw float64 + brute force | - | "
            f"{raw_mb:.1f} | {raw_mb * 1e6 / n:.0f} | 100% | 100% | "
            f"{bf_sec} |"
        )
        print(rows[-1])

        # ---- SQ8 middle tier: one int8 code per dimension, encode and
        # serve both pure rendered expressions (zero Python anywhere) ----
        sq_bounds = fit_sq8_bounds(emb)
        sq_store = STORE_ROOT / f"x{copies}_sq8"
        with_sq8_codes(emb, sq_bounds).select(
            "vec_id", "sq8_code"
        ).write.mode("overwrite").parquet(str(sq_store))
        sq_mb = dir_bytes(str(sq_store)) / 1e6
        stored_sq = spark.read.parquet(str(sq_store))
        hits = total = 0
        for i, qv in enumerate(qvs):
            got = {
                r.vec_id
                for r in sq8_dot_topk(stored_sq, sq_bounds, qv, k=10).collect()
            }
            hits += len(got & set(exact[i]))
            total += len(exact[i])
        sq_sec = timed_reps(
            lambda: [
                sq8_dot_topk(stored_sq, sq_bounds, qv, k=10).collect()
                for qv in qvs
            ]
        ) / len(qvs)
        rows.append(
            f"| {copies}x | {n:,} | SQ8 (int8 per dim) | 64x int8 | "
            f"{sq_mb:.1f} | {sq_mb * 1e6 / n:.0f} | {hits / total:.0%} | "
            f"- | {sq_sec} |"
        )
        print(rows[-1])
        shutil.rmtree(sq_store, ignore_errors=True)

        # ---- IVF build shared by the IVFPQ row (auto sqrt(n) codebook) ----
        cells_mat = fit_centroids_sample(emb, auto_cells(n))
        cents = [
            (i, [float(x) for x in cells_mat[i]])
            for i in range(len(cells_mat))
        ]
        n_probe = auto_probe(len(cents))

        for m, n_codes in PQ_CONFIGS:
            book = fit_pq_codebook(emb, m=m, n_codes=n_codes)
            coded = with_pq_codes(emb, book).select("vec_id", "pq_code")
            code_store = STORE_ROOT / f"x{copies}_pq{m}x{n_codes}"
            coded.write.mode("overwrite").parquet(str(code_store))
            code_mb = dir_bytes(str(code_store)) / 1e6
            stored = spark.read.parquet(str(code_store))

            hits = r_hits = total = 0
            for i, qv in enumerate(qvs):
                got = {
                    r.vec_id
                    for r in pq_adc_topk(stored, book, qv, k=10).collect()
                }
                hits += len(got & set(exact[i]))
                # refine needs the raw column: production shortlists by
                # ADC first and joins only refine_factor*k ids against a
                # thin (id -> vector) tier; for the recall column the
                # corpus-wide join is equivalent and simpler
                ref = {
                    r.vec_id
                    for r in pq_adc_topk(
                        stored.join(stored_raw, "vec_id"),
                        book,
                        qv,
                        k=10,
                        refine="embedding",
                        refine_factor=4,
                    ).collect()
                }
                r_hits += len(ref & set(exact[i]))
                total += len(exact[i])
            adc_sec = timed_reps(
                lambda: [
                    pq_adc_topk(stored, book, qv, k=10).collect()
                    for qv in qvs
                ]
            ) / len(qvs)
            rows.append(
                f"| {copies}x | {n:,} | ADC m={m}, {n_codes} codes | "
                f"{m}x{n_codes} | {code_mb:.1f} | {code_mb * 1e6 / n:.0f} | "
                f"{hits / total:.0%} | {r_hits / total:.0%} | {adc_sec} |"
            )
            print(rows[-1])
            shutil.rmtree(code_store, ignore_errors=True)

            if (m, n_codes) == PQ_CONFIGS[-1]:
                # ---- IVFPQ: cell-partitioned store of (id, cell, codes) ----
                ivfpq_store = STORE_ROOT / f"x{copies}_ivfpq{m}x{n_codes}"
                (
                    with_pq_codes(
                        with_ivf_cells(emb, cents, "embedding", "__cell"),
                        book,
                    )
                    .select("vec_id", "pq_code", "__cell")
                    .repartition(
                        spark.sparkContext.defaultParallelism, F.col("__cell")
                    )
                    .write.mode("overwrite")
                    .partitionBy("__cell")
                    .parquet(str(ivfpq_store))
                )
                ivfpq_mb = dir_bytes(str(ivfpq_store)) / 1e6
                celled = spark.read.parquet(str(ivfpq_store))
                hits = r_hits = total = 0
                for i, qv in enumerate(qvs):
                    got = {
                        r.vec_id
                        for r in ivf_pq_topk(
                            celled, cents, book, qv, k=10, n_probe=n_probe
                        ).collect()
                    }
                    hits += len(got & set(exact[i]))
                    # the full production recipe: IVF probe -> ADC shortlist
                    # -> exact refine against the raw vector tier (the cell
                    # filter still prunes the celled side before the join)
                    ref = {
                        r.vec_id
                        for r in ivf_pq_topk(
                            celled.join(stored_raw, "vec_id"),
                            cents,
                            book,
                            qv,
                            k=10,
                            n_probe=n_probe,
                            refine="embedding",
                            refine_factor=4,
                        ).collect()
                    }
                    r_hits += len(ref & set(exact[i]))
                    total += len(exact[i])
                ivfpq_sec = timed_reps(
                    lambda: [
                        ivf_pq_topk(
                            celled, cents, book, qv, k=10, n_probe=n_probe
                        ).collect()
                        for qv in qvs
                    ]
                ) / len(qvs)
                rows.append(
                    f"| {copies}x | {n:,} | IVF-PQ {len(cents)} cells/"
                    f"{n_probe} probes, m={m} | {m}x{n_codes} | "
                    f"{ivfpq_mb:.1f} | {ivfpq_mb * 1e6 / n:.0f} | "
                    f"{hits / total:.0%} | {r_hits / total:.0%} | "
                    f"{ivfpq_sec} |"
                )
                print(rows[-1])

                # ---- the recall-recovery dial, measured (VERDICT r8
                # item 4): double the probes on the SAME stored build —
                # "raise n_probe first" is only a recovery path if the
                # refined recall actually climbs toward plain-ADC's at
                # ~2x the probed share ----
                hits = r_hits = total = 0
                for i, qv in enumerate(qvs):
                    got = {
                        r.vec_id
                        for r in ivf_pq_topk(
                            celled, cents, book, qv, k=10,
                            n_probe=2 * n_probe,
                        ).collect()
                    }
                    hits += len(got & set(exact[i]))
                    ref = {
                        r.vec_id
                        for r in ivf_pq_topk(
                            celled.join(stored_raw, "vec_id"),
                            cents,
                            book,
                            qv,
                            k=10,
                            n_probe=2 * n_probe,
                            refine="embedding",
                            refine_factor=4,
                        ).collect()
                    }
                    r_hits += len(ref & set(exact[i]))
                    total += len(exact[i])
                ivfpq2_sec = timed_reps(
                    lambda: [
                        ivf_pq_topk(
                            celled, cents, book, qv, k=10,
                            n_probe=2 * n_probe,
                        ).collect()
                        for qv in qvs
                    ]
                ) / len(qvs)
                rows.append(
                    f"| {copies}x | {n:,} | IVF-PQ, 2x probes "
                    f"({2 * n_probe}) | {m}x{n_codes} | "
                    f"{ivfpq_mb:.1f} | {ivfpq_mb * 1e6 / n:.0f} | "
                    f"{hits / total:.0%} | {r_hits / total:.0%} | "
                    f"{ivfpq2_sec} |"
                )
                print(rows[-1])
                shutil.rmtree(ivfpq_store, ignore_errors=True)
        shutil.rmtree(raw_store, ignore_errors=True)
        emb.unpersist()
    return rows


def sq8_outlier_rows(spark, copies: int = 100) -> list[str]:
    """§14b (VERDICT r8 item 5): exact-min/max vs quantile SQ8 bounds on
    a corpus with injected heavy-tail outliers.  ~0.1% of rows
    (deterministic: hash(vec_id) % 1000 == 0) are scaled x50 — the
    standard failure mode one outlier per dimension causes: exact bounds
    stretch to the tail and squash the 8-bit resolution for the 99.9%
    bulk; quantile bounds (fit_sq8_bounds(q=0.999), the FAISS RangeStat
    recipe) keep the step sized to the mass and clamp the tail.

    Bounds are FIT on the dirty corpus; recall is EVALUATED over the
    99.9% bulk (ground truth and serve both filtered to non-outliers).
    That split is the point of the experiment, not a convenience: over a
    corpus containing 50x-norm rows, inner-product ranking is dominated
    by the outliers for ANY encoder — a MIPS property, not a
    quantization artifact — while the question VERDICT r8 item 5 asks is
    strictly about FIT time: does one tail row per dimension destroy the
    encode resolution of everything else?  On the unit-norm bulk,
    inner product == cosine, so sq8_dot_topk and brute_force_topk rank
    on the same metric and recall isolates the quantization error."""
    from ivf_sizing import midpoint_probes, scaled_embeddings

    from bigdatastructure_a5_spark.operators.quantization import (
        fit_sq8_bounds,
        sq8_dot_topk,
        with_sq8_codes,
    )
    from bigdatastructure_a5_spark.operators.similarity import (
        brute_force_topk,
    )

    dirty = (
        scaled_embeddings(spark, copies)
        .withColumn(
            "embedding",
            F.expr(
                "CASE WHEN pmod(hash(vec_id), 1000) = 0 THEN "
                "transform(embedding, x -> x * 50.0D) ELSE embedding END"
            ),
        )
        .persist()
    )
    n = dirty.count()
    is_bulk = F.expr("pmod(hash(vec_id), 1000) != 0")
    bulk = dirty.filter(is_bulk)
    # probes draw from the dirty corpus (midpoint_probes refetches twin
    # ids that the bulk filter could have removed); a x50-scaled parent
    # only scales the probe, which scales every score uniformly and
    # changes no ranking
    qvs = midpoint_probes(dirty, copies, N_QUERIES)
    exact = {
        i: [r.vec_id for r in brute_force_topk(bulk, qv, k=10).collect()]
        for i, qv in enumerate(qvs)
    }
    rows = []
    STORE_ROOT.mkdir(exist_ok=True)
    for label, q in (("exact min/max", None), ("quantile q=0.999", 0.999)):
        bounds = fit_sq8_bounds(dirty, q=q)
        lo, hi = bounds
        step_p50 = statistics.median(
            (float(h) - float(l)) / 255.0 for l, h in zip(lo, hi)
        )
        store = STORE_ROOT / f"x{copies}_sq8_outlier_{'q' if q else 'mm'}"
        with_sq8_codes(dirty, bounds).select(
            "vec_id", "sq8_code"
        ).write.mode("overwrite").parquet(str(store))
        stored = spark.read.parquet(str(store)).filter(is_bulk)
        hits = total = 0
        for i, qv in enumerate(qvs):
            got = {
                r.vec_id
                for r in sq8_dot_topk(stored, bounds, qv, k=10).collect()
            }
            hits += len(got & set(exact[i]))
            total += len(exact[i])
        rows.append(
            f"| {copies}x + 0.1% x50 outliers | {n:,} | {label} | "
            f"{step_p50:.4f} | {hits / total:.0%} |"
        )
        print(rows[-1])
        shutil.rmtree(store, ignore_errors=True)
    dirty.unpersist()
    return rows


def main() -> None:
    from bigdatastructure_a5_spark.session import get_spark

    copy_points = (
        tuple(int(a) for a in sys.argv[1:]) if len(sys.argv) > 1 else (100, 1000)
    )
    spark = get_spark("pq-sizing")
    spark.sparkContext.setLogLevel("ERROR")
    rows = measure(spark, copy_points)
    outlier_rows = sq8_outlier_rows(spark)
    section = "\n".join(
        [
            SECTION,
            "",
            "`tools/pq_sizing.py`: product quantization",
            "(operators/quantization.py — the FAISS IVF-PQ shape) on the",
            "§12 corpus construction at x100 and x1000 of the sf0.1",
            "embeddings (200k / 2M vectors, dim 64, unit-norm).",
            "'stored MB' is the real",
            "parquet footprint of what serving reads (raw float64 array",
            "vs PQ code arrays — parquet bit-packs ints < 256, so",
            "~1 B/code holds without custom binary packing); recall@10 is",
            "against brute force over the same held-out midpoint probes",
            "§12 uses; 'refined' re-ranks the top 4k ADC candidates by",
            "exact cosine (the FAISS refine tier — its cost is",
            "candidates-sized, not corpus-sized); secs/query is the",
            "serving path over the STORED representation, median of",
            f"{N_REPS} reps after an excluded warm-up (the steal share",
            "of the timed reps beside it).  The IVF-PQ row",
            "composes the write-time cell partition (sqrt(n) codebook,",
            "auto probes) with the code column: the probe reads",
            "probes/cells of the corpus at ~bytes/vec of the PQ row.",
            "",
            "| corpus | n vecs | config | code shape | stored MB | "
            "bytes/vec | recall@10 | refined | secs/query |",
            "| --- | --- | --- | --- | --- | --- | --- | --- | --- |",
            *rows,
            "",
            "Reading: the memory math is the point.  Measured: a raw",
            "dim-64 float64 vector stores at 521 B/vec (3 KB at a",
            "production dim-768 float32); the SQ8 middle tier (one int8",
            "per dimension, encode AND serve pure rendered expressions)",
            "stores at 70 B/vec — a 7.4x cut at 90% recall on natural",
            "margins (x100) — while PQ codes store at 13 B/vec",
            "(m=8) and 22 B/vec (m=16) — a 24-40x cut that is the",
            "difference between 'the corpus fits in executor memory /",
            "page cache' and 'every probe is a disk scan' at 10^9",
            "vectors (1e9 x 22 B = 22 GB vs 3 TB raw).  The table shows",
            "the transition: at 200k rows (104 MB raw) everything fits",
            "cache, the serve is compute-bound, and secs/query tracks",
            "the byte cut only weakly; at 2M rows (1.0 GB raw) the",
            "brute scan is I/O-bound at ~3.3 s/q while ADC over 25-45 MB",
            "of codes serves at ~0.35-0.7 — a 5-9x wall win that GROWS",
            "with corpus size, which is the whole point.  On this",
            "near-uniform corpus (PQ's hardest case: neighbors are",
            "weakly separated, so code collisions blur ranking) raw ADC",
            "recall is moderate and FALLS with density (46%/66% at 200k",
            "-> 26%/38% at 2M for m=8/16; even SQ8's ~1e-3 dot noise",
            "drops to 68% at 2M — the x1000 jitter clouds pack the whole",
            "top-10 inside quantization noise, so the binding limit is",
            "NEIGHBOR MARGIN, not corpus size) while the exact-refine",
            "tier recovers what survives the shortlist (m=16: 66->90% at",
            "200k, 38->94% at 2M) at 4k-candidates cost; m=8's refined",
            "recall sticks at 64% at both scales — its coarser shortlist",
            "drops true neighbors before refine can rank them, the same",
            "lost-before-ranked failure as unprobed IVF cells —",
            "the production recipe is always ADC-shortlist + exact-refine",
            "over a thin vector tier, with m sized so the shortlist",
            "still CONTAINS the answer.  IVF-PQ stacks the two",
            "independent",
            "reductions: rows scanned (n^(3/4), §12) x bytes per row",
            "(this table) — 2.7% of the corpus at 21 B/vec at x1000,",
            "serving at ~0.45 s/q — and COMPOUNDS the two approximations'",
            "recall losses: its refine column caps BELOW plain ADC's",
            "(78% vs 94% at x1000, base probes) because true neighbors",
            "in unprobed cells are gone before ADC or refine ever rank",
            "them.  The recovery dial is now MEASURED, not asserted",
            "(VERDICT r8 item 4): the 2x-probes rows share the same",
            "build and double n_probe only — refined recall climbs",
            "52->64% at x100 and 78->86% at x1000 (toward plain ADC's",
            "94%) at essentially the same serve wall — the scanned share",
            "doubles to ~5% of the corpus but stays cache-resident at",
            "21 B/vec — confirming n_probe",
            "first, refine-tier second as the recovery order.  Train,",
            "encode, and store are all write-time; the LUT build is",
            "codebook-metadata-sized driver work per query (m x k",
            "sub-inner-products), and below PQ_SQL_MAX_LUT entries the",
            "whole serve is a rendered-SQL fold — zero Python stages,",
            "pinned in test_quantization.py.",
            "",
            "### 14b. SQ8 bounds vs heavy tails: exact min/max degrades,",
            "quantile holds",
            "",
            "Same x100 corpus with deterministic injected outliers (0.1%",
            "of rows scaled x50 — hash(vec_id) % 1000 == 0).  Exact",
            "per-dim min/max bounds stretch the quantization range to the",
            "tail, so the 8-bit step grows ~50x and the BULK of the",
            "corpus quantizes into a handful of levels; quantile bounds",
            "(`fit_sq8_bounds(q=0.999)` via approx_percentile — the FAISS",
            "ScalarQuantizer RangeStat recipe) size the step to the mass",
            "and clamp the 0.1% tail to code 0/255 (the encode's",
            "least/greatest clamp IS the tail clipping).  Bounds are fit",
            "on the DIRTY corpus; recall is evaluated over the 99.9%",
            "BULK (ground truth and serve both exclude the outlier rows)",
            "— over a corpus with 50x-norm rows, inner-product ranking",
            "is dominated by the outliers for any encoder (a MIPS",
            "property, not a quantization artifact), while the fit-time",
            "question is whether the tail destroys the bulk's encode",
            "resolution; on the unit-norm bulk, inner product == cosine,",
            "so the approximate and exact rankings share a metric and",
            "recall isolates the quantization error.  Same held-out",
            "midpoint probes.",
            "",
            "| corpus | n vecs | bounds | median step | recall@10 |",
            "| --- | --- | --- | --- | --- |",
            *outlier_rows,
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
    path.write_text(head + "\n" + section + "\n" + (("\n" + tail) if tail else ""))
    print(f"updated {path}")


if __name__ == "__main__":
    main()
