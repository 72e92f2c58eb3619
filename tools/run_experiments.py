"""Run the three reference-parity experiments and record EXPERIMENTS.md.

Each demo reproduces a published claim of the reference (BASELINE.md) on
real data with measured bytes; this script captures the evidence in one
committed artifact.

Usage: python tools/run_experiments.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bigdatastructure_a5_spark.session import get_spark

#: Root of the driver's fixture family.  The [sf_dir] CLI argument selects
#: the scale for the reference-parity sections (1-3, 7); the scale-UP
#: sections (4, 5, streaming, recall) by design sweep the whole
#: sf0.001-sf0.1 family under this root (override via the
#: SPARK_GRAFT_TESTDATA env var), since their point is the cross-scale
#: curve, not a single scale.
import os

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else f"{TESTDATA}/sf0.01"
    spark = get_spark("experiments")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# EXPERIMENTS — the reference's published claims, re-measured on real data",
        "",
        f"Generated by `tools/run_experiments.py {sf_dir}`.  Costs use the",
        "reference's units (time/carbon/price per GB, 5x network on shuffle)",
        "over MEASURED scan/shuffle bytes; the reproduced facts are the",
        "*orderings* (BASELINE.md: 'behavioral expectations, not wall-clock",
        "targets').",
        "",
    ]

    # 1. challenge: 4 denormalization layouts (reference REPORT.md:157-173)
    from bigdatastructure_a5_spark.catalog import load_tables
    from bigdatastructure_a5_spark.examples.challenge_demo import DENORMS, WORKLOAD
    from bigdatastructure_a5_spark.plans.workload import run_workload

    base = load_tables(spark, sf_dir, ("part", "lineitem"))
    with tempfile.TemporaryDirectory(prefix="exp_challenge_") as storage:
        rep = run_workload(spark, base, DENORMS, WORKLOAD, storage)
    out += [
        "## 1. Challenge: denormalization leaderboard (reference: D1/normalized wins)",
        "",
        "```",
        rep.to_text(),
        "```",
        f"Winner: **{rep.leaderboard()[0][0]}** — reference's simulated winner: DB1 "
        "(normalized), REPORT.md:173.  Reproduced: the hot brand filter at freq 1000 "
        "dominates, and it is cheapest on the normalized layout.",
        "",
    ]

    # 2. chapter5 movie workload (reference REPORT.md:157-173, DB1 vs DB2)
    from bigdatastructure_a5_spark.examples.chapter5_demo import (
        DB1,
        DB2,
        WORKLOAD as MOVIE_WORKLOAD,
        movie_base_tables,
    )

    mbase = movie_base_tables(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="exp_movie_") as storage:
        mrep = run_workload(spark, mbase, [DB1, DB2], MOVIE_WORKLOAD, storage)
    out += [
        "## 2. Movie workload: DB1 (normalized) vs DB2 (Review embeds movie fields)",
        "",
        "```",
        mrep.to_text(),
        "```",
        f"Winner: **{mrep.leaderboard()[0][0]}** — reference: DB1 on all three "
        "metrics (REPORT.md:173).  Reproduced: embedding title/genre into every "
        "review inflates the review scans that dominate this workload "
        "(reference per-query table REPORT.md:167-171 shows the same ~2.6x "
        "penalty on Q3/Q4/Q5).",
        "",
    ]

    # 3. sharding: Q6/Q7 shuffle avoidance (reference REPORT.md:150-155)
    from bigdatastructure_a5_spark.examples.sharding_demo import run as shard_run

    res = shard_run(spark, sf_dir)
    out += [
        "## 3. Sharding: aggregation on vs off the placement key (reference Q6/Q7)",
        "",
        "| case | shuffle MiB | time cost | reference analogue |",
        "| --- | --- | --- | --- |",
    ]
    ref_notes = {
        "q6_sharded": "Q6 sharded: 2.8349 (shuffle avoided)",
        "q6_unsharded": "Q6 unsharded: 25.1867",
        "q7_unaligned": "Q7 unaligned date-group: 879.2746 (worst)",
    }
    for name, qm in res.items():
        out.append(
            f"| {name} | {qm.shuffle_bytes / 2**20:.3f} | "
            f"{qm.costs()['time']:.6f} | {ref_notes[name]} |"
        )
    out += [
        "",
        "Reproduced: the bucket-aligned aggregation produces ZERO shuffle bytes "
        "(no Exchange in the plan — the reference's shuffle-free sharded case), "
        "and the unaligned variants pay the 5x-network-priced shuffle.",
    ]

    # 4. LSH candidate growth: empirical subquadratic curve (VERDICT r3 #3)
    out += lsh_candidate_growth(spark)
    # 4 (cont.): the inverted-index family's own candidate curve (r5 #2)
    out += ngram_candidate_growth(spark)

    # 5. end-to-end curation pipeline scale-up (same code as the gate query)
    out += curation_scale_up(spark)

    # 5 (cont.): streaming stateful-join scale-up on a 10x events corpus
    out += streaming_scale_up(spark)

    # 6. static record of the measured ANN fixed-cost amortization (r4)
    out += ANN_AMORTIZATION_SECTION
    out += ann_recall_sweep(spark)

    # 7. db-signature leaderboard: Q1-Q5 measured on each real layout
    out += signature_comparison(spark)

    # preserve the bench-variance section (tools/bench_variance.py owns it)
    path = Path(__file__).resolve().parent.parent / "EXPERIMENTS.md"
    prior = path.read_text() if path.exists() else ""
    variance = ""
    if VARIANCE_MARKER in prior:
        variance = VARIANCE_MARKER + prior.split(VARIANCE_MARKER, 1)[1]
    path.write_text("\n".join(out) + "\n" + ("\n" + variance if variance else ""))
    print(f"wrote {path}")


def _rotated_docs(spark, sf_dir: str, copies: int):
    """A ``copies``x documents corpus: slice k rotates the lowercase
    alphabet by k (F.translate), so WITHIN a slice the shingle-equality
    structure (hence the true near-dup pairs) is exactly the original's,
    while slices share (almost) no vocabulary.  True pairs therefore grow
    LINEARLY with corpus size — the right null model for checking that
    candidate volume does too."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.count()
    alpha = "abcdefghijklmnopqrstuvwxyz"
    slices = []
    for k in range(copies):
        rot = alpha[k:] + alpha[:k]
        slices.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * n)).alias("doc_id"),
                F.translate("text", alpha, rot).alias("text"),
            )
        )
    base = slices[0]
    for s in slices[1:]:
        base = base.unionAll(s)
    return base


def _rotated_embeddings(spark, sf_dir: str, copies: int):
    """A ``copies``x embeddings corpus: slice k rotates the dimension order
    by k — norms and within-slice pairwise cosines are preserved exactly,
    cross-slice vectors decorrelate.  Same linear-truth null model as
    _rotated_docs."""
    import pyspark.sql.functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    dim = len(emb.first()["embedding"])
    slices = []
    for k in range(copies):
        rot = F.expr(
            f"transform(sequence(0, {dim - 1}), "
            f"i -> element_at(embedding, pmod(i + {k}, {dim}) + 1))"
        )
        slices.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * n)).alias("vec_id"),
                rot.alias("embedding"),
            )
        )
    base = slices[0]
    for s in slices[1:]:
        base = base.unionAll(s)
    return base


def lsh_candidate_growth(spark) -> list[str]:
    """Measure candidate-pair counts vs corpus size for the two banded-LSH
    families (minhash over text shingles; hyperplane buckets over
    embeddings).  COVERAGE.md argues the subquadratic curve analytically
    (dedup.py banding math); this records it empirically: candidates grow
    ~linearly with corpus size while the all-pairs denominator grows
    quadratically."""
    import time

    import pyspark.sql.functions as F

    from bigdatastructure_a5_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )
    from bigdatastructure_a5_spark.operators.similarity import (
        rademacher_signs,
        with_lsh_buckets,
    )
    from bigdatastructure_a5_spark.session import (
        ensure_min_partitions,
        materialize_release,
    )

    out = [
        "## 4. LSH candidate growth: the subquadratic curve, measured",
        "",
        "Corpora: the three driver fixtures plus a synthetic 10x of sf0.1",
        "(alphabet-rotated text slices / dimension-rotated embedding slices —",
        "transforms that PRESERVE within-slice near-dup structure, so the true",
        "pair count grows linearly and any superlinear candidate growth would",
        "be the algorithm's fault, not the data's).",
        "",
        "| corpus | n docs | minhash-LSH candidates | all-pairs | cand/doc | secs |",
        "| --- | --- | --- | --- | --- | --- |",
    ]
    # x30/x100 use the word-salt construction (_salted_docs) rather than
    # the alphabet rotation: only 26 distinct rotations exist, so beyond
    # x26 rotated slices would repeat text verbatim; the salt map is
    # bijective per slice at any copies and preserves the same
    # linear-truth property (within-slice trigram structure intact,
    # cross-slice overlap only on stopword runs)
    doc_corpora = [
        ("sf0.001", spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")),
        ("sf0.01", spark.read.parquet(f"{TESTDATA}/sf0.01/documents.parquet")),
        ("sf0.1", spark.read.parquet(f"{TESTDATA}/sf0.1/documents.parquet")),
        ("sf0.1 x10", _rotated_docs(spark, f"{TESTDATA}/sf0.1", 10)),
        ("sf0.1 x30 (salted)", _salted_docs(spark, f"{TESTDATA}/sf0.1", 30)),
        ("sf0.1 x100 (salted)", _salted_docs(spark, f"{TESTDATA}/sf0.1", 100)),
    ]
    for label, docs in doc_corpora:
        # persist before counting: the salted/rotated corpora are
        # many-branch unions, and an unpersisted count() re-scans the base
        # parquet once per branch, then shingling would re-scan them all
        # again
        docs = docs.persist()
        n = docs.count()
        t0 = time.perf_counter()
        tracked: list = [docs]
        shingled = ensure_min_partitions(
            shingle_sets(docs, "doc_id", "text", 3)
        ).persist()
        tracked.append(shingled)
        cands = lsh_candidate_pairs(
            minhash_signatures(shingled, 128), 32, 4, tracker=tracked
        )
        cands = materialize_release(cands, tracked)
        c = cands.count()
        dt = time.perf_counter() - t0
        cands.unpersist(blocking=False)
        out.append(
            f"| {label} | {n} | {c} | {n * (n - 1) // 2} | {c / n:.2f} | {dt:.1f} |"
        )

    out += [
        "",
        "(The x30/x100 corpora use the word-salt construction — only 26",
        "distinct alphabet rotations exist — with the same linear-truth",
        "property; see the _salted_docs docstring.)",
        "",
        "Hyperplane (SRP) buckets have a SIZING RULE the text family does",
        "not need: a table has 2^planes buckets, so planes must track",
        "log2(n) or the bucket space saturates and the self-join degrades",
        "toward all-pairs.  Since r5 the rule is CODE, not prose:",
        "`operators/similarity.auto_planes` (max(4, ceil(log2 n) - 5)) is",
        "cosine_pairs_lsh's default when n_planes is omitted, pytest-pinned",
        "at x10 (`test_auto_planes_rule_and_x10_candidate_bound`).  The",
        "sweep below shows both the failure mode (planes pinned at 4,",
        "saturating at 10x) and the rule restoring the linear curve:",
        "",
        "| corpus | n vecs | planes | bucket-join candidates | all-pairs | cand/vec | secs |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    emb_corpora = [
        ("sf0.001", spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet"), (4,)),
        ("sf0.01", spark.read.parquet(f"{TESTDATA}/sf0.01/embeddings.parquet"), (4,)),
        ("sf0.1", spark.read.parquet(f"{TESTDATA}/sf0.1/embeddings.parquet"), (4, 11)),
        ("sf0.1 x10", _rotated_embeddings(spark, f"{TESTDATA}/sf0.1", 10), (4, 11, 14)),
    ]
    for label, emb, planes_sweep in emb_corpora:
        n = emb.count()
        dim = len(emb.first()["embedding"])
        emb = ensure_min_partitions(emb).persist()
        emb.count()
        for n_planes in planes_sweep:
            t0 = time.perf_counter()
            signs = rademacher_signs(8, n_planes, dim, 42)
            bucketed = with_lsh_buckets(emb, signs)
            melted = bucketed.select(
                F.col("vec_id").cast("long").alias("id"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(t).alias("t"),
                                F.col(f"bucket_{t}").alias("b"),
                            )
                            for t in range(8)
                        ]
                    )
                ).alias("tb"),
            ).select("id", "tb.t", "tb.b").persist()
            a, b = melted.alias("a"), melted.alias("b")
            c = (
                a.join(
                    b,
                    (F.col("a.t") == F.col("b.t"))
                    & (F.col("a.b") == F.col("b.b"))
                    & (F.col("a.id") < F.col("b.id")),
                )
                .select("a.id", "b.id")
                .distinct()
                .count()
            )
            dt = time.perf_counter() - t0
            melted.unpersist(blocking=False)
            out.append(
                f"| {label} | {n} | {n_planes} | {c} | {n * (n - 1) // 2} | "
                f"{c / n:.2f} | {dt:.1f} |"
            )
        emb.unpersist(blocking=False)
    out += [
        "",
        "Reading: the text family's candidates-per-doc is flat at 0.05 across",
        "1000x of corpus — 500 to 500,000 documents — while the all-pairs",
        "denominator grows to 1.25e11 (banding does the pruning at any n).",
        "The SRP family is flat",
        "ONLY when planes track log2(n) — with the gate-sized 4 planes the",
        "16-bucket tables saturate at 10x and candidates approach all-pairs,",
        "with planes ~ log2(n)-5 (so ~2^5 vectors per bucket) the curve is",
        "linear again.  That sizing rule is documented on",
        "operators/similarity.py:cosine_pairs_lsh / with_lsh_buckets.",
        "",
        "SimHash chunk candidates are the third family, with a FIXED bucket",
        "space (2^(64/chunks) per chunk): collisions grow ~n²/2^width, i.e.",
        "quadratic asymptotically but with a constant the chunk width",
        "controls.  The sweep separates the two knobs: CHUNK COUNT buys the",
        "pigeonhole recall bound (d < chunks) at the price of smaller",
        "buckets, so chunks=5 (five 12-bit chunks) produces 2.5-4x the",
        "candidates of chunks=4 (three 16-bit chunks + the 12-effective-bit",
        "top chunk of a 60-bit md5 print) — the volume knob is WIDTH",
        "(wider prints, e.g. the 64-bit xxhash64 fingerprint mode, give",
        "four full 16-bit chunks), not extra chunks:",
        "",
        "| corpus | n docs | chunks | candidates | all-pairs | cand/doc | secs |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    from bigdatastructure_a5_spark.operators.dedup import (
        simhash64,
        simhash_chunk_candidates,
    )

    sim_corpora = [
        ("sf0.1", spark.read.parquet(f"{TESTDATA}/sf0.1/documents.parquet")),
        ("sf0.1 x10", _rotated_docs(spark, f"{TESTDATA}/sf0.1", 10)),
    ]
    for label, docs in sim_corpora:
        prints = ensure_min_partitions(
            simhash64(docs, "doc_id", "text")
        ).persist()
        n_prints = prints.count()
        for chunks in (4, 5):
            t0 = time.perf_counter()
            # tracker, not the standalone path: the standalone call would
            # materialize_release the (multi-million-row at 10x) candidate
            # frame into the session result-cache window; here the chunked
            # intermediate is dropped as soon as the count lands
            tr: list = []
            c = simhash_chunk_candidates(prints, chunks, tracker=tr).count()
            for df in tr:
                df.unpersist(blocking=False)
            dt = time.perf_counter() - t0
            out.append(
                f"| {label} | {n_prints} | {chunks} | {c} | "
                f"{n_prints * (n_prints - 1) // 2} | {c / n_prints:.2f} | "
                f"{dt:.1f} |"
            )
        prints.unpersist(blocking=False)
    out += [
        "",
        "Production guidance from the three curves: banded minhash-LSH is",
        "the subquadratic text-dedup workhorse; simhash's chunk join is",
        "the cheaper fingerprint while candidate volume fits its",
        "n²/2^width constant (as n grows, widen chunks — wider prints —",
        "keeping chunk count at the recall bound, rather than adding",
        "chunks); SRP bucket joins need the planes ~ log2(n) co-sizing.",
    ]
    return out




def ngram_candidate_growth(spark) -> list[str]:
    """The n-gram Jaccard inverted-index candidate curve (VERDICT r5 item
    2): unlike minhash-LSH (whose banding prunes at any n — curve above),
    the inverted-index join's cost is sum over shingles of C(df, 2), so a
    single boilerplate shingle shared across the corpus grows the join
    quadratically.  This measures that failure mode AND the fix
    (`jaccard_pairs(df_cap=...)` — drop shingles with document frequency
    above the cap from the shingle space): uncapped join rows, capped join
    rows, the realized distinct candidate pairs under the cap, and the
    cap's hit rate."""
    import time

    import pyspark.sql.functions as F

    from bigdatastructure_a5_spark.operators.dedup import shingle_sets
    from bigdatastructure_a5_spark.session import ensure_min_partitions

    CAP = 64  # boilerplate threshold: far above any true near-dup group
    out = [
        "",
        "**n-gram Jaccard inverted-index candidates** — the only dedup",
        "family member whose candidate stage has no banding: cost is",
        "sum(C(df,2)) over shingle document frequencies, so shared",
        "boilerplate (here: stopword-run trigrams, which the word-salt",
        "construction deliberately preserves across slices) grows it",
        "quadratically.  The df_cap knob (`jaccard_pairs(df_cap=...)`)",
        f"removes shingles with df > {CAP} from the shingle space —",
        "deterministic, so a capped oracle stays expressible.  'join rows'",
        "is the exact row count the inverted-index self-join materializes",
        "(computed from the df histogram); 'candidates' is the realized",
        "distinct pair count under the cap; secs times the capped",
        "candidate count end-to-end (shingle → df → anti-join → self-join):",
        "",
        "| corpus | n docs | occurrences | uncapped join rows | capped join rows |"
        " candidates (capped) | cand/doc | shingles > cap | occ removed | secs |",
        "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |",
    ]
    doc_corpora = [
        ("sf0.1", spark.read.parquet(f"{TESTDATA}/sf0.1/documents.parquet")),
        ("sf0.1 x10", _rotated_docs(spark, f"{TESTDATA}/sf0.1", 10)),
        ("sf0.1 x30 (salted)", _salted_docs(spark, f"{TESTDATA}/sf0.1", 30)),
        ("sf0.1 x100 (salted)", _salted_docs(spark, f"{TESTDATA}/sf0.1", 100)),
    ]
    for label, docs in doc_corpora:
        docs = docs.persist()
        n = docs.count()
        t0 = time.perf_counter()
        sh = ensure_min_partitions(
            shingle_sets(docs, "doc_id", "text", 3)
        ).persist()
        exploded = sh.select("id", F.explode("shingles").alias("g")).persist()
        occ = exploded.count()
        dfreq = (
            exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df")).persist()
        )
        s = dfreq.agg(
            F.sum(F.col("df") * (F.col("df") - 1)).alias("unc2"),
            F.sum(
                F.when(
                    F.col("df") <= CAP, F.col("df") * (F.col("df") - 1)
                ).otherwise(F.lit(0))
            ).alias("cap2"),
            F.sum(F.when(F.col("df") > CAP, 1).otherwise(0)).alias("nhot"),
            F.sum(
                F.when(F.col("df") > CAP, F.col("df")).otherwise(F.lit(0))
            ).alias("occ_rm"),
        ).collect()[0]
        hot = dfreq.filter(F.col("df") > CAP).select("g")
        kept = exploded.join(F.broadcast(hot), "g", "left_anti")
        a, b = kept.alias("a"), kept.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.g") == F.col("b.g"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select("a.id", "b.id")
            .distinct()
            .count()
        )
        dt = time.perf_counter() - t0
        for df_ in (dfreq, exploded, sh, docs):
            df_.unpersist(blocking=False)
        out.append(
            f"| {label} | {n} | {occ} | {s['unc2'] // 2} | {s['cap2'] // 2} | "
            f"{cands} | {cands / n:.2f} | {s['nhot']} | "
            f"{(s['occ_rm'] or 0) / occ:.2%} | {dt:.1f} |"
        )
    out += [
        "",
        "Reading: capped join rows and realized candidates are exactly",
        "LINEAR (candidates/doc flat to the second decimal across 100x of",
        "corpus), while the uncapped-minus-capped GAP — the contribution",
        "of the few boilerplate shingles the cap removes, a 0.03% slice",
        "of occurrences — grows quadratically (x30 -> x100 is 3.3x the",
        "corpus but ~11x the gap).  At this corpus the gap is still only",
        "~3% of join rows; at 1000x it would dominate, which is why the",
        "x10 sweep cell for the UNCAPPED gate query is already the",
        "slowest pure-dedup cell in EXPERIMENTS §9.  Production rule:",
        "`jaccard_pairs(df_cap≈64)` at corpus scale (the capped",
        "vocabulary is deterministic, so the oracle stays expressible),",
        "or prefer minhash-LSH, whose banding prunes without a",
        "vocabulary knob (§4 curve) and generates ~4000x fewer",
        "candidates per doc (0.05 vs 226 — banding requires band-hash",
        "equality, the inverted index any single shared shingle).",
    ]
    return out


# single source of truth for the variance header: bench_variance.py owns
# the section, and importing its constant means a future renumbering
# cannot silently desynchronize the two tools (and drop the section).
from tools.bench_variance import SECTION as VARIANCE_MARKER  # noqa: E402

def ann_recall_sweep(spark) -> list[str]:
    """Measured recall@10 vs scanned-fraction for both ANN families' tuning
    knobs (IVF n_probe, LSH n_tables) against the exact brute-force top-10
    on the sf0.1 embeddings — the production trade-off curve: recall rises
    with the fraction of the corpus the probe admits, and the knob chooses
    the point on that curve."""
    import pyspark.sql.functions as F

    from bigdatastructure_a5_spark.operators.similarity import (
        ann_lsh_topk,
        brute_force_topk,
        ivf_probe_predicate,
        ivf_topk,
        lsh_query_predicate,
        rademacher_signs,
        seed_point_centroids,
        with_ivf_cells,
        with_lsh_buckets,
    )

    sf_dir = f"{TESTDATA}/sf0.1"
    emb_all = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [
        float(x)
        for x in emb_all.filter(F.col("vec_id") == 0).first().embedding
    ]
    emb = emb_all.filter(F.col("vec_id") != 0).persist()
    n = emb.count()
    exact = {r.vec_id for r in brute_force_topk(emb, qv, k=10).collect()}

    out = [
        "",
        "Recall@10 vs scanned fraction, measured on the sf0.1 embeddings",
        "(exact top-10 = brute force; scanned = rows the probe filter",
        "admits).  The knob walks the standard ANN trade-off curve — more",
        "probes/tables admit more of the corpus and recover more of the",
        "true neighbours:",
        "",
        "| family | knob | scanned rows | scanned % | recall@10 |",
        "| --- | --- | --- | --- | --- |",
    ]

    cents = seed_point_centroids(emb, 16)
    celled = with_ivf_cells(emb, cents, "embedding", "__cell").persist()
    celled.count()
    # ivf_topk's own probe ranking, so the scanned counts describe exactly
    # the cells the operator probes
    for n_probe in (1, 2, 4, 8, 16):
        probe = ivf_probe_predicate(qv, cents, n_probe, "__cell")
        scanned = celled.filter(probe).count()
        got = {
            r.vec_id
            for r in ivf_topk(
                emb, qv, k=10, n_centroids=16, n_probe=n_probe, centroids=cents
            ).collect()
        }
        out.append(
            f"| IVF (16 cells) | n_probe={n_probe} | {scanned} | "
            f"{100 * scanned / n:.0f}% | {len(got & exact) / 10:.1f} |"
        )
    celled.unpersist(blocking=False)

    # ONE 8-table bucket projection serves every sweep point: the
    # md5-derived plane family is prefix-stable in the table index
    # (rademacher_signs hashes seed:t:p:d), so the n_tables=k query reads
    # bucket_0..bucket_{k-1} of the 8-table materialization
    signs8 = rademacher_signs(8, 4, len(qv), 42)
    bucketed = with_lsh_buckets(emb, signs8).persist()
    bucketed.count()
    for n_tables in (1, 2, 4, 8):
        cond = lsh_query_predicate(qv, signs8[:n_tables])
        scanned = bucketed.filter(cond).count()
        got = {
            r.vec_id
            for r in ann_lsh_topk(
                emb, qv, k=10, n_planes=4, n_tables=n_tables,
                bucketed=bucketed,
            ).collect()
        }
        out.append(
            f"| LSH (4 planes) | n_tables={n_tables} | {scanned} | "
            f"{100 * scanned / n:.0f}% | {len(got & exact) / 10:.1f} |"
        )
    bucketed.unpersist(blocking=False)
    emb.unpersist(blocking=False)
    out += [
        "",
        "(Read with section 4's sizing rule: at this 2k-vector fixture the",
        "16-bucket tables admit large fractions — production raises planes",
        "with log2(n), moving every row of this curve left.)",
    ]
    return out


#: Static history of VERDICT r3 item 1's resolution — phase timings measured
#: on sim_ann_lsh at sf0.1, local[32] (see the round-4 commits for each step).
ANN_AMORTIZATION_SECTION = """
## 6. ANN fixed-cost amortization, measured (sf0.1, local[32])

`sim_ann_lsh` phase breakdown (warm JVM, min of reps; build = driver-side
plan construction, plan = Catalyst analysis+physical planning, exec = full
noop-sink execution):

| configuration | build s | plan s | exec s | total s |
| --- | --- | --- | --- | --- |
| r3: rendered-SQL literal matrix, Spark-job query fetch | 0.54 | 0.07 | 0.45 | 1.05 |
| + pyarrow point-read for the query vector | 0.40 | 0.07 | 0.37 | 0.84 |
| + session temp view holding the analyzed bucket projection | 0.11 | 0.06 | 0.37 | ~0.55 |
| + rendered-SQL probe/score tail (one spark.sql call) | ~0.02 | 0.05 | 0.35 | ~0.40 |

Two rejected alternatives, both measured (see
`operators/similarity.with_lsh_buckets` docstring and the
catalyst-pitfalls section of README.md):

- bit-packing the ±1 plane matrix into 32 BIGINT words shrank the parse
  but moved the decode into the per-element fold — exec 0.37 -> 0.97 s
  (HOF lambdas are interpreted; never trade per-row work for parse time);
- unrolling the fold into flat ±-term chains (the DuckDB oracle's shape)
  exec'd at 2.5-3.0 s — codegen bails on ~2k-node scalar trees and deep
  interpretation is slower than the HOF fold it replaced.

The production reading: bucket/cell columns are write-time corpus columns,
so per-query cost is probe + score only; the temp view gives the gate
queries the same amortization engine-side without caching any data (pinned
by `test_ann_view_share_is_plan_only_and_stable`).
""".splitlines()


def _salted_docs(spark, sf_dir: str, copies: int):
    """A ``copies``x documents corpus that the CURATION GATES still pass:
    slice k maps every non-stopword token t -> 'txk' (bijective per
    slice), leaving stopwords intact.  Unlike the alphabet rotation (which
    destroys the English markers and so gets language-gated out), slices
    keep their lang-ID and quality profile; within a slice the
    trigram-equality structure is the original's (bijective word map), and
    cross-slice docs share only stopword-run trigrams — well under the
    0.8 Jaccard truth threshold.  True near-dup pairs therefore grow
    linearly with corpus size."""
    import pyspark.sql.functions as F

    from bigdatastructure_a5_spark.catalog import load_table
    from bigdatastructure_a5_spark.operators.text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_arr = "array(" + ",".join(f"'{w}'" for w in stop) + ")"
    slices = [docs]
    for k in range(1, copies):
        salted = F.expr(
            f"concat_ws(' ', transform(split(text, ' '), "
            f"t -> CASE WHEN array_contains({stop_arr}, lower(t)) THEN t "
            f"ELSE concat(t, 'x{k}') END))"
        )
        slices.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * n)).alias("doc_id"),
                salted.alias("text"),
            )
        )
    base = slices[0]
    for s in slices[1:]:
        base = base.unionAll(s)
    return base


def _scaled_events_file(sf_dir: str, copies: int, out_dir: str) -> None:
    """Write a ``copies``x events.parquet into ``out_dir``: slice k shifts
    user_id and event_id by disjoint offsets (timestamps unchanged), so
    every join/windowing key structure is the original's PER SLICE and the
    true stream-stream join output grows exactly linearly.  Written with
    pyarrow as ONE file (read_events_stream globs the literal file name)
    and preserving the fixture's physical timestamp type."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet")
    uoff = pc.max(t.column("user_id")).as_py() + 1
    eoff = pc.max(t.column("event_id")).as_py() + 1
    slices = [t]
    for k in range(1, copies):
        s = t
        for col, off in (("user_id", k * uoff), ("event_id", k * eoff)):
            i = s.schema.get_field_index(col)
            s = s.set_column(i, col, pc.add(s.column(col), off))
        slices.append(s)
    pq.write_table(pa.concat_tables(slices), f"{out_dir}/events.parquet")


def streaming_scale_up(spark) -> list[str]:
    """Wall-clock of the REAL Structured Streaming interval join (the
    events_streaming_interval_join gate flow: both sides watermarked,
    symmetric stateful join, single AvailableNow batch) at 1x and 10x of
    sf0.1 events.  Output rows growing exactly 10x confirms the key-offset
    corpus construction; wall growing ~linearly confirms the state-store
    machinery has no superlinear term — the watermark bound is what makes
    this the shape that survives 100 TB/day."""
    import time

    import pyarrow.parquet as pq

    from bigdatastructure_a5_spark.queries.events_queries import (
        run_error_click_stream_join,
    )

    out = [
        "",
        "The streaming twin, same construction (per-slice key offsets, so",
        "true join output grows exactly linearly): the gate's stream-stream",
        "interval join — watermarked both sides, symmetric stateful hash",
        "join, one AvailableNow batch — over 1x and 10x of sf0.1 events",
        "(run_error_click_stream_join, the exact gate-query flow):",
        "",
        "| corpus | events in | join rows out | secs |",
        "| --- | --- | --- | --- |",
    ]
    with tempfile.TemporaryDirectory(prefix="exp_sstream_") as tmp:
        # first streaming query in a session pays one-time machinery
        # (state-store providers, codegen); run 1x once untimed so both
        # recorded rows measure warm state
        for label, copies in (
            (None, 1),
            ("sf0.1 (1x)", 1),
            ("sf0.1 x10", 10),
        ):
            if copies == 1:
                ev_dir = f"{TESTDATA}/sf0.1"
            else:
                ev_dir = f"{tmp}/ev{copies}x"
                os.mkdir(ev_dir)
                _scaled_events_file(f"{TESTDATA}/sf0.1", copies, ev_dir)
            t0 = time.perf_counter()
            res = run_error_click_stream_join(
                spark,
                ev_dir,
                name=f"exp_stream_join_{copies}x_{label is None}",
                # state partitions sized to the corpus, as production would
                state_partitions=2 if copies == 1 else 8,
            )
            n_out = res.count()
            dt = time.perf_counter() - t0
            if label is None:
                continue
            n_in = pq.read_metadata(f"{ev_dir}/events.parquet").num_rows
            out.append(f"| {label} | {n_in} | {n_out} | {dt:.1f} |")
    return out


def signature_comparison(spark) -> list[str]:
    """Measured time cost of Q1-Q5 on each db1-5 signature's REAL layout
    (examples/query_simulator_demo.py) — the layout-selection answer the
    reference's simulator cannot give, since it prices every signature
    from one size table (`query_simulator/config.py:79-90`)."""
    from bigdatastructure_a5_spark.examples.query_simulator_demo import (
        DB_SIGNATURES,
        LAYOUTS,
        simulate_queries,
    )

    out = [
        "",
        "## 7. Database-signature leaderboard, measured on real layouts",
        "",
        "Q1-Q5 executed against each signature's materialized layout",
        "(layout-routed SQL, embeds via the workbench) at TWO scales —",
        "1e-4 and 1e-3 of the reference's document counts — so the",
        "penalty structure is a trend, not a point.  Time cost = measured",
        "scan GB + 5x-priced shuffle GB, the reference's constants.",
    ]
    totals_by_scale: dict[float, dict[str, float]] = {}
    for scale in (1e-4, 1e-3):
        out += [
            "",
            f"Scale {scale:g}:",
            "",
            "| signature | layout | Q1 | Q2 | Q3 | Q4 | Q5 | total | vs winner |",
            "| --- | --- | --- | --- | --- | --- | --- | --- | --- |",
        ]
        totals: dict[str, float] = {}
        rows = []
        for sig in DB_SIGNATURES:
            rs = simulate_queries(spark, sig, scale=scale)
            costs = [r["total"]["time_cost"] for r in rs]
            totals[sig] = sum(costs)
            rows.append((sig, costs))
        best = min(totals.values())
        for sig, costs in rows:
            out.append(
                f"| {sig} | {LAYOUTS[sig].description} | "
                + " | ".join(f"{c:.6f}" for c in costs)
                + f" | {sum(costs):.6f} | {sum(costs) / best:.2f}x |"
            )
        totals_by_scale[scale] = totals
    winner = min(totals_by_scale[1e-3], key=totals_by_scale[1e-3].get)
    winner_small = min(totals_by_scale[1e-4], key=totals_by_scale[1e-4].get)
    pen = {}
    for s, tot in totals_by_scale.items():
        best = min(tot.values())
        pen[s] = {sig: t / best for sig, t in tot.items()}
    trend = ", ".join(
        f"{sig} {pen[1e-4][sig]:.2f}x→{pen[1e-3][sig]:.2f}x"
        for sig in DB_SIGNATURES
        if sig != winner
    )
    out += [
        "",
        f"Measured winner at both scales: **{winner}**"
        + ("" if winner == winner_small else f" (1e-4: {winner_small})")
        + ".  The reconstruction layouts (DB3/DB4) pay full "
        "host-collection scans for product queries; the embedding layouts "
        "answer their covered joins join-free but carry wider rows.  "
        f"Relative penalty vs the winner, 1e-4 → 1e-3: {trend} — the "
        "floors on small collections (brand/date/warehouse) dilute at the "
        "larger scale, so the structural penalties the reference's model "
        "predicts dominate more, not less, as size grows.",
    ]
    return out


def curation_scale_up(spark) -> list[str]:
    """End-to-end wall-clock of the FULL curation pipeline (the exact
    curate_documents flow the gate query runs) at 1x/10x/30x/100x sf0.1
    (500k documents at 100x), using a gate-preserving corpus whose true
    near-dup structure grows linearly: near-linear wall-clock growth here
    means no stage of the composed pipeline (scoring, inverted-index
    dedup, anti-join) hides a quadratic term."""
    import time

    from bigdatastructure_a5_spark.queries.pipeline import curate_documents
    from bigdatastructure_a5_spark.session import ensure_min_partitions

    out = [
        "",
        "## 5. Curation pipeline scale-up: end-to-end linearity",
        "",
        "The full pipeline_curation flow (curate_documents — identical code",
        "to the oracle-gated query) over a stopword-preserving word-salt",
        "corpus (see _salted_docs: slices keep their language/quality",
        "profile, true near-dup pairs grow linearly).  Wall-clock is a warm",
        "single run per corpus.",
        "",
        "| corpus | docs in | docs kept | secs | secs/1x |",
        "| --- | --- | --- | --- | --- |",
    ]
    base = None
    per_slice: dict[int, float] = {}
    for label, copies in (
        ("sf0.1 (1x)", 1),
        ("sf0.1 x10", 10),
        ("sf0.1 x30", 30),
        ("sf0.1 x100", 100),
    ):
        docs = ensure_min_partitions(
            _salted_docs(spark, f"{TESTDATA}/sf0.1", copies)
        ).persist()
        n_in = docs.count()
        t0 = time.perf_counter()
        curated = curate_documents(docs)
        n_kept = curated.count()
        secs = time.perf_counter() - t0
        docs.unpersist()
        spark.catalog.clearCache()
        base = base or secs
        per_slice[copies] = secs / copies
        out.append(
            f"| {label} | {n_in} | {n_kept} | {secs:.1f} | {secs / base:.1f}x |"
        )
    out += [
        "",
        "Docs kept scaling with the corpus confirms the gates pass every",
        "slice; wall-clock growing SUB-linearly in corpus size (per-slice",
        "cost falls as fixed stage/scheduling overhead amortizes —",
        f"{per_slice[10]:.2f} s/slice at 10x vs {per_slice[100]:.2f} s/slice "
        "at 100x in this run)",
        "is the end-to-end confirmation of section 4's candidate-level",
        "curves: no stage of the composed pipeline hides a quadratic term",
        "through two further orders of magnitude.",
    ]
    return out


if __name__ == "__main__":
    main()
