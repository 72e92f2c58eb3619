"""Benchmark decontamination for training corpora (extension scope,
BASELINE.json): flag corpus documents that CONTAIN evaluation-set text.

The question differs from dedup (operators/dedup.py) in shape, not
machinery: dedup asks "which pairs WITHIN one corpus are near-identical"
(symmetric Jaccard over one table); decontamination asks "which corpus
documents leak any part of a SEPARATE, much smaller benchmark set"
(directional containment across two tables).  The standard recipe is
n-gram overlap against the eval set — GPT-3 appendix C and PaLM
appendix D both decontaminate by exact n-gram collision (13-grams and
8-grams respectively); the operator here is that recipe on the shared
hashed-shingle representation.

Spark-first plan, designed for the 100 TB / tiny-benchmark asymmetry:

- the BENCHMARK side (eval sets: thousands to low millions of rows) is
  exploded into a (shingle-hash -> bench doc) inverted index and, when
  measured small enough, BROADCAST — the 100 TB corpus side then never
  shuffles: each corpus partition streams its exploded shingles through
  a map-side hash join, and only the HITS (rare by construction) enter
  the one aggregation shuffle, keyed (corpus_id, bench_id);
- the broadcast is size-GATED the same way pipeline.curate_documents
  gates its dropped-id set: count the exploded index, hint only under
  the bound, let AQE pick the strategy above it (a forced broadcast of
  an unexpectedly large benchmark OOMs every executor at once);
- overlap counts are DISTINCT-shingle collisions for free because
  shingle_sets emits array_distinct sets on both sides — no
  countDistinct (which would add a per-group dedup pass) anywhere;
- containment is directional: |corpus ∩ bench| / |bench| — "how much of
  this benchmark document appears in this training document" — so a
  long web page that embeds one full eval question scores ~1.0 against
  that question even though its symmetric Jaccard is ~0.

Like the dedup family this is absent from the reference (it ships no
data); the extension charter is BASELINE.json's training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.session import persist_df

#: Exploded benchmark indexes at or under this many (shingle, doc) rows get
#: the broadcast hint.  Each row is two bigints (~16 B plus relation
#: overhead), so 4M rows ~ 64 MiB — the same driver/executor budget
#: reasoning as pipeline.MAX_BROADCAST_DROP_IDS.  A full eval suite is far
#: smaller: ~100k questions x ~100 shingles = 10M hashes only for an
#: unusually large suite; typical suites sit well under the bound.
MAX_BROADCAST_BENCH_SHINGLES = 4_000_000


def contamination_matches(
    corpus_shingled: DataFrame,
    benchmark_shingled: DataFrame,
    min_containment: float = 0.5,
    min_overlap: int = 1,
    max_broadcast_bench_shingles: int | None = None,
    tracker: list | None = None,
) -> DataFrame:
    """(corpus_id, bench_id, overlap, bench_size, containment) for every
    corpus document sharing >= ``min_overlap`` distinct shingles with a
    benchmark document at containment >= ``min_containment``.

    Both inputs are ``(id, shingles)`` frames from
    ``dedup.shingle_sets(...)`` — corpus and benchmark MUST be shingled
    with the same n (the hashes only collide on identical word n-grams).
    ``containment = overlap / size(bench shingles)`` — directional,
    benchmark-normalized (see module docstring).

    ``max_broadcast_bench_shingles`` overrides the module bound; 0 forces
    the shuffle-join regime (tests exercise both).  ``tracker`` receives
    the persisted index frame (session.adopt_tracker's contract): with
    one, the caller releases it via materialize_release; without one,
    the result is checkpointed and the index released before returning.
    """
    from bigdatastructure_a5_spark.session import (
        adopt_tracker,
        require_generate_filter_exclusion,
    )

    require_generate_filter_exclusion(corpus_shingled.sparkSession)
    tracker, finish = adopt_tracker(tracker)
    bench_ix = persist_df(
        benchmark_shingled.select(
            F.col("id").alias("bench_id"),
            # bigint, not int: benchmark suites are small but the column
            # crosses the oracle's schema gate (DuckDB LEN -> BIGINT)
            F.size("shingles").cast("bigint").alias("bench_size"),
            F.explode("shingles").alias("g"),
        )
    )
    tracker.append(bench_ix)
    limit = (
        MAX_BROADCAST_BENCH_SHINGLES
        if max_broadcast_bench_shingles is None
        else max_broadcast_bench_shingles
    )
    # measured, not assumed (and the count job doubles as the cache fill);
    # limit <= 0 disables the hint outright, mirroring curate_documents'
    # force-shuffle override
    ix = (
        F.broadcast(bench_ix)
        if limit > 0 and bench_ix.count() <= limit
        else bench_ix
    )
    corpus_ix = corpus_shingled.select(
        F.col("id").alias("corpus_id"), F.explode("shingles").alias("g")
    )
    # bench_size rides the index rows (constant per bench_id), so the
    # aggregation needs no second join back to benchmark sizes — first()
    # inside the group is exact and shuffle-free beyond the one agg
    hits = (
        corpus_ix.join(ix, "g")
        .groupBy("corpus_id", "bench_id")
        .agg(
            F.count("*").alias("overlap"),
            F.first("bench_size").alias("bench_size"),
        )
    )
    return finish(
        hits.withColumn(
            "containment",
            F.col("overlap").cast("double")
            / F.col("bench_size").cast("double"),
        )
        .filter(
            (F.col("overlap") >= F.lit(min_overlap))
            & (F.col("containment") >= F.lit(min_containment))
        )
        .select(
            "corpus_id", "bench_id", "overlap", "bench_size", "containment"
        )
    )


def decontaminate(
    corpus: DataFrame,
    matches: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus minus every document flagged by ``contamination_matches``.

    LEFT ANTI on the distinct-free match frame (anti-join ignores
    duplicate keys, so no dedup shuffle on the flagged ids — the same
    reasoning as curate_documents' drop join).  The flagged set is
    contamination-sized, not corpus-sized; callers in the
    curate_documents regime can broadcast it under their own bound.
    """
    flagged = matches.select(F.col("corpus_id").alias(id_col))
    return corpus.join(flagged, id_col, "left_anti")
