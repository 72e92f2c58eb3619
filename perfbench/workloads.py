"""The benchmark's workloads and the seeded choices inside them.

Three workloads partition the registry: every registry query belongs to
exactly one of them (tests/test_perfbench.py pins this against
``REGISTRY``), so a new query cannot escape the benchmark.

- ``relational``: the lazy, read-only filter/join/aggregate/
  denormalization rows -- driver construction plus scan and shuffle --
  and one lazy Python-UDF row (``multimodal_decode``, a ``mapInPandas``
  decode).
- ``curation``: training-data rows whose builders do heavy eager work
  (persisted intermediates, ``materialize_release``, Python UDFs).
- ``materialize``: rows that materialize data before reading it back --
  the stateful streaming rows, one ``run_workload`` call over the
  reference challenge's four denormalization variants, and
  ``dedup_ngram_jaccard``, whose builder persists its shingle sets and
  materializes its result through ``session.materialize_release``.

A run of a whole partition takes 70-100 s on four cores (its cold pass
alone 35-50 s), and the benchmark's runs must fit one hour together, so
``BENCHMARK.json`` lists two fixed subsets instead (``CORE``):
``relational-core`` and ``materialize-core``.  Together they keep a row
for every engine layer the per-layer metrics name; what they leave out
is more of the same layers, above all ``curation``'s heavy UDF and
self-join rows.  The partitions run by hand with the same command.
"""

from __future__ import annotations

import random

from fixtures import N_BRANDS

#: The ``materialize`` workload's design-workload operation (not a registry row).
DESIGN_OP = "design_workload"

PARTITION: dict[str, tuple[str, ...]] = {
    "relational": (
        "agg_distinct_having",
        "agg_on_orderkey",
        "agg_prefiltered",
        "agg_pricing_summary",
        "agg_rollup",
        "agg_then_join",
        "join_asof_attribution",
        "join_equi_inner",
        "join_filtered_brand",
        "join_range_error_context",
        "join_salted_skew",
        "join_semi_anti",
        "join_three_way",
        "filter_eq_conjunctive",
        "filter_over_intermediate",
        "projection_computed",
        "sort_limit_topk",
        "set_operations",
        "denorm_join_elimination",
        "denorm_many_embed",
        "events_sessionize",
        "events_sliding_window",
        "events_json_extract",
        "sketch_countmin_topk",
        "layout_zorder_box",
        "multimodal_decode",
    ),
    "curation": (
        "dedup_clusters",
        "dedup_clusters_star",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_semantic",
        "dedup_simhash",
        "decontam_benchmark",
        "text_langid",
        "text_quality",
        "curriculum_bins",
        "document_report",
        "pipeline_curation",
        "pipeline_mixture",
        "pack_chunks",
        "sim_ann_ivf",
        "sim_ann_lsh",
        "sim_bruteforce_topk",
        "sim_pq_adc",
        "sim_sq8_topk",
    ),
    "materialize": (
        "events_streaming_rollup",
        "events_streaming_interval_join",
        "dedup_retraction",
        "pack_assembly_incremental",
        "dedup_ngram_jaccard",
        DESIGN_OP,
    ),
}

#: The listed workloads: fixed subsets of ``PARTITION``, chosen so that a
#: warm pass takes 4-8 s and a run of a cold pass plus three warm passes
#: stays near a minute.  What each row keeps measured is noted beside it.
CORE: dict[str, tuple[str, ...]] = {
    "relational-core": (
        "agg_pricing_summary",  # grouped aggregate, shuffle
        "join_three_way",  # broadcast hash joins
        "filter_eq_conjunctive",  # scan and filter
        "sort_limit_topk",  # global sort, limit
        "denorm_many_embed",  # the reference's denormalized read
        "multimodal_decode",  # Python mapInPandas node, Python workers
    ),
    "materialize-core": (
        "events_streaming_rollup",  # streaming state store, checkpoint, sink
        "dedup_ngram_jaccard",  # persisted intermediates, materialize_release
        DESIGN_OP,  # variant parquet writes, rewrite, billed cost
    ),
}

WORKLOADS: dict[str, tuple[str, ...]] = {**PARTITION, **CORE}

#: The design workload's literal in the reference challenge's queries.
_CHALLENGE_BRAND = "'Brand#12'"


def registry_ops(workload: str) -> list[str]:
    return [op for op in WORKLOADS[workload] if op != DESIGN_OP]


def pass_order(workload: str, seed: int, pass_index: int) -> list[str]:
    """The operation order of one pass: a permutation fixed by (seed, pass)."""
    ops = list(WORKLOADS[workload])
    random.Random(f"{seed}:{pass_index}").shuffle(ops)
    return ops


def design_brand(seed: int) -> str:
    """The brand literal the seed gives the design workload's queries."""
    return f"Brand#{random.Random(f'brand:{seed}').randint(1, N_BRANDS)}"


def design_workload(seed: int):
    """-> (denormalization specs, query specs) of the reference challenge
    (``examples.challenge_demo``) with the seed's brand literal."""
    from dataclasses import replace

    from bigdatastructure_a5_spark.examples.challenge_demo import DENORMS, WORKLOAD

    brand = f"'{design_brand(seed)}'"
    queries = [replace(q, sql=q.sql.replace(_CHALLENGE_BRAND, brand)) for q in WORKLOAD]
    return list(DENORMS), queries
