"""Benchmark-decontamination operator (operators/decontam.py) + its gate
query (decontam_benchmark): containment semantics, broadcast gating, the
anti-join wrapper, and the engine-vs-oracle match."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.operators.decontam import (
    contamination_matches,
    decontaminate,
)
from bigdatastructure_a5_spark.operators.dedup import shingle_sets

SF_MEDIUM = "/root/testdata/sf0.01"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_containment_is_directional_not_jaccard(spark):
    """A long corpus document embedding one FULL benchmark document flags
    at containment 1.0 even though its symmetric Jaccard with that
    benchmark is tiny — the semantic difference from the dedup family."""
    bench_text = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    corpus = _docs(
        spark,
        [
            (1, filler + " " + bench_text + " " + filler),
            (2, "totally unrelated words only here"),
        ],
    )
    bench = _docs(spark, [(100, bench_text)])
    m = contamination_matches(
        shingle_sets(corpus, "doc_id", "text", 3),
        shingle_sets(bench, "doc_id", "text", 3),
        min_containment=0.9,
    ).collect()
    assert [(r.corpus_id, r.bench_id, r.containment) for r in m] == [
        (1, 100, 1.0)
    ]
    # sanity: the flagged pair's Jaccard is far below any dedup threshold
    r = m[0]
    assert r.overlap == r.bench_size == 4  # 6 words -> 4 trigrams
    # corpus doc 1 has ~360 filler shingles; 4/360+ is nowhere near 0.8


def test_broadcast_gating_both_regimes_same_answer(spark):
    """limit=0 forces the shuffle regime; the default broadcasts a small
    index.  Same answer both ways, and the default plan actually contains
    a broadcast join on the benchmark side.  Tracked calls return the
    lazy plan the decontam_benchmark row builds, not a checkpoint."""
    corpus = _docs(
        spark,
        [(i, f"common phrase number {i} with shared tail words") for i in range(20)],
    )
    bench = _docs(spark, [(1000, "common phrase number 3 with shared tail words")])
    args = (
        shingle_sets(corpus, "doc_id", "text", 3),
        shingle_sets(bench, "doc_id", "text", 3),
    )
    tracked: list = []
    got_b = contamination_matches(*args, min_containment=0.5, tracker=tracked)
    got_s = contamination_matches(
        *args,
        min_containment=0.5,
        max_broadcast_bench_shingles=0,
        tracker=tracked,
    )
    rows_b = sorted(map(tuple, got_b.collect()))
    rows_s = sorted(map(tuple, got_s.collect()))
    plan_b = got_b._jdf.queryExecution().executedPlan().toString()
    for df in tracked:
        df.unpersist()
    assert rows_b == rows_s and len(rows_b) >= 1
    assert "BroadcastHashJoin" in plan_b


def test_min_overlap_filters_chance_collisions(spark):
    """min_overlap above the shared-shingle count suppresses the match even
    when the containment ratio passes (short benchmark docs are noisy —
    the dual-threshold recipe)."""
    corpus = _docs(spark, [(1, "one two three four")])
    bench = _docs(spark, [(9, "one two three")])  # 1 trigram, fully shared
    args = (
        shingle_sets(corpus, "doc_id", "text", 3),
        shingle_sets(bench, "doc_id", "text", 3),
    )
    assert contamination_matches(*args, min_containment=0.5).count() == 1
    assert (
        contamination_matches(
            *args, min_containment=0.5, min_overlap=2
        ).count()
        == 0
    )


def test_decontaminate_removes_exactly_flagged_docs(spark):
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),
            (2, "epsilon zeta eta theta"),
            (3, "iota kappa lambda mu"),
        ],
    )
    bench = _docs(spark, [(7, "alpha beta gamma delta")])
    matches = contamination_matches(
        shingle_sets(corpus, "doc_id", "text", 3),
        shingle_sets(bench, "doc_id", "text", 3),
        min_containment=0.5,
    )
    kept = sorted(
        r.doc_id for r in decontaminate(corpus, matches).select("doc_id").collect()
    )
    assert kept == [2, 3]


def test_gate_query_matches_duckdb_oracle(spark):
    """decontam_benchmark vs its registered oracle at sf0.01 — cell-exact,
    the same comparison the driver's gate hashes."""
    import duckdb

    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    qd = REGISTRY["decontam_benchmark"]
    got = sorted(
        (r.corpus_id, r.bench_id, r.overlap, r.bench_size, round(r.containment, 12))
        for r in qd.builder(spark, SF_MEDIUM).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_MEDIUM}/documents.parquet')"
    )
    want = sorted(
        (r[0], r[1], r[2], r[3], round(r[4], 12)) for r in con.sql(qd.oracle).fetchall()
    )
    assert got == want
    assert len(got) == 6  # the planted cross-slice near-dups at sf0.01
    assert all(c >= 0.96 for *_, c in got)


def test_zero_python_stages(spark):
    """The whole matcher is built-in expressions — no BatchEvalPython /
    ArrowEvalPython stage anywhere in the plan."""
    corpus = _docs(spark, [(1, "a b c d e")])
    bench = _docs(spark, [(2, "a b c")])
    tracked: list = []
    plan = (
        contamination_matches(
            shingle_sets(corpus, "doc_id", "text", 3),
            shingle_sets(bench, "doc_id", "text", 3),
            tracker=tracked,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for df in tracked:
        df.unpersist()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_untracked_call_releases_index(spark, monkeypatch):
    """Called without a tracker, the operator checkpoints its result and
    releases the persisted benchmark index before returning: nothing it
    persisted stays in the CacheManager for the rest of the session."""
    import bigdatastructure_a5_spark.operators.decontam as D

    persisted = []
    real = D.persist_df

    def spy(df):
        persisted.append(real(df))
        return persisted[-1]

    monkeypatch.setattr(D, "persist_df", spy)
    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    corpus = _docs(spark, [(1, "alpha beta gamma delta")])
    bench = _docs(spark, [(7, "alpha beta gamma delta")])
    m = contamination_matches(
        shingle_sets(corpus, "doc_id", "text", 3),
        shingle_sets(bench, "doc_id", "text", 3),
    )
    assert [(r.corpus_id, r.bench_id) for r in m.collect()] == [(1, 7)]
    assert len(persisted) == 1
    assert not cache_mgr.lookupCachedData(persisted[0]._jdf).isDefined()
    assert cache_mgr.isEmpty()


def test_no_inferred_generate_filter(spark):
    """InferFiltersFromGenerate must stay excluded (session.get_spark).

    The rule adds `size(shingles) > 0 AND isnotnull(shingles)` under the
    explode; predicate pushdown then substitutes the whole shingle
    expression through the token projection, inlining the tokenizer into
    every element_at — re-tokenizing each document once per shingle
    position, twice per row (measured 60 s -> 2 s on decontam_benchmark
    at sf0.1).  Guard: no Filter node in the exploded-shingle plan may
    contain the shingle expression (xxhash64 is its signature — it only
    belongs in the Generate input or a Project)."""
    corpus = _docs(spark, [(1, "a b c d e f g h i j")])
    plan = (
        shingle_sets(corpus, "doc_id", "text", 8)
        .select(F.explode("shingles"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    filter_lines = [
        line for line in plan.splitlines() if "Filter" in line
    ]
    assert filter_lines, "expected the too-short-document filter"
    assert all("xxhash64" not in line for line in filter_lines), (
        "shingle expression leaked into a Filter — "
        "InferFiltersFromGenerate is back"
    )


def test_guard_warns_when_exclusion_missing(spark):
    """A user-built session without the excludedRules conf re-enters the
    O(tokens²) trap silently; the shingle/decontam entry points must warn
    with the one-line fix.  The conf is dynamic, so the test clears it,
    asserts the warning, restores it, and asserts silence."""
    import warnings

    from bigdatastructure_a5_spark.session import GENERATE_FILTER_RULE

    corpus = _docs(spark, [(1, "a b c d e f g h i j")])
    key = "spark.sql.optimizer.excludedRules"
    saved = spark.conf.get(key, "")
    assert GENERATE_FILTER_RULE in (saved or ""), "test session lost the conf"
    try:
        spark.conf.set(key, "")
        with pytest.warns(RuntimeWarning, match="InferFiltersFromGenerate"):
            shingle_sets(corpus, "doc_id", "text", 3)
        shingled = None
    finally:
        spark.conf.set(key, saved)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning now fails the test
        shingled = shingle_sets(corpus, "doc_id", "text", 3)
        contamination_matches(shingled, shingled)


def test_registry_wrapper_heals_missing_exclusion(spark):
    """The driver harness runs registry queries on its OWN session; the
    registry wrapper must add the InferFiltersFromGenerate exclusion
    there (dynamic conf, merged with the session's list) so gate queries
    never pay the O(tokens²) wall on a vanilla session."""
    from bigdatastructure_a5_spark.registry import all_queries
    from bigdatastructure_a5_spark.session import GENERATE_FILTER_RULE

    key = "spark.sql.optimizer.excludedRules"
    saved = spark.conf.get(key, "")
    try:
        spark.conf.set(key, "some.other.Rule")
        all_queries()["text_quality"](spark, "/root/testdata/sf0.001")
        cur = spark.conf.get(key, "")
        assert GENERATE_FILTER_RULE in cur
        assert "some.other.Rule" in cur  # merged, not clobbered
    finally:
        spark.conf.set(key, saved)
