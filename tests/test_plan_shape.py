"""Plan-shape assertions (the reference's plan tests, tests/test_challenge.py
analogue): verify Catalyst produces the physical plans the 100-TB design
depends on — pushdown at the scan, broadcast for dims, partial aggregation.
"""

from __future__ import annotations

from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

_load_all()


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _run_plans(spark, run):
    """``run()``'s result and the final physical plans of the SQL
    executions it started.  A materialize_release result is a checkpoint,
    so its own plan no longer shows the work that built it."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    execs = store.executionsList()
    before = execs.last().executionId() if execs.size() else -1
    out = run()
    bus.waitUntilEmpty()
    execs = store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).executionId() > before
    ]
    return out, "\n".join(plans)


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_eq_conjunctive")
    assert "PushedFilters: [" in plan
    assert "p_brand" in plan.split("PushedFilters:")[1][:200]


def test_date_range_filters_pushed_to_fact_scan(spark, sf_dir):
    """r14: YEAR(CAST(ts AS DATE)) = k is unpushable (function-wrapped);
    both date-filtered rows now spell the identical predicate as a raw
    l_shipdate range so the parquet scan carries the bounds and can skip
    row groups on column stats.  Pin the pushed range, not just IsNotNull
    — regressing to the wrapped form keeps results identical and would
    otherwise go unnoticed."""
    for name in ("agg_prefiltered", "join_three_way"):
        pushed = _plan(spark, sf_dir, name).split("PushedFilters:")[1][:300]
        assert "GreaterThanOrEqual(l_shipdate" in pushed, name
        assert "LessThan(l_shipdate" in pushed, name


def test_projection_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "projection_computed")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 4 referenced columns are read, not all 11 lineitem columns
    assert "l_extendedprice" in read_schema and "l_quantity" not in read_schema


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_filtered_brand")
    assert "BroadcastHashJoin" in plan


def test_aggregate_is_partial_then_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    # partial/final HashAggregate pair = the reference's map/shuffle/reduce
    # model (query_simulator/aggregate.py:166-274) executed for real
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "partial" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_asof_join_has_no_nested_loop(spark, sf_dir):
    """The as-of join must compile to window-over-union — ONE shuffle on the
    key — never to the BroadcastNestedLoop/Cartesian a naive inequality
    join produces (which explodes at scale)."""
    plan = _plan(spark, sf_dir, "join_asof_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "Union" in plan


def test_range_join_is_equi_join(spark, sf_dir):
    """The banded range join must execute as an equi-join on (key, bucket)
    with the exact range as a post-filter — no nested-loop pair explosion."""
    plan = _plan(spark, sf_dir, "join_range_error_context")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_simhash_fingerprints_have_no_exchange(spark, sf_dir):
    """Map-side simhash: the fingerprint computation is a pure projection.
    (The full near-pair query still shuffles for the candidate self-join;
    this guards the fingerprint stage itself.)"""
    from bigdatastructure_a5_spark.catalog import load_table
    from bigdatastructure_a5_spark.operators.dedup import simhash64

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        simhash64(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only allowed exchange is the ensure_min_partitions round-robin
    # spread of a one-split source — never a hash/range (aggregation) one
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "HashAggregate" not in plan


def test_curation_broadcast_gate_both_regimes(spark):
    """The curation anti-join's broadcast is size-GATED, not assumed
    (VERDICT r4 item 2): a measured dropped-id set under the bound gets the
    explicit broadcast hint; a set over it (the 30-50%-duplicate web-corpus
    regime, where at 100 TB the id set is tens of GB) must fall back to a
    shuffle join chosen by AQE.  Auto-broadcast is disabled here so the
    ONLY broadcast in the final join is the gate's own hint — and both
    regimes must return identical curated rows."""
    from bigdatastructure_a5_spark.queries.pipeline import curate_documents

    base = (
        "the cat and the dog walked to the market and it was a good day "
        "for all of them so they sat down together and watched the boats "
    )
    # each doc is half shared base, half doc-unique tokens: cross-doc
    # Jaccard ~ 0.3 (shared base over the union), far under the 0.8 gate,
    # while each exact copy below is Jaccard 1.0
    rows = [
        (i, base + " ".join(f"tail{i}word{j}" for j in range(40)) + " ")
        for i in range(40)
    ]
    # ids 1000+i duplicate ids i exactly -> Jaccard 1.0 >= 0.8: every
    # copy is dropped, so the gate's measured count is 40, never 0
    rows += [(1000 + i, text) for i, text in rows[:40]]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prior = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        hinted, plan_hinted = _run_plans(
            spark, lambda: curate_documents(docs, max_broadcast_drop_ids=10**9)
        )
        a = sorted(map(tuple, hinted.collect()))
        # 0 is the DOCUMENTED force-shuffle override — it must hold even
        # when the dropped set is empty (0 <= 0 must not re-enable the hint)
        gated, plan_gated = _run_plans(
            spark, lambda: curate_documents(docs, max_broadcast_drop_ids=0)
        )
        b = sorted(map(tuple, gated.collect()))
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    assert a == b and len(a) == 40  # originals kept, all 40 copies dropped
    assert {r[0] for r in a} == set(range(40))
    import re

    anti_bhj = re.compile(r"BroadcastHashJoin .*LeftAnti")
    # hinted regime: the anti-join IS a broadcast join despite -1 thresholds
    assert anti_bhj.search(plan_hinted)
    # gated regime: no broadcast anti-join anywhere in the plan
    assert not anti_bhj.search(plan_gated)
    assert "LeftAnti" in plan_gated  # ...but the anti-join still ran


def test_curation_df_cap_plumbing(spark):
    """The 100 TB dedup configuration (EXPERIMENTS §4): curate_documents
    passes df_cap through to jaccard_pairs.  A cap above every shingle's
    document frequency must be a no-op (identical curated rows); df_cap=1
    removes every SHARED shingle, so no pair can form and the curated set
    is exactly the quality/language survivors — both deterministic."""
    from bigdatastructure_a5_spark.queries.pipeline import curate_documents

    base = (
        "the cat and the dog walked to the market and it was a good day "
        "for all of them so they sat down together and watched the boats "
    )
    rows = [
        (i, base + " ".join(f"tail{i}word{j}" for j in range(40)) + " ")
        for i in range(40)
    ]
    rows += [(1000 + i, text) for i, text in rows[:40]]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)

    uncapped = sorted(map(tuple, curate_documents(docs).collect()))
    spark.catalog.clearCache()
    high_cap = sorted(
        map(tuple, curate_documents(docs, df_cap=10**6).collect())
    )
    spark.catalog.clearCache()
    cap_one = sorted(map(tuple, curate_documents(docs, df_cap=1).collect()))
    spark.catalog.clearCache()

    assert high_cap == uncapped and len(uncapped) == 40
    # cap=1: no shared shingles survive -> no near-dup pairs -> every
    # quality/lang survivor is kept (all 80 docs here pass those gates,
    # proven by the uncapped run keeping exactly the 40 originals)
    assert len(cap_one) == 80
    assert {r[0] for r in cap_one} == set(range(40)) | {
        1000 + i for i in range(40)
    }


def test_aqe_skew_split_fires_join_only_and_defers_to_copartitioning(spark):
    """Pins the mechanism EXPERIMENTS §10 measures: with a skewed shuffle
    join (broadcast off, fixture-scaled thresholds) AQE splits the hot
    partition — `AQEShuffleRead skewed` / `SortMergeJoin(skew=true)` in
    the FINAL plan — but DECLINES the split when a same-key aggregate
    sits downstream, because splitting would break the hash partitioning
    the aggregate requires.  That asymmetry is the documented trigger for
    manual salting (COVERAGE skew decision rule)."""
    from pyspark.sql import functions as F

    n, hot_share = 400_000, 2  # every 2nd row on one hot key
    fact = (
        spark.range(n)
        .select(
            F.col("id").alias("k_raw"),
            (F.col("id") % 1000).alias("payload_a"),
            F.xxhash64("id").alias("payload_b"),
        )
        .select(
            F.when(F.col("k_raw") % hot_share == 0, F.lit(7))
            .otherwise(F.pmod(F.col("k_raw"), F.lit(20_000)))
            .alias("k"),
            "payload_a",
            "payload_b",
        )
    )
    dim = spark.range(20_000).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("attr")
    )
    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64KB",
    }
    prior = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        joined = fact.join(dim, "k")
        # unprunable whole-row checksum: a bare count would let Catalyst
        # strip the payload and the tiny key-only shuffle never trips the
        # threshold (the failure mode EXPERIMENTS §10 recorded)
        tail = joined.agg(
            F.sum(
                F.pmod(F.xxhash64(*joined.columns), F.lit(1_000_000_007))
            ).alias("chk")
        )
        tail.collect()
        join_only = tail._jdf.queryExecution().executedPlan().toString()
        join_only = join_only.split("== Initial Plan ==", 1)[0]

        agg = (
            fact.join(dim, "k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("payload_a").alias("s"))
        )
        agg_tail = agg.agg(
            F.sum(
                F.pmod(F.xxhash64(*agg.columns), F.lit(1_000_000_007))
            ).alias("chk")
        )
        agg_tail.collect()
        with_agg = agg_tail._jdf.queryExecution().executedPlan().toString()
        with_agg = with_agg.split("== Initial Plan ==", 1)[0]
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    assert "skew=true" in join_only, join_only[:2000]
    # downstream same-key aggregate: AQE declines the split to keep the
    # join output co-partitioned for the aggregate
    assert "skew=true" not in with_agg, with_agg[:2000]


def test_curation_scoring_not_duplicated_into_pushed_filter(spark):
    """r15: filtering on computed quality/detected_lang columns let
    Catalyst push the predicate below the scoring projection, SUBSTITUTING
    the full quality composite + argmax language when-chain (tokenizer
    regex included, dozens of copies) into the Filter condition — the
    whole scoring pass ran twice per row, once below the widening
    repartition (single-task on a one-split source).  curate_documents
    now persists the scored frame so the cache is the pushdown barrier.
    Pin it: no Filter condition anywhere in the plan may contain the
    marker-count signature (array_contains over the token split)."""
    from pyspark.sql import functions as F

    from bigdatastructure_a5_spark.queries.pipeline import curate_documents

    base = (
        "the cat and the dog walked to the market and it was a good day "
        "for all of them so they sat down together and watched the boats "
    )
    # half shared base, half unique tail: cross-doc Jaccard ~0.3 < 0.8
    rows = [
        (i, base + " ".join(f"tail{i}word{j}" for j in range(40)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)
    curated, plan = _run_plans(spark, lambda: curate_documents(docs))
    # the executions' formatted plans list one "Condition : ..." line per
    # Filter node (including those inside InMemoryRelation children)
    conditions = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Condition")
    ]
    assert conditions, "expected the quality/language filters"
    bad = [ln for ln in conditions if "array_contains" in ln]
    assert not bad, f"scoring expressions leaked into a Filter: {bad[:1]}"
    # and the result is still right: originals kept, phantom set empty
    assert curated.count() == 30


def test_ngram_jaccard_filters_carry_no_shingle_expression(spark, sf_dir):
    """``dedup_ngram_jaccard`` carries each set size ``n = size(shingles)``
    through the posting join as an aggregate input.  Grouping by it
    instead lets Catalyst infer ``isnotnull(size(<shingle expression>))``
    and push it into the scan, which re-tokenizes each document once per
    shingle position.  Pin it on the final plan: no Filter condition may contain the shingling
    (``transform(``, ``array_distinct(``, ``xxhash64(``).  The token-count
    filter ``size(split(...)) >= 3`` is the intended linear check."""
    df = REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir)
    assert df.collect()  # runs this frame's own plan to its final AQE form
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    conditions = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Condition")
    ]
    assert conditions, plan[:2000]
    bad = [
        ln
        for ln in conditions
        if any(s in ln for s in ("transform(", "array_distinct(", "xxhash64("))
    ]
    assert not bad, f"shingle expression in a Filter: {bad[:1]}"
