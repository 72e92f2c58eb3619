"""Denormalization-workbench tests: embed semantics, and the physical-layout
claims the reference only *simulates*, asserted on real Spark plans:

- bucketed co-partitioned join -> no shuffle Exchange (reference
  `nested_loop_with_sharding`, challenge/simulator.py:222-224)
- groupBy on the bucket key -> no Exchange (reference shuffle-free
  aggregation, query_simulator/aggregate.py:218-236)
- partition pruning on a partitionBy layout (reference `shard` scan strategy,
  challenge/planner.py:115-124)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table
from bigdatastructure_a5_spark.operators.denormalize import (
    CollectionSpec,
    DenormalizationSpec,
    EmbedSpec,
    build_variant,
    routed_filter,
)
from bigdatastructure_a5_spark.queries.denorm import (
    D2_LINEITEM_EMBEDS_PART,
    D3_PART_EMBEDS_LINEITEMS,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def base(spark, sf_dir):
    return {
        "part": load_table(spark, sf_dir, "part"),
        "lineitem": load_table(spark, sf_dir, "lineitem"),
        "orders": load_table(spark, sf_dir, "orders"),
    }


def test_embed_one_preserves_fact_rows(base):
    v = build_variant(base, D2_LINEITEM_EMBEDS_PART)
    assert v["lineitem"].count() == base["lineitem"].count()
    row = v["lineitem"].select("product.p_brand").first()
    assert row[0].startswith("Brand#")


def test_embed_many_preserves_dim_rows_and_counts(base):
    v = build_variant(base, D3_PART_EMBEDS_LINEITEMS)
    part_v = v["part"]
    assert part_v.count() == base["part"].count()
    total_embedded = part_v.select(
        F.sum(F.size("lines")).alias("n")
    ).first().n
    assert total_embedded == base["lineitem"].count()


def test_embed_many_handles_ddl_metachar_field_names(spark):
    """The empty-array fallback casts to the DataType OBJECT — a
    simpleString round-trip chokes on field names with DDL metacharacters
    (legal in parquet), e.g. 'price,usd'."""
    from bigdatastructure_a5_spark.operators.denormalize import embed_many

    target = spark.createDataFrame([(1,), (2,)], ["pk"])
    source = spark.createDataFrame(
        [(1, 3.5)], ["fk", "price,usd"]
    )
    spec = EmbedSpec(
        source="s", target="t", path="kids", cardinality="many",
        target_key="pk", source_key="fk",
    )
    out = embed_many(target, source, spec)
    rows = {r.pk: r.kids for r in out.collect()}
    assert rows[1][0]["price,usd"] == 3.5
    assert rows[2] == []  # childless target keeps the empty array


def test_routed_filter_rewrites_to_host(spark, base, tmp_path_factory):
    # materialize the variant first (denormalization is a *stored* layout;
    # an unmaterialized variant would still carry the embed join in its plan)
    out = str(tmp_path_factory.mktemp("d2")) + "/lineitem"
    build_variant(base, D2_LINEITEM_EMBEDS_PART)["lineitem"].write.parquet(out)
    v = {"lineitem": spark.read.parquet(out)}
    routed = routed_filter(
        v, D2_LINEITEM_EMBEDS_PART, "part", {"p_brand": "Brand#23"}
    )
    # the routed plan touches ONLY the variant table (no join operator)
    assert "Join" not in _plan(routed)
    expected = (
        base["lineitem"]
        .join(base["part"], F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("p_brand") == "Brand#23")
        .count()
    )
    assert routed.count() == expected


def test_bucketed_join_has_no_exchange(spark, base, tmp_path_factory):
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    base["lineitem"].write.mode("overwrite").format("parquet").bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").saveAsTable("b_lineitem")
    base["orders"].write.mode("overwrite").format("parquet").bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").saveAsTable("b_orders")
    li, o = spark.table("b_lineitem"), spark.table("b_orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select("l_orderkey", "o_totalprice")
    # at test scale everything fits the broadcast threshold; force the
    # shuffle-join path to expose what bucketing buys on fact-x-fact joins,
    # then restore the session's own thresholds (unset would drop them to
    # Spark's defaults for every later test in the shared session)
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prior = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        plan = _plan(j)
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, f"co-partitioned join must not shuffle:\n{plan}"


def test_groupby_on_bucket_key_has_no_exchange(spark):
    li = spark.table("b_lineitem")
    agg = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(agg)
    assert "Exchange" not in plan, f"agg on bucket key must not shuffle:\n{plan}"


def test_groupby_off_bucket_key_does_shuffle(spark):
    li = spark.table("b_lineitem")
    agg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange" in _plan(agg)  # the contrast case (reference Q7)


def test_partition_pruning(spark, base, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("part_layout"))
    (
        base["lineitem"]
        .withColumn("ship_year", F.year(F.to_date("l_shipdate")))
        .write.mode("overwrite")
        .partitionBy("ship_year")
        .parquet(out)
    )
    df = spark.read.parquet(out).filter(F.col("ship_year") == 2000)
    plan = _plan(df)
    assert "PartitionFilters: [" in plan
    assert "ship_year" in plan.split("PartitionFilters:")[1][:200]
    assert df.count() > 0
