"""SURVEY.md §2 parity queries (O1-O20 + §2.6 engine extensions).

Each query is the executable analogue of a reference operator, mapped onto
the driver's TPC-H-ish fixtures per FIXTURES.md §5 (Product->part,
OrderLine->lineitem, Client->customer, Movie/Review analogues likewise).
Oracle SQL strings use identical aliases and deterministic numerics
(registry.py docstring) so the DuckDB hash gate passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table
from bigdatastructure_a5_spark.functions.numeric import dec_sum_double, det_avg
from bigdatastructure_a5_spark.operators.aggregates import group_agg
from bigdatastructure_a5_spark.operators.filters import eq_filter, project
from bigdatastructure_a5_spark.operators.joins import dim_join, equi_join
from bigdatastructure_a5_spark.registry import query


def _dec(col: str, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal(18,{scale})")


#: exact per-row revenue: decimal(18,2) price x (1 - decimal(18,2) discount)
def _revenue_dec() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))


_REVENUE_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


# ---------------------------------------------------------------------------
# O1/O5/O6 — conjunctive equality filter + projection
# (reference challenge/planner.py:29-49, challenge/simulator.py:42-67)
# ---------------------------------------------------------------------------
@query(
    "filter_eq_conjunctive",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE p_brand = 'Brand#12' AND p_type = 'PROMO'
    """,
    tags=("O1", "O5", "O6"),
)
def filter_eq_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2_brand_filter analogue: WHERE brand = X AND type = Y, projected."""
    part = load_table(spark, sf_dir, "part")
    out = eq_filter(part, {"p_brand": "Brand#12", "p_type": "PROMO"})
    return project(out, ["p_partkey", "p_name", "p_brand", "p_type", "p_size"])


# ---------------------------------------------------------------------------
# O5 — projection with a computed column (per-row double math is IEEE-stable)
# ---------------------------------------------------------------------------
@query(
    "projection_computed",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    """,
    tags=("O5",),
)
def projection_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned projection: the parquet scan should read exactly 4
    columns (check ReadSchema in the plan) — impossible in the reference's
    row-store model where projection never reduces scan cost."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# O8 — plain inner equi-join (reference challenge/planner.py:52-112)
# ---------------------------------------------------------------------------
@query(
    "join_equi_inner",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("O8", "O9"),
)
def join_equi_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders x customer; Catalyst picks broadcast vs sort-merge (O9 is its
    cost model)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
    return j.select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# O11 — filter-then-join, dimension side broadcast
# (Q4_brand_stock_join analogue, reference query_simulator/queries.py:64-87)
# ---------------------------------------------------------------------------
@query(
    "join_filtered_brand",
    oracle="""
    SELECT p_type,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#23'
    GROUP BY p_type
    """,
    tags=("O11", "O9"),
)
def join_filtered_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter the dimension, broadcast it into the fact scan: at 100 TB the
    lineitem side never shuffles for a sub-MB filtered dim."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    j = dim_join(li.withColumnRenamed("l_partkey", "p_partkey"), part, on="p_partkey")
    return j.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dec_sum_double("l_quantity").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# O13 — multi-way filtered join
# (Q5_orders_brand_client_join analogue, query_simulator/queries.py:89-123)
# ---------------------------------------------------------------------------
@query(
    "join_three_way",
    oracle=f"""
    SELECT c_custkey, c_name,
           COUNT(*) AS n_lines,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND YEAR(CAST(l_shipdate AS DATE)) = 2000
    GROUP BY c_custkey, c_name
    """,
    tags=("O13",),
)
def join_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join, fact-first with filters pushed to both inputs; the
    customer dimension broadcasts."""
    # YEAR(CAST(ts AS DATE)) = 2000 as a raw-column range so it reaches
    # the parquet scan (PushedFilters + row-group stats skipping); the
    # function-wrapped form is unpushable and scanned every row group
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey, "inner").join(
        F.broadcast(cust), F.col("o_custkey") == cust.c_custkey, "inner"
    )
    return j.groupBy("c_custkey", "c_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_revenue_dec()).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# O16/O19 — full group-by aggregate (TPC-H Q1 shape; the reference's
# map/shuffle/reduce model query_simulator/aggregate.py:166-274, executed for
# real as partial HashAggregate -> Exchange -> final HashAggregate)
# ---------------------------------------------------------------------------
@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("O16", "O19"),
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sums/averages/counts with exact (order-independent) numerics."""
    return pricing_summary_over(load_table(spark, sf_dir, "lineitem"))


def pricing_summary_over(li: DataFrame) -> DataFrame:
    """The agg_pricing_summary aggregation body over an arbitrary lineitem
    frame — shared with the ORC-twin connector test so the twin can't drift
    from the registry query it claims to mirror."""
    return group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            dec_sum_double("l_quantity").alias("sum_qty"),
            dec_sum_double("l_extendedprice").alias("sum_base_price"),
            F.sum(_revenue_dec()).cast("double").alias("sum_disc_price"),
            det_avg("l_quantity").alias("avg_qty"),
            det_avg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


# ---------------------------------------------------------------------------
# O20 — pre-aggregation filter (query_simulator/aggregate.py:24-33)
# ---------------------------------------------------------------------------
@query(
    "agg_prefiltered",
    oracle="""
    SELECT l_partkey,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE YEAR(CAST(l_shipdate AS DATE)) = 2000
      AND MONTH(CAST(l_shipdate AS DATE)) = 4
    GROUP BY l_partkey
    """,
    tags=("O20",),
)
def agg_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-style pre-filter, then group: the filter reaches the parquet
    scan (PushedFilters), shrinking the shuffle the reference prices at
    groups x shards x partial_size."""
    li = load_table(spark, sf_dir, "lineitem")
    # YEAR = 2000 AND MONTH = 4 ⟺ ts in [2000-04-01, 2000-05-01) on the
    # RAW column — pushable to the parquet scan, unlike the oracle's
    # function-wrapped spelling, which Spark cannot push and which left
    # this "pre-filter reaches the scan" row scanning every row group
    return group_agg(
        li,
        ["l_partkey"],
        [
            F.count(F.lit(1)).alias("n_lines"),
            dec_sum_double("l_quantity").alias("sum_qty"),
        ],
        pre_filter=(
            (F.col("l_shipdate") >= F.lit("2000-04-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("2000-05-01").cast("timestamp_ntz"))
        ),
    )


# ---------------------------------------------------------------------------
# O17 — aggregation on the natural co-partition key (shuffle-minimal path)
# ---------------------------------------------------------------------------
@query(
    "agg_on_orderkey",
    oracle=f"""
    SELECT l_orderkey,
           COUNT(*) AS n_items,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS order_revenue
    FROM lineitem
    GROUP BY l_orderkey
    """,
    tags=("O17", "O16"),
)
def agg_on_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group on l_orderkey: on a layout bucketed by orderkey this runs with NO
    Exchange (the reference's shuffle-free sharded aggregation,
    query_simulator/aggregate.py:218-236); tests assert the bucketed plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return group_agg(
        li,
        ["l_orderkey"],
        [
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_revenue_dec()).cast("double").alias("order_revenue"),
        ],
    )


# ---------------------------------------------------------------------------
# O12 — join after aggregate (chapter5 Q5_top_movies_with_titles,
# chapter5/planner.py:58-77) — THE FLAGSHIP (entry()) QUERY
# ---------------------------------------------------------------------------
@query(
    "agg_then_join",
    oracle="""
    SELECT p_partkey, p_brand, n_lines, avg_price
    FROM (
      SELECT l_partkey,
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(l_extendedprice) AS avg_price
      FROM lineitem GROUP BY l_partkey
    ) agg
    JOIN part ON l_partkey = p_partkey
    """,
    tags=("O12",),
)
def agg_then_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg price per part (Review.avg(rating) analogue) joined back to the
    part dimension; the aggregated side is |parts|-sized -> broadcast-able."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    agg = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        det_avg("l_extendedprice").alias("avg_price"),
    )
    j = agg.join(F.broadcast(part), agg.l_partkey == part.p_partkey, "inner")
    return j.select("p_partkey", "p_brand", "n_lines", "avg_price")


# ---------------------------------------------------------------------------
# §2.6 engine extensions the reference lacks (sorts/limits, set ops, windows,
# scalar functions) — free in Spark, registered so coverage is checkable.
# ---------------------------------------------------------------------------
@query(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("ext:sort",),
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with a UNIQUE total order (o_orderkey tiebreak) so the selected
    set is deterministic; Spark executes as TakeOrderedAndProject (no full
    sort of 100 TB)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "set_operations",
    oracle="""
    SELECT c_custkey FROM (
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       UNION
       SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_nationkey = 3
    ) t
    """,
    tags=("ext:setops",),
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT then EXCEPT, matching parenthesization on both engines."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    d = c.filter(F.col("c_nationkey") == 3).select("c_custkey")
    return a.union(b).distinct().subtract(d)


@query(
    "join_salted_skew",
    oracle="""
    SELECT l_orderkey, l_partkey, p_brand, l_quantity
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_size = 25
    """,
    tags=("ext:skew",),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-to-dimension join (operators/skew.salted_join): the fact
    side spreads over 16 sub-keys, the filtered dimension replicates x16 —
    the manual fallback for skew so extreme that even AQE's split
    partitions overwhelm a task.  Salting must be result-invariant: the
    oracle hash-checks it against the plain join."""
    from bigdatastructure_a5_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_partkey", "p_partkey"
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 25)
    out = salted_join(li, part, key="p_partkey", salt=16)
    return out.select(
        "l_orderkey",
        F.col("p_partkey").alias("l_partkey"),
        "p_brand",
        "l_quantity",
    )
