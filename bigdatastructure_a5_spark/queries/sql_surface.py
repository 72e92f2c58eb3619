"""SQL-surface extensions beyond the reference's grammar (SURVEY.md §2.6).

The reference's only value semantics is literal equality; its grammar knows
SELECT/FROM/JOIN-ON/WHERE-AND.  Spark's full SQL surface comes free — these
queries pin the behaviors down with oracles so "free" is verified, not
assumed: semi/anti joins, DISTINCT aggregation, HAVING, ROLLUP,
JSON extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table
from bigdatastructure_a5_spark.functions.numeric import dec_sum_double
from bigdatastructure_a5_spark.registry import query


@query(
    "join_semi_anti",
    oracle="""
    SELECT c_custkey, c_name, has_order
    FROM (
      SELECT c_custkey, c_name, TRUE AS has_order
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      UNION ALL
      SELECT c_custkey, c_name, FALSE AS has_order
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ) t
    """,
    tags=("ext:joins",),
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins (EXISTS / NOT EXISTS): customers with and
    without orders.  Semi/anti ship only the left side out of the join —
    at 100 TB this is the dedup-by-reference-list / filter-by-blocklist
    workhorse."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    cond = c.c_custkey == o.o_custkey
    with_o = c.join(o, cond, "left_semi").select(
        "c_custkey", "c_name", F.lit(True).alias("has_order")
    )
    without_o = c.join(o, cond, "left_anti").select(
        "c_custkey", "c_name", F.lit(False).alias("has_order")
    )
    return with_o.union(without_o)


@query(
    "agg_distinct_having",
    oracle="""
    SELECT l_partkey,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_partkey
    HAVING COUNT(DISTINCT l_suppkey) >= 3
    """,
    tags=("ext:agg",),
)
def agg_distinct_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation + HAVING (both absent from the reference's model,
    SURVEY.md §2.4).  Spark expands distinct aggs into a two-level
    aggregation — still partial/final, still one shuffle on the group key."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("n_suppliers") >= 3)
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("ext:agg",),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (grouping sets family — absent from the
    reference).  NULL-padded subtotal rows must agree across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dec_sum_double("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "events_json_extract",
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS k_value
    FROM events
    WHERE CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) > 80
    """,
    tags=("ext:scalar", "ext:events"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: extract a typed field from the JSON props
    column and filter on it.  At scale: prefer promoting hot JSON fields to
    columns at ingest (this expression is the promotion)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select("event_id", k.alias("k_value")).filter(
        F.col("k_value") > 80
    )


@query(
    "filter_over_intermediate",
    oracle="""
    SELECT l_partkey, n_lines, sum_qty
    FROM (
      SELECT l_partkey, COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_partkey
    ) t
    WHERE n_lines = 30
    """,
    tags=("O7",),
)
def filter_over_intermediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: a filter whose input is a prior step's output, not a base
    collection (reference chapter5/simulator.py:102-131 `input_ref`) —
    ordinary chained transformation in Spark."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dec_sum_double("l_quantity").alias("sum_qty"),
    )
    return agg.filter(F.col("n_lines") == 30)


@query(
    "sketch_countmin_topk",
    oracle="""
    WITH ds AS (SELECT UNNEST([0,1,2,3]) AS d),
    cells AS (
      SELECT d,
             CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(d AS VARCHAR), ':',
                  CAST(o_custkey AS VARCHAR))), 1, 8)) AS BIGINT) % 1024 AS cell
      FROM orders, ds
    ),
    sketch AS (SELECT d, cell, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
    keys AS (SELECT DISTINCT o_custkey FROM orders),
    kc AS (
      SELECT o_custkey, d,
             CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(d AS VARCHAR), ':',
                  CAST(o_custkey AS VARCHAR))), 1, 8)) AS BIGINT) % 1024 AS cell
      FROM keys, ds
    ),
    est AS (
      SELECT o_custkey, MIN(cnt) AS est
      FROM kc JOIN sketch USING (d, cell) GROUP BY 1
    ),
    exact AS (SELECT o_custkey, COUNT(*) AS exact_cnt FROM orders GROUP BY 1)
    SELECT o_custkey, est, exact_cnt
    FROM est JOIN exact USING (o_custkey)
    ORDER BY est DESC, o_custkey
    LIMIT 20
    """,
    tags=("ext:sketch",),
)
def sketch_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (bounded-memory frequency estimation, beyond
    reference scope): build a 4x1024 sketch of order counts per customer,
    estimate every customer's frequency from it, and return the top 20 by
    estimate with the exact count alongside.  The md5-prefix hash makes
    the whole sketch deterministic cross-engine, so even the ESTIMATES
    hash-match the DuckDB oracle — and est >= exact_cnt always (one-sided
    CMS error), which the test asserts."""
    from bigdatastructure_a5_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
    )

    orders = load_table(spark, sf_dir, "orders")
    sketch = countmin_build(orders, "o_custkey", depth=4, width=1024)
    exact = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("exact_cnt"))
    # the exact-count aggregate IS the probe-key set (the groupBy already
    # produced the distinct keys), and countmin_estimate carries its
    # exact_cnt column straight through — ONE linear pipeline touching
    # orders twice (sketch build + exact agg), where the old
    # orders.distinct() probe plus a re-join against exact paid a third
    # full scan and an extra exchange for data already in hand
    est = countmin_estimate(sketch, exact, "o_custkey", depth=4, width=1024)
    return (
        est.orderBy(F.col("est").desc(), F.col("o_custkey"))
        .limit(20)
        .select("o_custkey", "est", "exact_cnt")
    )
