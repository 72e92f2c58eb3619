"""Gate queries for the r8 operator tiers: SQ8 / PQ-ADC serving and the
Z-order layout (VERDICT r8 item 1 — rotate the 50-slot registry so
quantization and layout get the same hard DuckDB signal as every other
operator family; the rotated-out near-twins are noted at their old sites
and in COVERAGE.md).

Determinism strategy per query:

- ``sim_sq8_topk``: exact per-dimension min/max bounds are
  order-independent, every derived constant (step, 1/step, query weight,
  query·lo) is a single IEEE op or a sequential fold, and both encode and
  serve are rendered expressions — so codes AND scores are bit-identical
  between Spark and DuckDB.
- ``sim_pq_adc``: the same deterministic seed-point-codebook trick that
  made sim_ann_ivf bit-exact (the 16 lowest-id vectors ARE the codebook,
  sub-sliced), encode via the rendered-SQL twin ``with_pq_codes_sql``
  (shared zero-padded dot fold == per-slice sequential fold, bit-exactly)
  and serve via the literal-LUT ADC fold with sequentially-computed LUT
  entries.
- ``layout_zorder_box``: the layout operator changes WHERE rows live
  (bytes read at scale, measured in EXPERIMENTS §15), never WHAT a query
  answers — the oracle is the plain filtered aggregate, and the gate
  proves the full cluster pipeline (bounds agg -> Morton key -> range
  repartition -> local sort) is a permutation: no row lost, duplicated,
  or corrupted.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table, table_fingerprint
from bigdatastructure_a5_spark.functions.numeric import dec_sum_double
from bigdatastructure_a5_spark.operators.layout import zorder_cluster
from bigdatastructure_a5_spark.operators.quantization import (
    fit_sq8_bounds,
    pq_adc_topk,
    sq8_dot_topk,
    with_pq_codes_sql,
    with_sq8_codes,
)
from bigdatastructure_a5_spark.queries.pipeline import (
    _head_vectors,
    _query_vector,
    _session_view,
)
from bigdatastructure_a5_spark.registry import query

# ---------------------------------------------------------------------------
# SQ8 serving under the oracle gate
# ---------------------------------------------------------------------------

_SQ8_ORACLE = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings WHERE vec_id <> 0
    ),
    dx AS (SELECT GENERATE_SUBSCRIPTS(emb, 1) AS i, UNNEST(emb) AS x FROM e),
    b AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM dx GROUP BY i),
    ba AS (
      SELECT LIST(lo ORDER BY i) AS los,
             LIST((hi - lo) / 255.0 ORDER BY i) AS steps,
             LIST(CASE WHEN (hi - lo) / 255.0 > 0
                       THEN 1.0 / ((hi - lo) / 255.0) ELSE 0.0 END
                  ORDER BY i) AS invs
      FROM b
    ),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    p AS (
      SELECT LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),
               LIST_TRANSFORM(RANGE(1, 65), i -> qv[i] * los[i])),
               (a, v) -> a + v) AS cst,
             LIST_TRANSFORM(RANGE(1, 65), i -> qv[i] * steps[i]) AS w
      FROM q, ba
    ),
    codes AS (
      SELECT e.vec_id,
             LIST_TRANSFORM(RANGE(1, 65), i ->
               CAST(LEAST(GREATEST(FLOOR((e.emb[i] - ba.los[i]) * ba.invs[i]),
                                   0), 255) AS INT)) AS code
      FROM e, ba
    )
    SELECT c.vec_id,
           p.cst + LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),
             LIST_TRANSFORM(RANGE(1, 65), i -> c.code[i] * p.w[i])),
             (a, v) -> a + v) AS sq8_ip
    FROM codes c, p
    ORDER BY sq8_ip DESC, c.vec_id
    LIMIT 10
    """


@query(
    "sim_sq8_topk",
    oracle=_SQ8_ORACLE,
    tags=("ext:similarity", "ext:quantization"),
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 approximate top-10 by inner product: exact per-dim (min, max)
    bounds fit on the corpus on every call, one-uint8-per-dimension
    encode and the dequantization-free weighted-fold serve — encode AND
    serve pure rendered expressions
    (operators/quantization.py:with_sq8_codes / sq8_dot_topk).  The
    DuckDB oracle recomputes bounds, codes and scores with the identical
    single-op/sequential-fold arithmetic, so the gate checks the tier
    bit-for-bit; recall vs exact cosine is additionally measured in
    pytest and EXPERIMENTS §14."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qv = _query_vector(spark, sf_dir, 0)
    bounds = fit_sq8_bounds(emb)
    return sq8_dot_topk(with_sq8_codes(emb, bounds), bounds, qv, k=10)


# ---------------------------------------------------------------------------
# PQ encode + ADC serving under the oracle gate
# ---------------------------------------------------------------------------

#: 64-dim fixture vectors split into 4 sub-vectors of 16 dims, coded against
#: the 16 lowest-id corpus vectors' sub-slices — a deterministic seed-point
#: codebook (k-means-free), the same trick as sim_ann_ivf's cells, so both
#: engines derive the identical codebook from the data itself.
_PQ_M, _PQ_DSUB, _PQ_K = 4, 16, 16

_PQ_ORACLE = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings WHERE vec_id <> 0
    ),
    cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, emb AS cemb
      FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) t
    ),
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    subq AS (SELECT UNNEST([0, 1, 2, 3]) AS j),
    dist AS (
      SELECT e.vec_id, s.j, cent.c,
             -2.0 * LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),
                 LIST_TRANSFORM(RANGE(1, 17),
                   i -> e.emb[s.j * 16 + i] * cent.cemb[s.j * 16 + i])),
               (a, v) -> a + v)
             + LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),
                 LIST_TRANSFORM(RANGE(1, 17),
                   i -> cent.cemb[s.j * 16 + i] * cent.cemb[s.j * 16 + i])),
               (a, v) -> a + v) AS d2
      FROM e CROSS JOIN subq s CROSS JOIN cent
    ),
    codes AS (
      SELECT vec_id, j, c AS code
      FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id, j ORDER BY d2 ASC, c ASC
               ) AS rn
        FROM dist
      ) t
      WHERE rn = 1
    ),
    ips AS (
      SELECT codes.vec_id, codes.j,
             LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),
                 LIST_TRANSFORM(RANGE(1, 17),
                   i -> cent.cemb[codes.j * 16 + i] * q.qv[codes.j * 16 + i])),
               (a, v) -> a + v) AS ip
      FROM codes JOIN cent ON cent.c = codes.code, q
    ),
    folded AS (SELECT vec_id, LIST(ip ORDER BY j) AS l FROM ips GROUP BY vec_id)
    SELECT vec_id,
           LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE), l),
                       (a, v) -> a + v) AS adc_ip
    FROM folded
    ORDER BY adc_ip DESC, vec_id
    LIMIT 10
    """


@query(
    "sim_pq_adc",
    oracle=_PQ_ORACLE,
    tags=("ext:similarity", "ext:quantization"),
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode + ADC top-10 over the compressed codes: deterministic
    seed-point codebook (sub-slices of the 16 lowest-id vectors), the
    rendered-SQL encode twin (with_pq_codes_sql — one shared dot fold +
    struct-argmin per sub-quantizer, zero Python) on a session-analyzed
    view, then the literal-LUT ADC fold (pq_adc_topk).  The oracle
    re-derives codebook, codes, LUT and scores with identical sequential
    arithmetic — PQ's whole encode->serve path under the hash gate.  The
    production path (k-means codebook + Arrow/BLAS encode) is pinned
    equal to this rendered path on the fixture in pytest, and measured at
    scale in EXPERIMENTS §14."""
    head = _head_vectors(spark, sf_dir, _PQ_K + 1)
    qv_row = next((r for r in head if r.vec_id == 0), None)
    if qv_row is not None:
        qv = [float(x) for x in qv_row.embedding]
    else:  # raises with a clear message when the fixture lacks vector 0
        qv = _query_vector(spark, sf_dir, 0)
    seeds = [r for r in head if r.vec_id != 0][:_PQ_K]
    if not seeds:
        raise ValueError(
            f"embeddings fixture at {sf_dir} has no non-query vectors to "
            "seed the PQ codebook"
        )
    book = np.array(
        [
            [
                [float(x) for x in r.embedding][
                    j * _PQ_DSUB : (j + 1) * _PQ_DSUB
                ]
                for r in seeds
            ]
            for j in range(_PQ_M)
        ],
        dtype=np.float64,
    )
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    # codebook is data-derived AND the view freezes the resolved file
    # index -> both belong in the key (same rationale as sim_ann_ivf)
    key = hashlib.md5(
        f"pq|seed_points|m={_PQ_M}|{hashlib.md5(book.tobytes()).hexdigest()}"
        f"|{table_fingerprint(sf_dir, 'embeddings')}".encode()
    ).hexdigest()[:12]
    view = _session_view(
        spark,
        "pq_coded",
        sf_dir,
        key,
        lambda: with_pq_codes_sql(emb, book),
    )
    return pq_adc_topk(spark.table(view), book, qv, k=10)


# ---------------------------------------------------------------------------
# Z-order layout under the oracle gate
# ---------------------------------------------------------------------------


@query(
    "layout_zorder_box",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 400
      AND l_quantity BETWEEN 10.0 AND 20.0
    GROUP BY l_returnflag
    """,
    tags=("ext:layout",),
)
def layout_zorder_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box aggregate over a Z-order-clustered lineitem: the full
    layout pipeline (per-column bounds agg -> rendered Morton-interleave
    key -> repartitionByRange -> local sort, operators/layout.py) runs
    inside the plan, then the (l_partkey x l_quantity) box filter and a
    grouped pricing aggregate on top.  Clustering is a row permutation —
    the oracle is the plain filtered aggregate, and a hash match proves
    the interleave/cluster stages lose, duplicate, and corrupt nothing.
    The scan-bill effect of the layout (row groups read: 5% z-ordered vs
    100% natural at x100) is measured separately in EXPERIMENTS §15."""
    li = load_table(spark, sf_dir, "lineitem")
    clustered = zorder_cluster(li, ["l_partkey", "l_quantity"], n_files=16)
    box = clustered.filter(
        F.col("l_partkey").between(100, 400)
        & F.col("l_quantity").between(10.0, 20.0)
    )
    return box.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dec_sum_double("l_quantity").alias("sum_qty"),
        dec_sum_double("l_extendedprice").alias("sum_price"),
    )
