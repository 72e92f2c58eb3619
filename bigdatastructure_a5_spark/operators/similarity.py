"""Similarity search over embedding columns (extension scope, BASELINE.json).

Three top-k tiers, as the brief prescribes:

- **brute force**: exact cosine against every vector — the correctness
  baseline, and at 100 TB still the right tool for one-off queries when
  fused into a single scan (no shuffle: score+topk is map+reduce).
- **LSH-bucketed ANN**: sign-random-projection (hyperplane) bucketing; only
  vectors sharing a bucket with the query are scored.  Recall < 1 by
  construction; the scale path when queries are frequent.
- **IVF**: a coarse codebook assigns each vector a cell; only the cells
  nearest the query are scored.

All three end in one rendered-SQL tail, :func:`topk_cosine_sql`; the ANN
tiers pick rows with :func:`lsh_query_predicate` /
:func:`ivf_probe_predicate`.
All vector math is Catalyst higher-order functions (functions/vectors.py)
— no UDFs below the IVF BLAS scorer's codebook size.  Hyperplanes are
generated from a fixed seed so results are reproducible run-to-run.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.functions.vectors import (
    _py_fold_dot,
    _sql_double,
    cosine_similarity,
    double_array_sql,
    py_l2,
)


def topk_cosine_sql(
    src: str,
    query_vec: list[float],
    k: int,
    where: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Rendered SQL for the exact cosine top-``k`` of the rows of view
    ``src`` that ``where`` admits: ``(id_col, cosine)``, ties to the
    smaller id.  One parser call instead of ~40 Column-API py4j calls.

    Parity with functions.vectors.cosine_similarity: the same dot and
    row-norm folds; the QUERY norm is folded driver-side (py_l2) in the
    same order — IEEE-identical, and constant per query (HOFs never
    constant-fold in Catalyst).  NULLIF guards ANSI DIVIDE_BY_ZERO: a
    zero-norm, NULL or wrong-length row scores NULL.

    NULL scores sort last under DESC, so the filter runs AFTER the limit,
    on <= k rows — before the sort it would be pushed into the scan and
    re-run the scoring fold per row.  The outer ORDER BY declares the
    output order: Spark does not preserve it through a filter above a
    limit."""
    return f"""
        SELECT `{id_col}`, cosine FROM (
          SELECT `{id_col}`,
                 aggregate(zip_with(`{vec_col}`, {double_array_sql(query_vec)},
                                    (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                           CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
                 / NULLIF(SQRT(aggregate(transform(`{vec_col}`,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                   CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))
                    * {_sql_double(py_l2(query_vec))}, 0.0D) AS cosine
          FROM {src}
          WHERE {where}
          ORDER BY cosine DESC, `{id_col}`
          LIMIT {int(k)}
        )
        WHERE cosine IS NOT NULL
        ORDER BY cosine DESC, `{id_col}`
    """


def _topk_cosine(
    frame: DataFrame,
    query_vec: list[float],
    k: int,
    where: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Run :func:`topk_cosine_sql` over a temp view of ``frame`` that is
    dropped before returning, raising or not.  The drop bypasses
    ``spark.catalog.dropTempView`` (and so ``spark.sql(text, src=frame)``,
    which uses it): that also uncaches a cached plan equal to the view's,
    even behind ``select("*")``, so it would unpersist a caller's
    persisted input (Spark 4.1.2)."""
    spark = frame.sparkSession
    name = f"_topk_src_{uuid.uuid4().hex}"
    frame.createTempView(name)
    try:
        return spark.sql(
            topk_cosine_sql(name, query_vec, k, where, id_col, vec_col)
        )
    finally:
        spark._jsparkSession.sessionState().catalog().dropTempView(name)


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine, deterministic ties (id ascending).

    Plan shape at scale: scan -> per-row score (codegen) ->
    TakeOrderedAndProject (per-partition top-k, merge on driver) — no global
    sort, no shuffle of the corpus.  The tail is :func:`topk_cosine_sql`
    with no row predicate.
    """
    return _topk_cosine(embeddings, query_vec, k, "TRUE", id_col, vec_col)


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_margin: float = 1e-9,
    n_blocks: int = 8,
    tracker: list | None = None,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (embedding near-dup detection).

    Fully distributed block-pair scheme — nothing is collected to the
    driver and nothing is broadcast, so the corpus size is bounded by the
    cluster, not driver memory:

    1. **Blocking**: each vector gets a deterministic block id
       ``pmod(xxhash64(id), n_blocks)``; each block is packed into one row
       (ids + vectors).  Exact all-pairs is inherently O(n²) work; the
       block grid distributes that work as n_blocks*(n_blocks+1)/2
       independent tasks, each an (n/B)x(n/B) tile — the classic
       block-partitioned GEMM decomposition.  Every unordered pair lands
       in EXACTLY one tile (the (bid_min, bid_max) one), so coverage is
       exhaustive by construction, not probabilistic.
    2. **Candidates** via vectorized BLAS inside each tile: one
       ``A @ B.T`` per tile scores all its pairs in milliseconds.  The
       threshold is relaxed by ``candidate_margin`` (>> BLAS rounding
       error ~1e-13) so no true pair can be lost to float reordering.
    3. **Exact refine**: only the surviving candidates get the sequential
       double-precision fold (bit-identical to the DuckDB oracle), and the
       final filter applies the exact threshold to the exact value.

    Scale shape: shuffle volume is B copies of the corpus (each block
    joins B tile rows); work per tile is (n/B)² dot products.  Size
    ``n_blocks`` to BOTH full occupancy (B(B+1)/2 >= parallelism) and
    per-block memory: a block is one packed row, so it must fit an Arrow
    batch/task heap (~corpus_bytes/B << 1 GB — raise B for bigger
    corpora; the quadratic work total is unchanged).  The tile grid
    itself is driven by a B(B+1)/2-row pair list joined with two plain
    EQUI-joins against the packed blocks — no theta/nested-loop join, so
    Spark never considers broadcasting the packed corpus.  At extreme
    scale, LSH-bucket the corpus first (cosine_pairs_lsh) instead of
    tiling the full grid.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from bigdatastructure_a5_spark.session import adopt_tracker, persist_df

    tracker, finish = adopt_tracker(tracker)
    # NULL vectors can neither be packed (np.stack shape error in the tile
    # scorer) nor scored — out of the domain, same as cosine_pairs_lsh
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    relaxed = threshold - candidate_margin
    packed = (
        embeddings.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("bid"),
            F.struct(
                F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
            ).alias("iv"),
        )
        .groupBy("bid")
        .agg(F.collect_list("iv").alias("members"))
    )
    # consumed by BOTH tile-join sides: without the persist Catalyst
    # evaluates the groupBy+collect_list subtree once per side — two
    # full corpus scans and two pack shuffles (verified in the
    # optimized plan).  Same cache contract as the other self-join
    # operators (jaccard, LSH): caller releases via tracker, or the
    # function materializes its own result and releases on return;
    # storage level via session.persist_df (SPARK_GRAFT_PERSIST_LEVEL).
    packed = persist_df(packed)
    tracker.append(packed)
    spark = embeddings.sparkSession
    pair_grid = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j],
        "bid_x int, bid_y int",
    )
    tiles = (
        F.broadcast(pair_grid)  # B(B+1)/2 rows of metadata, never data
        .join(
            packed.select(
                F.col("bid").cast("int").alias("bid_x"),
                F.col("members").alias("mx"),
            ),
            "bid_x",
        )
        .join(
            packed.select(
                F.col("bid").cast("int").alias("bid_y"),
                F.col("members").alias("my"),
            ),
            "bid_y",
        )
        # spread the B(B+1)/2 tile rows across the executor pool
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )

    def score_tiles(it):
        import pandas as pd

        for pdf in it:
            for _, row in pdf.iterrows():
                x_ids = np.array([m["id"] for m in row["mx"]], dtype=np.int64)
                y_ids = np.array([m["id"] for m in row["my"]], dtype=np.int64)
                x = np.stack([np.asarray(m["v"], dtype=np.float64) for m in row["mx"]])
                y = np.stack([np.asarray(m["v"], dtype=np.float64) for m in row["my"]])
                xn = np.linalg.norm(x, axis=1)
                yn = np.linalg.norm(y, axis=1)
                xn[xn == 0] = 1.0
                yn[yn == 0] = 1.0
                scores = (x / xn[:, None]) @ (y / yn[:, None]).T
                ii, jj = np.nonzero(scores >= relaxed)
                left, right = x_ids[ii], y_ids[jj]
                keep = left != right
                lo = np.minimum(left[keep], right[keep])
                hi = np.maximum(left[keep], right[keep])
                yield pd.DataFrame({"id_a": lo, "id_b": hi}).drop_duplicates()

    cand_schema = StructType(
        [StructField("id_a", LongType()), StructField("id_b", LongType())]
    )
    cands = tiles.mapInPandas(score_tiles, schema=cand_schema)
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    return finish(
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_similarity("va", "vb").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def with_ivf_cells_probed(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Assign each vector to its ``n_probe`` NEAREST cells (one output
    row per assignment) — the recall dial for within-cell pair scoring:
    a pair is found if the two vectors share ANY of their probed cells,
    so boundary-straddling pairs that single-cell assignment splits get
    a second (third, ...) chance at ~n_probe x the scoring work.  Same
    scorer as ``with_ivf_cells(method='blas')`` (:func:`_ivf_cells_blas`),
    so ``n_probe=1`` reproduces it exactly on well-formed vectors, pinned
    in pytest.

    NULL or wrong-dimension vectors get no row at all (the explode drops
    them): they cannot score a meaningful cosine anyway, and keeping their
    zero-vector ranking instead would pile every malformed vector into
    the n_probe smallest cell ids, inflating those cells' O(members^2)
    work, and (for wrong-length vectors) crash the cell scorer's
    np.stack (ADVICE r10)."""
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    dim = len(centroids[0][1])
    cells = _ivf_cells_blas(df, centroids, n_probe, vec_col)
    if n_probe == 1:
        cells = F.array(cells)
    return df.withColumn(
        cell_col, F.explode(F.when(F.size(F.col(vec_col)) == dim, cells))
    )


def cosine_pairs_in_cells(
    celled: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    candidate_margin: float = 1e-9,
    tracker: list | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: exact cosine >= threshold
    computed ONLY within each IVF cell (Abbas et al. 2023 dedup inside
    k-means clusters — public method).  Input is a ``with_ivf_cells``
    frame; output is (id_a, id_b, cosine), id_a < id_b, like
    ``cosine_pairs``.

    The scale trade vs the exact all-pairs tiling: work drops from
    O(n²/B²) per tile x B² tiles to O((n/C)²) per cell x C cells — with
    the sqrt(n) auto-sizing that is O(n^1.5) total instead of O(n²) —
    at the cost of RECALL ONLY for pairs straddling a cell boundary
    (both members of a tight duplicate pair usually land in the same
    nearest-centroid cell; raise the pair recall by clustering coarser
    or probing neighbor cells — the same dial as ann/IVF serving).
    Every emitted pair is EXACT (same refine expression as
    cosine_pairs), so within-cell output is a strict subset of the
    all-pairs answer with identical cosine values.

    Each cell packs into one Arrow task (one BLAS gram matrix per
    cell): size cells to task memory exactly like ``cosine_pairs``
    sizes blocks — at sqrt(n) cells a cell is ~sqrt(n) vectors.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from bigdatastructure_a5_spark.session import adopt_tracker, persist_df

    tracker, finish = adopt_tracker(tracker)
    vecs = celled.filter(F.col(vec_col).isNotNull())
    relaxed = threshold - candidate_margin
    packed = persist_df(
        vecs.select(
            F.col(cell_col).alias("cell"),
            F.struct(
                F.col(id_col).cast("long").alias("id"),
                F.col(vec_col).alias("v"),
            ).alias("iv"),
        )
        .groupBy("cell")
        .agg(F.collect_list("iv").alias("members"))
    )
    tracker.append(packed)

    def score_cells(it):
        import pandas as pd

        for pdf in it:
            for _, row in pdf.iterrows():
                ids = np.array([m["id"] for m in row["members"]], dtype=np.int64)
                if len(ids) < 2:
                    continue
                x = np.stack(
                    [np.asarray(m["v"], dtype=np.float64) for m in row["members"]]
                )
                xn = np.linalg.norm(x, axis=1)
                xn[xn == 0] = 1.0
                scores = (x / xn[:, None]) @ (x / xn[:, None]).T
                ii, jj = np.nonzero(scores >= relaxed)
                keep = ii < jj  # upper triangle: each pair once, no self
                lo, hi = ids[ii[keep]], ids[jj[keep]]
                a = np.minimum(lo, hi)
                b = np.maximum(lo, hi)
                yield pd.DataFrame({"id_a": a, "id_b": b}).drop_duplicates()

    cand_schema = StructType(
        [StructField("id_a", LongType()), StructField("id_b", LongType())]
    )
    cands = (
        packed.repartition(
            max(celled.sparkSession.sparkContext.defaultParallelism, 8),
            "cell",
        )
        .mapInPandas(score_cells, schema=cand_schema)
        # a multi-probe input (with_ivf_cells_probed) finds the same
        # pair in every shared cell; dedup before the refine join —
        # candidate-sized, and a no-op shuffle for single-cell input
        .dropDuplicates(["id_a", "id_b"])
    )
    # multi-probe inputs also carry each vector once per probed cell:
    # collapse the refine sides to one row per id
    uniq = vecs.dropDuplicates([id_col])
    a = uniq.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = uniq.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return finish(
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_similarity("va", "vb").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def rademacher_signs(
    n_tables: int, n_planes: int, dim: int, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic ±1 (Rademacher) hyperplane family, derived from md5 of
    "(seed:table:plane:dim)" — sign-random-projection LSH with Rademacher
    entries has the same collision-probability guarantee as Gaussian planes
    (Charikar 2002; Achlioptas 2001 for ±1 projections).

    The md5 derivation (not numpy RandomState) is deliberate: the whole
    plane family is reproducible from four integers by ANY engine or
    language, which is what lets the LSH query be checked bit-for-bit
    against a DuckDB oracle carrying the same ±1 literals.
    """
    import hashlib

    return [
        [
            [
                1.0
                if hashlib.md5(f"{seed}:{t}:{p}:{d}".encode()).digest()[0] & 1
                else -1.0
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def auto_planes(n_rows: int) -> int:
    """Default SRP plane count for a corpus of ``n_rows`` vectors:
    ``max(4, ceil(log2(n)) - 5)`` — the measured co-sizing rule from
    EXPERIMENTS.md §4, now code instead of prose (VERDICT r4 item 5).

    Rationale: one table has 2^planes buckets, so keeping ~2^5 vectors
    per bucket (the regime where the bucket self-join stays linear in n)
    needs planes ~ log2(n) - 5.  The measurement behind it: at 10x corpus
    with planes pinned at 4 the 16-bucket tables saturate and
    candidates/vec grew 102 -> 4114 (toward all-pairs); re-sizing planes
    to this rule restored the flat candidates/vec curve.  Floor of 4 =
    the gate-fixture sizing.  Callers that need a specific recall point
    still pass ``n_planes`` explicitly (more planes lower per-table
    recall p^planes, so production raises ``n_tables`` alongside)."""
    import math

    return max(4, math.ceil(math.log2(max(int(n_rows), 2))) - 5)


def auto_cells(n_rows: int) -> int:
    """Default IVF codebook size for a corpus of ``n_rows`` vectors:
    ``max(16, round(sqrt(n)))`` — the standard IVF nlist ~ sqrt(n) rule
    (FAISS guidelines), measured for this engine in EXPERIMENTS.md §12
    (VERDICT r6 item 1: the fixed 16-cell default was correct but did not
    track n — at 500k vectors, probing 4 of 16 cells exact-scores ~n/4,
    a quarter-brute-force).

    With cells ~ sqrt(n) a cell holds ~sqrt(n) vectors, so the probe-side
    exact scoring is n_probe * sqrt(n) rows — sub-linear for any fixed or
    slowly-growing n_probe (auto_probe grows it as n^(1/4)).  Floor of 16
    = the gate-query codebook size (<=256-row corpora resolve to it)."""
    import math

    return max(16, round(math.sqrt(max(int(n_rows), 1))))


def auto_probe(n_cells: int) -> int:
    """Default probe width for an ``n_cells`` codebook:
    ``max(4, ceil(sqrt(cells)))`` — co-sized with auto_cells the way
    n_tables is co-sized with n_planes in the SRP family.  Under
    cells = sqrt(n) this is ~n^(1/4) probed cells, so exact-scored rows
    grow as n^(3/4) (measured §12) instead of the fixed codebook's ~n/4;
    probing a fixed 4 of sqrt(n) cells would instead cover a vanishing
    fraction of the space at large n.  This is a STARTING point, not a
    recall guarantee: §12 measures recall@10 falling with the probed
    SHARE on a near-uniform corpus, and n_probe is the per-query dial
    that buys it back (~linear scan cost per extra probe at fixed
    cells) — the FAISS nlist/nprobe split.  Floor of 4 = the gate
    sizing."""
    import math

    return max(4, math.ceil(math.sqrt(max(int(n_cells), 1))))


def _estimated_rows(df: DataFrame) -> int | None:
    """Optimizer row-count estimate, or None when Catalyst doesn't have one
    (rowCount is only defined with CBO stats, e.g. after ANALYZE TABLE).
    auto_planes needs log2-order accuracy only, so an estimate is as good
    as an exact count — and unlike ``df.count()`` it costs NO job, which
    matters when the input is an unpersisted derived frame whose count
    would re-execute the whole upstream pipeline."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:  # estimate machinery unavailable -> caller counts
        return None
    return None


def with_lsh_buckets(
    df: DataFrame,
    signs: list[list[list[float]]],
    vec_col: str = "embedding",
    prefix: str = "bucket_",
) -> DataFrame:
    """Add one bucket column per LSH table.  THIS is the write-time step at
    100 TB: materialize the bucket columns once when the corpus is written
    (they are plain expression columns — sources/denormalize write paths
    can carry them like any projection), and every later query prunes with
    bucket-equality predicates against a literal — no per-query scan-side
    Python, no recomputation of the plane family.  Size the plane count to
    the corpus with :func:`auto_planes` (~log2(n) - 5) — bucket
    cardinality is 2^planes per table and must stay ahead of n.

    Two-stage one-pass formulation: stage 1 computes ALL tables' dot
    products in a single fold against one (dim x tables*planes) literal
    weight matrix (per vector element, its contribution to every plane is
    added in element order — bit-identical to a per-plane sequential
    fold, hence to the oracle); stage 2 packs sign bits into the bucket
    columns from that shared dots column.  Catalyst's CollapseProject
    keeps the stages separate (the dots column is referenced 4x per
    bucket), so the fold runs once per row.

    Expression-shape notes (all measured, VERDICT r3 item 1): both
    projections are RENDERED SQL handed to ONE selectExpr each — building
    the same tree through the Column API costs one py4j round-trip per
    node (~1.5s/fresh plan at 64x32, the r3 ANN wall-clock regression),
    while Catalyst parses the rendered string in milliseconds.  The shared
    one-pass fold lives in functions.vectors.matrix_dots_sql (also the IVF
    cell projection's engine); the transform-of-transform variant it
    replaces allocated 2048 cells/row and ran ~5x slower per plan+task."""
    from bigdatastructure_a5_spark.functions.vectors import matrix_dots_sql

    n_tables = len(signs)
    n_planes = len(signs[0])
    staging = "__lsh_dots"
    clash = [c for c in df.columns if c == staging or c.startswith(prefix)]
    if clash:
        raise ValueError(
            f"with_lsh_buckets output columns {clash} already exist on the "
            "input (drop or rename them, or pass a different prefix)"
        )
    # column j of the weight matrix is plane (t, p) with j = t*n_planes + p
    planes = [
        signs[j // n_planes][j % n_planes] for j in range(n_tables * n_planes)
    ]
    dots_sql = matrix_dots_sql(vec_col, planes)
    staged = df.selectExpr("*", f"{dots_sql} AS {staging}")
    buckets = []
    for t in range(n_tables):
        terms = " + ".join(
            f"(CASE WHEN element_at({staging}, {t * n_planes + p + 1}) >= 0 "
            f"THEN {1 << p}L ELSE 0L END)"
            for p in range(n_planes)
        )
        buckets.append(f"({terms}) AS `{prefix}{t}`")
    return staged.selectExpr(*[f"`{c}`" for c in df.columns], *buckets)


def cosine_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    n_planes: int | None = None,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    tracker: list | None = None,
) -> DataFrame:
    """SUBQUADRATIC embedding near-dup pairs: LSH-bucket candidates, exact
    refine — the 100 TB complement to the exact tiled ``cosine_pairs``.

    cosine_pairs is exhaustive but inherently O(n²) work; at some corpus
    size no tiling saves that.  This variant generates candidates with the
    same Rademacher-plane buckets the ANN path uses (pairs sharing a
    bucket in >= 1 of ``n_tables`` tables — an equi-join on (table,
    bucket), never a cross join), then exact-scores only candidates with
    the bit-stable sequential fold.  Recall < 1 by construction (the SRP
    collision curve: p_pair = 1-(1-(1-θ/π)^planes)^tables, measured in
    tests); precision = 1 because every emitted pair is exactly verified.
    In production the bucket columns come from write time
    (with_lsh_buckets), making candidate generation a shuffle on 16-byte
    keys over pre-computed columns.

    SIZING RULE (measured, EXPERIMENTS.md §4): a table has 2^n_planes
    buckets, so ``n_planes`` must track log2(corpus) — about
    ``log2(n) - 5`` keeps ~2^5 vectors per bucket and the candidate
    count linear in n.  ``n_planes=None`` (the default) applies that
    rule automatically via :func:`auto_planes` from the corpus row count
    (one count job — parquet-footer-cheap on a stored corpus; on a DERIVED
    frame it executes the upstream once, so persist the input or pass
    n_planes explicitly there); at the <=500-row gate fixtures
    it resolves to the old fixed 4, and at 10x it grows the bucket space
    ahead of n instead of letting the 16-bucket tables saturate into a
    near-all-pairs self-join (candidates/vec grew 102 -> 4114 in the
    pinned-4 measurement).  More planes also lower per-table recall
    (p^planes), so production raises ``n_tables`` alongside — the
    standard (planes, tables) co-sizing of SRP LSH; pass ``n_planes``
    explicitly to pin a recall point.

    Cache contract: the melted bucket table is persisted for the
    self-join.  With a ``tracker`` the CALLER releases it via
    session.materialize_release; without one this function materializes
    its own result and releases the cache before returning, so no
    persisted frame outlives the call either way.
    """
    from bigdatastructure_a5_spark.session import (
        adopt_tracker,
        ensure_min_partitions,
        persist_df,
    )

    tracker, finish = adopt_tracker(tracker)
    # NULL vectors can neither be bucketed nor scored — drop them up front
    # (also keeps the dim probe below from dereferencing a NULL first row)
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    first = embeddings.select(vec_col).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame(
            [], "id_a bigint, id_b bigint, cosine double"
        )
    if n_planes is None:
        est = _estimated_rows(embeddings)
        n_planes = auto_planes(est if est is not None else embeddings.count())
    signs = rademacher_signs(n_tables, n_planes, len(first[0]), seed)
    bucketed = with_lsh_buckets(ensure_min_partitions(embeddings), signs, vec_col)
    melted = bucketed.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"bucket_{t}").alias("b")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("id", "tb.t", "tb.b")
    melted = persist_df(melted)
    tracker.append(melted)
    a, b = melted.alias("a"), melted.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    result = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine_similarity("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    return finish(result)


def py_bucket(vec, table_signs: list[list[float]]) -> int:
    b = 0
    for p, srow in enumerate(table_signs):
        if _py_fold_dot(vec, srow) >= 0:
            b |= 1 << p
    return b


def py_cosine(a, b) -> float:
    """Driver-side replica of functions.vectors.cosine_similarity —
    COMPOSED from the same canonical folds (functions.vectors._py_fold_dot
    and py_l2), so they cannot drift apart; the operation order is identical
    to the executor expression and to DuckDB's list_cosine_similarity for
    non-degenerate inputs.  A zero vector returns NaN (the executor
    expression returns NULL for the same row): both mean 'ranks nowhere'
    and the probe selection excludes NaN explicitly."""
    denom = py_l2(a) * py_l2(b)
    if denom == 0.0:
        return float("nan")
    return _py_fold_dot(a, b) / denom


def lsh_query_predicate(
    query_vec: list[float], signs: list[list[list[float]]]
) -> str:
    """SQL predicate for the rows sharing a bucket with the query in ANY
    table of ``signs`` (``bucket_0 = 5L OR ...``), the query's buckets
    from py_bucket."""
    return " OR ".join(
        f"`bucket_{t}` = {py_bucket(query_vec, table)}L"
        for t, table in enumerate(signs)
    )


def ivf_probe_predicate(
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    cell_col: str,
) -> str:
    """SQL predicate for the rows in the ``n_probe`` cells nearest the
    query by py_cosine, ties to the smaller id (`` `__cell` IN (3, 0)``).
    A zero-vector centroid scores NaN and is never probed (NaN would
    poison the sort order); with every centroid degenerate nothing is
    probed and the predicate is ``FALSE``."""
    scored = ((py_cosine(query_vec, cvec), cid) for cid, cvec in centroids)
    ranked = sorted(
        ((c, cid) for c, cid in scored if c == c), key=lambda t: (-t[0], t[1])
    )
    probe = [str(int(cid)) for _, cid in ranked[:n_probe]]
    return f"`{cell_col}` IN ({', '.join(probe)})" if probe else "FALSE"


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing an LSH bucket with the
    query in ANY of ``n_tables`` independent hash tables (the classic
    multi-table trade: recall 1-(1-p_match^planes)^tables).

    Plan shape: bucket columns are Catalyst expressions (write-time columns
    in production — see with_lsh_buckets), the query's buckets are literals
    computed driver-side with identical arithmetic (lsh_query_predicate),
    so candidate pruning is a JVM-side OR-of-equalities filter followed by
    scan-speed scoring + TakeOrderedAndProject (the topk_cosine_sql tail).
    ZERO Python stages — the previous design paid a full mapInPandas
    corpus scan per query.

    Pass ``bucketed`` (a corpus already carrying bucket_0..bucket_{T-1}
    columns from with_lsh_buckets with the SAME family parameters — e.g. a
    temp view holding the analyzed plan, or write-time columns read
    straight off parquet) to skip re-deriving the bucket projection; this
    is the per-query production path, where the one-time bucket
    computation is amortized across every ANN lookup.
    """
    signs = rademacher_signs(n_tables, n_planes, len(query_vec), seed)
    if bucketed is None:
        # deliberately NO repartition: a production corpus is already wide
        # (and carries write-time bucket columns); on a one-split test
        # corpus the round-robin exchange + AQE stage costs ~2.5s — far
        # more than the single-task projection it would parallelize
        # (measured r4)
        bucketed = with_lsh_buckets(embeddings, signs, vec_col)
    return _topk_cosine(
        bucketed, query_vec, k, lsh_query_predicate(query_vec, signs),
        id_col, vec_col,
    )


def sample_vectors(
    embeddings: DataFrame, sample_rows: int, vec_col: str = "embedding"
) -> np.ndarray:
    """Bounded, deterministic, layout-independent driver-side sample of
    DISTINCT vectors — the shared training-draw for every sampled quantizer
    (IVF's fit_centroids_sample, PQ's fit_pq_codebook).  Mechanics and the
    scale/duplication rationale are documented on fit_centroids_sample
    (whose contract this implements); the guarantees are: every collect
    returns <= sample_rows rows, exact-duplicate vectors contribute ONE
    candidate, ordering is by the full 128-bit md5 digest (no tie
    ambiguity), and a shortfall widens by stepped cutoff doublings up to
    the full hash range — never a collect of the whole corpus."""
    nonnull = embeddings.select(vec_col).where(F.col(vec_col).isNotNull())
    n = nonnull.count()
    if n == 0:
        raise ValueError(
            "sample_vectors: corpus sample is empty (no non-NULL "
            f"{vec_col!r} rows) — cannot fit a codebook"
        )
    h = F.md5(F.col(vec_col).cast("string").cast("binary"))
    # first 8 hex chars as an integer in [0, 2^32) for the range predicate;
    # hex-lexicographic order of the full digest refines the prefix order
    hash32 = F.conv(F.substring(F.col("__h"), 1, 8), 16, 10).cast("bigint")
    hashed = nonnull.withColumn("__h", h).withColumn("__h32", hash32)
    frac = min(1.0, 1.25 * sample_rows / n)
    sample: list = []
    widened = 0.0
    step = 0
    while widened < 1.0:
        widened = min(1.0, frac * 2**step)
        step += 1
        rows = (
            hashed.where(F.col("__h32") < int(widened * 2**32))
            # one candidate per DISTINCT vector; all rows of a digest group
            # carry the identical vector, so the kept representative is
            # value-deterministic
            .dropDuplicates(["__h"])
            .orderBy("__h")
            .limit(sample_rows)
            .collect()
        )
        sample = [r[0] for r in rows]
        if len(sample) >= sample_rows:
            break
    return np.asarray(sample, dtype=np.float64)


def fit_centroids_sample(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample_rows: int | None = None,
    iters: int = 5,
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """IVF coarse quantizer: fit centroids with Lloyd iterations on a small
    driver-side sample (the standard IVF recipe — at 100 TB you fit on ~1M
    sampled vectors, never the corpus; assignment is the distributed part).

    ``sample_rows=None`` co-sizes the sample with the codebook:
    ``max(1024, 64 * n_centroids)`` — ~64 training points per centroid
    (FAISS recommends 30-256/centroid; fewer starves Lloyd into empty or
    single-point cells).  The sample stays codebook METADATA scale: at
    auto_cells(500k)=707 cells it is ~45k rows x 64 dims x 8 B ~ 23 MB
    on the driver, never the corpus.

    The sample is a deterministic pseudo-random draw over DISTINCT vectors:
    rows whose md5 (of the vector rendered as text) falls below a cutoff
    sized for ~1.25x ``sample_rows``, deduplicated on the digest (exact
    duplicates share one md5, so each distinct vector is ONE candidate —
    Lloyd trains unweighted on distinct points; on a duplicate-heavy corpus
    the old per-row draw collapsed to ~sample_rows/dup distinct training
    points, starving the fit), ordered by the FULL 128-bit digest (32-bit
    prefix ties were broken by collect order, a residual layout
    dependence), and capped with ``limit(sample_rows)`` so the driver
    collect is ALWAYS <= sample_rows rows.  A binomial/duplication
    shortfall widens the cutoff by stepped doublings (2x, 4x, ...) up to
    the full hash range — never a collect of the whole corpus (the old
    fallback materialized all n rows on the driver; at 1e9 vectors that is
    catastrophic, and duplicate lumping made it LIKELIER exactly on dedup
    corpora).  A bare ``limit`` was partition-layout-dependent (repartition
    the corpus and the codebook — hence every recall number downstream —
    silently changed), and an unfiltered TakeOrdered top-k by hash was
    measured shipping each partition's k candidate VECTORS through the
    driver merge (~35 s at a 28k sample of 200k rows); the hash-range
    filter keeps each step's ordered-limit collect at ~the sample itself."""
    if sample_rows is None:
        sample_rows = max(1024, 64 * n_centroids)
    x = sample_vectors(embeddings, sample_rows, vec_col=vec_col)
    x /= np.maximum(np.linalg.norm(x, axis=1), 1e-12)[:, None]
    rng = np.random.RandomState(seed)
    # a corpus smaller than the requested codebook yields fewer centroids
    # (every point its own cell) instead of numpy's replace=False ValueError
    n_centroids = min(n_centroids, len(x))
    cent = x[rng.choice(len(x), size=n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)  # cosine on normalized = dot
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def seed_point_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the ``n_centroids`` lowest-id corpus
    vectors ARE the centroids (k-means with seeding only, zero Lloyd
    rounds).  Cells are Voronoi regions of real data points — a legitimate
    IVF codebook (FAISS supports arbitrary user codebooks) whose virtue
    here is cross-engine checkability: "the 16 lowest ids" is expressible
    in SQL, while a Lloyd fixed point is not.  The collect is n_centroids
    rows of codebook METADATA (like the query vector), not corpus data."""
    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


#: Codebook size above which ``with_ivf_cells(method="auto")`` switches the
#: assignment from the rendered-SQL argmax to the Arrow/BLAS stage.  The SQL
#: projection embeds the (dim x cells) weight matrix as a literal expression:
#: past a few dozen centroids it blows the whole-stage-codegen budget and
#: runs interpreted, re-walking a cells-wide fold per row (measured in
#: EXPERIMENTS §12: the 447-cell literal was the entire 67 s/query wall
#: before the r7 split), and at a production codebook (sqrt(1e9) ~ 31k
#: cells) the expression would not even parse.  Below the threshold the SQL
#: path wins: zero Python stages and bit-exact oracle arithmetic.
IVF_SQL_MAX_CELLS = 32


def _ivf_cells_blas(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    vec_col: str,
) -> Column:
    """Arrow-batched BLAS cell scorer, the twin of the rendered-SQL
    assignment: each row's nearest cell as an ``int`` column when
    ``n_probe`` is 1 (one argmax per row), else an ``array<int>`` column
    of its ``n_probe`` nearest cells, nearest first (a stable argsort).
    Both rank the same scores; the argmax form skips the per-row sort and
    list (5x the wall at 1,414 cells).  One (batch x dim) @ (dim x cells)
    matmul per Arrow batch — the same shape as cosine_pairs' tile scorer,
    and the only way a sqrt(n) codebook scales (per-row work is a BLAS3
    row, not an interpreted cells-wide fold).  Row norms are irrelevant to
    the ranking (a positive per-row scale), so cos reduces to
    dots / |centroid| per column.

    Parity with the SQL path: centroids are ranked in ascending-cid order
    and argmax takes the FIRST of tied cells, as the stable argsort puts
    it first, matching the SQL max-by-(cos, -cid) tie-break;
    degenerate zero-norm centroids score -inf (the SQL path's literal
    -2.0) so they rank last.  A NULL or wrong-length ROW is scored as the
    zero vector (cid order, degenerate cells last): the callers decide
    whether it is parked in a cell (with_ivf_cells) or dropped
    (with_ivf_cells_probed).  Not bit-exact vs the SQL fold
    (pairwise/SIMD vs sequential summation can flip a ranking only when
    two cells tie within float noise) — the gate query pins the SQL path;
    parity on real corpora is pinned by test_ivf_blas_assignment_matches_sql."""
    ranked = sorted(centroids, key=lambda t: int(t[0]))
    cids = np.array([int(cid) for cid, _ in ranked], dtype=np.int64)
    cmat = np.array([cv for _, cv in ranked], dtype=np.float64)  # cells x dim
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    degenerate = cnorm == 0.0
    scale = 1.0 / np.where(degenerate, 1.0, cnorm)
    # codebook-sized state rides a TorrentBroadcast, not the task closure:
    # at the production codebook (sqrt(1e9) ~ 31k cells x 128 dims) the
    # matrix is ~32 MB — broadcast ships it once per EXECUTOR and the
    # serialized UDF command stays metadata-sized per task
    bc = df.sparkSession.sparkContext.broadcast(
        (cids, cmat, scale, degenerate, min(n_probe, len(ranked)))
    )

    def scores(vecs: pd.Series) -> np.ndarray:
        _, b_cmat, b_scale, b_degen, _ = bc.value
        mat = np.zeros((len(vecs), b_cmat.shape[1]), dtype=np.float64)
        for i, v in enumerate(vecs):
            if v is not None and len(v) == b_cmat.shape[1]:
                mat[i] = v
        out = (mat @ b_cmat.T) * b_scale
        out[:, b_degen] = -np.inf
        return out

    if n_probe == 1:

        @F.pandas_udf("int")
        def _cell(vecs: pd.Series) -> pd.Series:
            best = np.argmax(scores(vecs), axis=1)
            return pd.Series(bc.value[0][best].astype("int32"))

        return _cell(F.col(vec_col))

    @F.pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        b_cids, b_p = bc.value[0], bc.value[4]
        order = np.argsort(-scores(vecs), axis=1, kind="stable")[:, :b_p]
        return pd.Series(b_cids[order].astype("int32").tolist())

    return _cells(F.col(vec_col))


def with_ivf_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    method: str = "auto",
) -> DataFrame:
    """Materialize the IVF cell id as a column — the write-time step: at
    100 TB the corpus is written partitioned/sorted by cell so a probe
    query prunes to n_probe partitions before any scoring.

    ``method``: ``"sql"`` — rendered-SQL argmax (bit-exact vs the DuckDB
    oracle, zero Python stages; only viable up to a few dozen cells);
    ``"blas"`` — Arrow-batched matmul (_ivf_cells_blas, the scale
    path for sqrt(n) codebooks; every input row keeps a cell);
    ``"auto"`` (default) — sql at
    <= IVF_SQL_MAX_CELLS cells, blas above, so small/gate codebooks keep
    the exact zero-Python plan and corpus-tracking codebooks get the one
    that finishes.

    SQL path: same two-stage one-pass trick as with_lsh_buckets (the
    shared fold is functions.vectors.matrix_dots_sql): all codebook dot
    products in a single fold against one (dim x centroids) literal
    matrix + one shared row-norm fold, then the argmax over
    cos = dots[c] / (norm_v * |centroid_c|) — element order and operation
    structure identical to per-centroid cosine_similarity folds, so cell
    ids (and the oracle hash) are unchanged bit-for-bit.  Centroid norms
    are Python-folded with the same sequential arithmetic (py_l2).  Both
    projections are rendered SQL (see matrix_dots_sql for the measured
    py4j-per-node cost this avoids)."""
    if method == "auto":
        method = "sql" if len(centroids) <= IVF_SQL_MAX_CELLS else "blas"
    if method == "blas":
        return df.withColumn(
            cell_col, _ivf_cells_blas(df, centroids, 1, vec_col)
        )
    if method != "sql":
        raise ValueError(f"unknown with_ivf_cells method {method!r}")
    from bigdatastructure_a5_spark.functions.vectors import matrix_dots_sql

    for c in df.columns:
        if c in (cell_col, "__ivf_dots", "__ivf_nv"):
            raise ValueError(
                f"with_ivf_cells staging/output column {c!r} already exists "
                "on the input"
            )
    dots_sql = matrix_dots_sql(vec_col, [cvec for _cid, cvec in centroids])
    # identical op structure to functions.vectors.l2_norm (transform-square
    # then sequential add-fold, then sqrt).  NULLIF is the ANSI-mode
    # DIVIDE_BY_ZERO guard for a zero-norm ROW, applied ONCE here in
    # staging: division by NULL is NULL (never an error), every entry's cos
    # goes NULL, and the row's final score is NULL downstream — it ranks
    # nowhere.  Guarding per entry instead (a CASE around each division)
    # was measured 5x slower: it doubles the staging references, the
    # expression blows past codegen's subexpression-elimination budget,
    # and the interpreted fallback re-evaluates the full matrix fold per
    # entry (53 aggregate() copies in the optimized plan).
    norm_sql = (
        f"nullif(sqrt(aggregate(transform(`{vec_col}`, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, "
        "(acc,v) -> acc + v)), 0.0D)"
    )
    staged = df.selectExpr(
        "*", f"{dots_sql} AS __ivf_dots", f"{norm_sql} AS __ivf_nv"
    )

    # a zero-norm CENTROID is guarded driver-side (its norm is a Python
    # constant): a literal -2.0 score — below any real cosine — so it
    # never wins the argmax; non-degenerate entries keep the exact
    # division, bit-identical to per-centroid cosine_similarity folds
    def entry_sql(j: int, cid: int, cvec) -> str:
        cnorm = py_l2(cvec)
        if cnorm == 0.0:
            cos = "-2.0D"
        else:
            cos = (
                f"element_at(__ivf_dots, {j + 1}) / "
                f"(__ivf_nv * {_sql_double(cnorm)})"
            )
        return f"struct({cos} AS cos, CAST({-cid} AS BIGINT) AS negcid)"

    entries = ",".join(
        entry_sql(j, cid, cvec) for j, (cid, cvec) in enumerate(centroids)
    )
    cell_sql = f"CAST(-(array_max(array({entries})).negcid) AS INT)"
    return staged.selectExpr(
        *[f"`{c}`" for c in df.columns], f"{cell_sql} AS `{cell_col}`"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroid_mode: str = "seed_points",
    centroids: list[tuple[int, list[float]]] | None = None,
    assign_method: str = "auto",
    celled: DataFrame | None = None,
    cell_col: str = "__cell",
) -> DataFrame:
    """IVF approximate top-k: assign vectors to their nearest codebook cell
    (a Catalyst argmax projection — see with_ivf_cells), probe the
    ``n_probe`` cells whose centroids are nearest the query, score only
    those exactly.

    SIZING (VERDICT r6 item 1, measured EXPERIMENTS §12): ``n_centroids=
    None`` applies :func:`auto_cells` (~sqrt(n), floor 16) from the corpus
    row count — one count job, parquet-footer-cheap on a stored corpus (on
    a DERIVED frame persist the input or pass ``n_centroids`` explicitly,
    same caveat as cosine_pairs_lsh's auto_planes); ``n_probe=None``
    applies :func:`auto_probe` (~sqrt(cells), floor 4) to the FITTED
    codebook size.  The registered gate query pins (16, 4) explicitly so
    its DuckDB oracle stays bit-exact at every fixture scale.

    ``centroid_mode``:

    - ``"seed_points"`` (default): deterministic lowest-id codebook
      (seed_point_centroids) — SQL-expressible, so the whole query is
      oracle-checkable bit-for-bit.  Probe selection
      (ivf_probe_predicate) uses the driver-side cosine replica
      (py_cosine), bit-identical to the executor/oracle arithmetic.
    - ``"lloyd"``: sample-fit Lloyd codebook (fit_centroids_sample) — the
      production-quality quantizer; same plan shape, not SQL-checkable.

    Plan shape either way: ONE scan with a per-row argmax projection +
    IN-filter + scan-speed scoring + TakeOrderedAndProject (the
    topk_cosine_sql tail).  ZERO Python stages on the sql assignment
    path — the previous design paid a mapInPandas pass over the full
    corpus per query.  Complements the
    hyperplane-LSH variant (data-dependent cells vs data-independent
    planes).

    ``assign_method`` is forwarded to :func:`with_ivf_cells` ("auto":
    rendered SQL up to IVF_SQL_MAX_CELLS cells, Arrow/BLAS above).

    ``celled``: a frame that ALREADY carries the cell assignment in
    ``cell_col`` (built once by with_ivf_cells, persisted or written
    partitioned-by-cell) — the amortized serving shape: at 100 TB the
    assignment is a write-time cost paid once per corpus, and every query
    is probe-rank (codebook-sized, driver) + cell filter + exact scoring.
    ``centroids`` must be the same codebook the cells were built from.
    """
    if celled is not None and centroids is None:
        raise ValueError("ivf_topk(celled=...) requires the matching centroids")
    if centroids is None and n_centroids is None:
        est = _estimated_rows(embeddings)
        n_centroids = auto_cells(est if est is not None else embeddings.count())
    if centroids is not None:
        cents = centroids  # pre-fetched codebook (caller saved a scan job)
    elif centroid_mode == "seed_points":
        cents = seed_point_centroids(embeddings, n_centroids, id_col, vec_col)
    elif centroid_mode == "lloyd":
        mat = fit_centroids_sample(
            embeddings, n_centroids, vec_col=vec_col, seed=seed
        )
        cents = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    else:
        raise ValueError(f"unknown centroid_mode {centroid_mode!r}")
    if n_probe is None:
        # sized to the FITTED codebook (a corpus smaller than the requested
        # codebook yields fewer centroids), never the requested one
        n_probe = auto_probe(len(cents))

    # deliberately NO repartition (see ann_lsh_topk: the exchange costs more
    # than the one-task argmax projection it would spread on a test corpus)
    if celled is None:
        celled = with_ivf_cells(
            embeddings, cents, vec_col, cell_col, method=assign_method
        )
    where = ivf_probe_predicate(query_vec, cents, n_probe, cell_col)
    return _topk_cosine(celled, query_vec, k, where, id_col, vec_col)
