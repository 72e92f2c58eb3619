"""Vector quantization for embedding columns: PQ and SQ8 tiers.

The ANN family's memory-scale path.  IVF (operators/similarity.py) prunes
WHICH rows a probe scans; quantization compresses WHAT each row stores.
Two tiers, both standard FAISS shapes:

- **PQ** (product quantization): a ``dim``-float vector (64 x 8 B =
  512 B here; 768 x 4 B = 3 KB for a typical text embedding) becomes
  ``m`` codebook indices (8 small ints — ~8 B bit-packed in parquet), a
  30-100x footprint cut that is the difference between "the corpus fits
  in the page cache / executor memory" and "every probe is a disk scan"
  at 10^9+ vectors; recall is approximate, recovered by the refine tier.
- **SQ8** (scalar quantization, ``fit_sq8_bounds`` / ``with_sq8_codes``
  / ``sq8_dot_topk``): one uint8 code per DIMENSION — 8x smaller than
  float64 with near-exact top-k, the middle rung when PQ's recall loss
  is too steep; encode AND serve are pure rendered expressions (per-dim
  bounds ride as array literals), zero Python anywhere in the tier.

Public-knowledge design: Jegou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) — the FAISS IVF-PQ shape — and
FAISS's ScalarQuantizer.  The reference repo has no quantization operator
(its ANN surface stops at exact scoring,
reference: challenge/simulator.py scan costing); this extends the build
brief's similarity-search mandate the same way IVF does.

Spark-first split, mirroring the IVF design one file over:

- TRAIN (driver, sample-sized): ``fit_pq_codebook`` — m independent
  k-means fits on the sub-slices of the shared bounded sample draw
  (similarity.sample_vectors: distinct vectors, hash-ordered, every
  collect <= sample_rows).
- ENCODE (distributed, write-time): ``with_pq_codes`` — one Arrow batch
  x (m x n_codes) BLAS distance per sub-slice, codebook rides a
  TorrentBroadcast.  Codes are an ``array<int>`` column: parquet
  bit-packs values < 256 to ~1 B each, so the stored footprint is the
  claimed m-ish bytes without a custom binary packing (measured in
  EXPERIMENTS §14).
- SERVE (distributed, per query): ``pq_adc_topk`` — asymmetric distance
  computation: the query is NOT quantized; a (m x n_codes) look-up table
  of exact sub-inner-products is built driver-side (codebook metadata,
  like IVF's probe ranking) and the score is a pure Catalyst fold over
  the code array — ZERO Python in the serving path below
  PQ_SQL_MAX_LUT entries, the same rendered-SQL-vs-Arrow split as
  with_ivf_cells.  An optional exact re-rank over the ADC top
  candidates (``refine``) recovers exact-ordering quality at
  candidates/corpus cost, the standard FAISS refine stage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401  (pandas_udf resolves annotations here)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import (
    _py_fold_dot,
    _sql_double,
    cosine_similarity,
    double_array_lit,
    double_array_sql,
)
from .similarity import ivf_probe_predicate, sample_vectors

#: LUT entries (m * n_codes) above which pq_adc_topk switches the score
#: fold from a rendered-SQL literal to the Arrow/BLAS gather stage — the
#: same codegen-budget reasoning as similarity.IVF_SQL_MAX_CELLS: the
#: default 8x256 LUT is 2048 double literals (fine); a 64x4096 production
#: LUT would not realistically compile as an expression.
PQ_SQL_MAX_LUT = 4096


def fit_pq_codebook(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    sample_rows: int | None = None,
    iters: int = 10,
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Train a product-quantizer codebook: split ``dim`` into ``m``
    contiguous sub-vectors and k-means each sub-space to ``n_codes``
    centroids on the shared driver-side sample (sample_vectors: bounded,
    deterministic, duplicate-invariant).  -> array (m, k, dim//m) with
    k = min(n_codes, sample size); sub-quantizer j encodes slice
    ``[j*dsub, (j+1)*dsub)``.

    ``sample_rows=None`` co-sizes the sample at ``max(1024, 64*n_codes)``
    (~64 training points per code, shared across all m sub-quantizers —
    they train on different COLUMNS of the same rows).  Training is on RAW
    (un-normalized) vectors: ADC approximates the inner product, and the
    fixture corpus is unit-norm so IP == cosine; for an un-normalized
    corpus, normalize upstream if cosine (not IP) is the target metric."""
    if m < 1:
        raise ValueError(f"fit_pq_codebook: m must be >= 1, got {m}")
    if sample_rows is None:
        sample_rows = max(1024, 64 * n_codes)
    x = sample_vectors(embeddings, sample_rows, vec_col=vec_col)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(
            f"fit_pq_codebook: dim {dim} is not divisible into m={m} "
            "sub-vectors"
        )
    dsub = dim // m
    k = min(n_codes, len(x))
    book = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        rng = np.random.RandomState(seed + j)  # decorrelate sub-space seeds
        cent = sub[rng.choice(len(sub), size=k, replace=False)]
        for _ in range(iters):
            # L2 argmin via the expansion trick: |s-c|^2 = |s|^2 - 2 s.c +
            # |c|^2; |s|^2 is constant per row, so argmin over c drops it
            d2 = -2.0 * (sub @ cent.T) + (cent * cent).sum(axis=1)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        book[j] = cent
    return book


def with_pq_codes(
    df: DataFrame,
    codebook: np.ndarray,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode ``vec_col`` to PQ codes: per Arrow batch, one
    (batch x dsub) @ (dsub x k) BLAS distance per sub-quantizer, argmin
    per row — the write-time stage of the PQ pipeline (at 100 TB the
    codes column is what gets stored and served; the raw vector column is
    dropped or kept only for a refine tier).  Codebook rides a
    TorrentBroadcast like the IVF assignment's.  NULL or wrong-length
    vectors encode to NULL (they rank nowhere downstream, matching the
    NULL-cosine convention)."""
    book = np.ascontiguousarray(codebook, dtype=np.float64)
    # precompute |c|^2 per sub-quantizer for the expansion-trick distance
    cnorm2 = (book * book).sum(axis=2)  # (m, k)
    bc = df.sparkSession.sparkContext.broadcast((book, cnorm2))

    @F.pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        b_book, b_cnorm2 = bc.value
        mm, kk, dd = b_book.shape
        valid = np.zeros(len(vecs), dtype=bool)
        mat = np.zeros((len(vecs), mm * dd), dtype=np.float64)
        for i, v in enumerate(vecs):
            if v is not None and len(v) == mm * dd:
                mat[i] = v
                valid[i] = True
        codes = np.empty((len(vecs), mm), dtype=np.int64)
        for j in range(mm):
            sub = mat[:, j * dd : (j + 1) * dd]
            d2 = -2.0 * (sub @ b_book[j].T) + b_cnorm2[j]
            codes[:, j] = np.argmin(d2, axis=1)
        out = [
            [int(c) for c in codes[i]] if valid[i] else None
            for i in range(len(vecs))
        ]
        return pd.Series(out)

    return df.withColumn(code_col, _encode(F.col(vec_col)))


def with_pq_codes_sql(
    df: DataFrame,
    codebook: np.ndarray,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Rendered-SQL twin of :func:`with_pq_codes` — the PQ encode as a
    pure Catalyst projection, zero Python stages, same role as
    ``with_ivf_cells(method="sql")`` one file over: bit-exactly
    mirrorable by a DuckDB oracle (sequential folds only, no BLAS), which
    is what puts PQ encoding under the driver's hash gate (sim_pq_adc).

    One shared fold computes ALL m*k sub-dot-products at once
    (functions.vectors.matrix_dots_sql with each sub-centroid zero-padded
    to the full dim — adding ``x * 0.0`` terms leaves the accumulator
    bit-identical to a fold over just the slice), then per sub-quantizer
    the argmin of d2 = -2*dot + |c|^2 (the same expansion trick as the
    BLAS path; |s|^2 is constant per row and drops out of the argmin)
    with ties to the smallest code via a struct array_min.  NULL and
    wrong-length vectors encode NULL, the shared convention.

    Only viable for codebooks whose literal matrix fits the expression
    budget — gate/small-index scale; production encoding is the Arrow/
    BLAS path."""
    from ..functions.vectors import matrix_dots_sql

    book = np.ascontiguousarray(codebook, dtype=np.float64)
    m, k, dsub = book.shape
    dim = m * dsub
    if dim * m * k > 65536:
        raise ValueError(
            f"with_pq_codes_sql: {m}x{k} codebook over dim {dim} renders "
            f"{dim * m * k} literals — past the expression budget; use "
            "with_pq_codes (BLAS) for production-sized codebooks"
        )
    for c in df.columns:
        if c in (code_col, "__pq_dots"):
            raise ValueError(
                f"with_pq_codes_sql staging/output column {c!r} already "
                "exists on the input"
            )
    # column (j*k + c): sub-centroid (j, c) zero-padded to the full dim
    padded = []
    for j in range(m):
        for c in range(k):
            w = [0.0] * dim
            w[j * dsub : (j + 1) * dsub] = [float(v) for v in book[j, c]]
            padded.append(w)
    dots_sql = matrix_dots_sql(vec_col, padded)
    code_exprs = []
    for j in range(m):
        # |c|^2 per sub-centroid: sequential Python fold — the oracle twin
        # recomputes it with list_reduce in the same order
        cnorms = double_array_sql(
            _py_fold_dot(book[j, c], book[j, c]) for c in range(k)
        )
        code_exprs.append(
            f"array_min(zip_with(slice(__pq_dots, {j * k + 1}, {k}), "
            f"sequence(0, {k - 1}), (d, c) -> struct("
            f"-2.0D * d + element_at({cnorms}, c + 1) AS d2, c AS c))).c"
        )
    codes_sql = (
        f"CASE WHEN size(`{vec_col}`) = {dim} THEN "
        f"array({','.join(code_exprs)}) ELSE NULL END"
    )
    staged = df.selectExpr("*", f"{dots_sql} AS __pq_dots")
    return staged.selectExpr(
        *[f"`{c}`" for c in df.columns], f"{codes_sql} AS `{code_col}`"
    )


def adc_lut(codebook: np.ndarray, query_vec: list[float]) -> np.ndarray:
    """Asymmetric-distance look-up table: LUT[j][c] = <q_j, codebook[j,c]>
    (exact sub-inner-products of the UNquantized query).  sum_j LUT[j,
    code_j] approximates <q, v> with only the corpus side quantized —
    codebook-metadata-sized driver work, like IVF's probe ranking.

    In the rendered-SQL serving regime (m*k <= PQ_SQL_MAX_LUT, where the
    LUT ships as expression literals) each entry is a SEQUENTIAL Python
    fold, bit-identical to a DuckDB ``list_reduce`` over the same slice —
    what lets sim_pq_adc be hash-checked against the oracle.  Above the
    budget (Arrow-gather serving, no oracle in play) BLAS does the work."""
    book = np.asarray(codebook, dtype=np.float64)
    m, k, dsub = book.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(
            f"adc_lut: query dim {q.shape[0]} != codebook dim {m * dsub}"
        )
    if m * k <= PQ_SQL_MAX_LUT:
        return np.array(
            [
                [_py_fold_dot(book[j, c], q[j * dsub : (j + 1) * dsub])
                 for c in range(k)]
                for j in range(m)
            ],
            dtype=np.float64,
        )
    return np.stack([book[j] @ q[j * dsub : (j + 1) * dsub] for j in range(m)])


def _adc_score_sql(lut: np.ndarray, code_col: str) -> str:
    """Rendered-SQL ADC fold: element_at into a literal (m x k) LUT,
    summed — stays inside whole-stage codegen, zero Python stages."""
    rows = ",".join(double_array_sql(row) for row in lut)
    return (
        f"aggregate(zip_with(`{code_col}`, sequence(1, {lut.shape[0]}), "
        f"(c, j) -> element_at(element_at(array({rows}), j), c + 1)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def pq_adc_topk(
    codes_df: DataFrame,
    codebook: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    refine: str | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """Approximate top-k by ADC score over a PQ-coded corpus.  The scan
    reads only (id, codes) — the compressed representation — and the score
    is a Catalyst fold over the code array when the LUT fits the rendered-
    SQL budget (m*k <= PQ_SQL_MAX_LUT), else an Arrow gather stage with
    the LUT broadcast.  Output: (id_col, adc_ip [, cosine if refined]).

    ``refine``: name of a raw-vector column present in ``codes_df`` —
    re-rank the ``refine_factor * k`` best ADC candidates by EXACT cosine
    (the FAISS refine tier).  The exact scorer touches only
    refine_factor*k rows, so its cost is independent of corpus size."""
    lut = adc_lut(codebook, query_vec)
    m, n_codes = lut.shape
    if m * n_codes <= PQ_SQL_MAX_LUT:
        scored = codes_df.where(F.col(code_col).isNotNull()).withColumn(
            "adc_ip", F.expr(_adc_score_sql(lut, code_col))
        )
    else:
        bc = codes_df.sparkSession.sparkContext.broadcast(lut)

        @F.pandas_udf("double")
        def _adc(codes: pd.Series) -> pd.Series:
            b_lut = bc.value
            mm = b_lut.shape[0]
            arr = np.stack(codes.to_numpy())  # (batch, m), no NULLs here
            return pd.Series(b_lut[np.arange(mm), arr].sum(axis=1))

        scored = codes_df.where(F.col(code_col).isNotNull()).withColumn(
            "adc_ip", _adc(F.col(code_col))
        )
    cand_k = k if refine is None else max(k, refine_factor * k)
    top = (
        scored.select(id_col, "adc_ip", *([refine] if refine else []))
        .orderBy(F.col("adc_ip").desc(), F.col(id_col))
        .limit(cand_k)
    )
    if refine is None:
        return top
    q = double_array_lit([float(v) for v in query_vec])
    # NULL cosines (NULL/short refine vectors) are dropped BEFORE the
    # top-k limit: filtering after it would return < k rows whenever a
    # degenerate row lands inside the window instead of backfilling with
    # the next-best candidate (VERDICT r8 item 2).  The filter runs on
    # cand_k rows — candidates-sized, not corpus-sized.
    return (
        top.select(
            F.col(id_col),
            F.col("adc_ip"),
            cosine_similarity(F.col(refine), q).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def fit_sq8_bounds(
    embeddings: DataFrame, vec_col: str = "embedding", q: float | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Scalar-quantizer bounds: per-dimension (lo, hi) over the corpus —
    one posexplode + groupBy job, write-time cost like every other index
    build here.  -> (lo, hi) arrays of length dim.

    ``q=None`` (default): exact min/max — bit-mirrorable by a DuckDB
    oracle (min/max of doubles is order-independent), right for clean
    corpora.  ``q=0.999``-style: quantile bounds via ``approx_percentile``
    (lo = the 1-q quantile, hi = the q quantile) — the FAISS
    ``ScalarQuantizer`` RangeStat-quantile recipe: on a heavy-tailed
    corpus a single outlier per dimension stretches the exact range and
    squashes the useful 8-bit resolution; quantile bounds keep the step
    sized to the BULK of the mass (clamping the tail) — recall impact
    measured in EXPERIMENTS §14b."""
    per_dim = embeddings.select(
        F.posexplode(F.col(vec_col)).alias("__d", "__x")
    ).groupBy("__d")
    if q is None:
        agg = per_dim.agg(F.min("__x").alias("lo"), F.max("__x").alias("hi"))
    else:
        if not 0.5 < q <= 1.0:
            raise ValueError(f"fit_sq8_bounds: q must be in (0.5, 1], got {q}")
        agg = per_dim.agg(
            F.percentile_approx("__x", 1.0 - q).alias("lo"),
            F.percentile_approx("__x", q).alias("hi"),
        )
    rows = agg.orderBy("__d").collect()
    if not rows:
        raise ValueError(
            f"fit_sq8_bounds: no non-NULL {vec_col!r} rows — cannot fit"
        )
    lo = np.array([r.lo for r in rows], dtype=np.float64)
    hi = np.array([r.hi for r in rows], dtype=np.float64)
    return lo, hi


def with_sq8_codes(
    df: DataFrame,
    bounds: tuple[np.ndarray, np.ndarray],
    vec_col: str = "embedding",
    code_col: str = "sq8_code",
) -> DataFrame:
    """Scalar-quantize ``vec_col`` to one uint8 code per dimension (the
    FAISS SQ8 tier: 8x smaller than float64, near-exact recall — the
    middle rung between raw vectors and PQ codes).  Unlike PQ's BLAS
    argmin, SQ8 encode is a pure rendered expression — per-dimension
    (lo, 1/step) ride as array LITERALS inside one transform, so BOTH
    encode and serve are zero-Python, whole-stage-codegen column ops.
    code_i = clamp(floor((x_i - lo_i) / step_i), 0, 255); a degenerate
    dimension (lo == hi) encodes 0.  NULL vectors encode NULL, and so do
    wrong-length vectors (the size() guard below): without it,
    element_at past the bounds array under Spark 4's default ANSI mode
    throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT and one malformed row aborts
    the corpus-wide write-time job — PQ's encoder maps those rows to NULL
    and SQ8 keeps the same convention (ADVICE r8).  With quantile bounds
    (fit_sq8_bounds q != None) out-of-range tail values clamp to 0/255 —
    exactly the range-stat tail clipping the quantile recipe intends."""
    lo, hi = (np.asarray(b, dtype=np.float64) for b in bounds)
    dim = lo.shape[0]
    step = (hi - lo) / 255.0
    inv = np.where(step > 0, 1.0 / np.where(step > 0, step, 1.0), 0.0)
    expr = (
        f"CASE WHEN size(`{vec_col}`) = {dim} THEN "
        f"transform(`{vec_col}`, (x, i) -> CAST(least(greatest("
        f"floor((CAST(x AS DOUBLE) - element_at({double_array_sql(lo)}, "
        f"i + 1)) * element_at({double_array_sql(inv)}, i + 1)), 0), 255) "
        "AS INT)) ELSE NULL END"
    )
    return df.withColumn(code_col, F.expr(expr))


def sq8_dot_topk(
    codes_df: DataFrame,
    bounds: tuple[np.ndarray, np.ndarray],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sq8_code",
) -> DataFrame:
    """Approximate top-k by inner product against SQ8-dequantized vectors
    WITHOUT materializing the dequantization:

        <q, dequant(c)> = sum_i q_i * (lo_i + c_i * step_i)
                        = [sum_i q_i * lo_i]  +  sum_i (q_i * step_i) * c_i

    — a query-time constant plus a weighted fold over the code array with
    per-dimension literal weights: one rendered expression, zero Python,
    scan reads only (id, codes).  Output: (id_col, sq8_ip).

    Rows whose code array's length differs from the bounds dim are
    REJECTED loudly (a mismatched bounds/codes artifact pairing would
    otherwise zip_with-null-pad to a NULL score that silently sorts last
    — quietly wrong top-k, ADVICE r8); the constant and per-dim weights
    are sequential single-op derivations of the bounds, so the whole
    score is bit-mirrorable by a DuckDB list_reduce oracle."""
    lo, hi = (np.asarray(b, dtype=np.float64) for b in bounds)
    dim = lo.shape[0]
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != dim:
        raise ValueError(
            f"sq8_dot_topk: query dim {q.shape[0]} != bounds dim {dim}"
        )
    step = (hi - lo) / 255.0
    w = q * step  # per-dim weight on the integer code (one multiply each)
    # sequential fold, NOT np.dot: BLAS may block/pairwise-sum, and this
    # constant must be the bit-exact twin of the oracle's list_reduce
    const = _py_fold_dot(q, lo)
    expr = (
        f"CASE WHEN size(`{code_col}`) = {dim} THEN "
        f"{_sql_double(const)} + aggregate(zip_with(`{code_col}`, "
        f"{double_array_sql(w)}, (c, w) -> c * w), 0.0D, "
        "(acc, x) -> acc + x) "
        f"ELSE raise_error(concat('sq8_dot_topk: code array length ', "
        f"CAST(size(`{code_col}`) AS STRING), ' != bounds dim {dim} — "
        f"mismatched bounds/codes artifacts')) END"
    )
    return (
        codes_df.where(F.col(code_col).isNotNull())
        .select(F.col(id_col), F.expr(expr).alias("sq8_ip"))
        .orderBy(F.col("sq8_ip").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_pq_topk(
    celled_codes: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebook: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    cell_col: str = "__cell",
    code_col: str = "pq_code",
    refine: str | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """IVF-PQ serving: probe the ``n_probe`` nearest cells of a corpus that
    carries BOTH a write-time IVF cell column (with_ivf_cells, ideally the
    partitionBy(cell) stored layout so the filter prunes at the source)
    and a write-time PQ code column (with_pq_codes), then ADC-rank only
    the probed rows — the FAISS IVFPQ composition: IVF bounds rows
    SCANNED, PQ bounds bytes PER ROW, so a probe reads
    n/cells*n_probe rows x ~m bytes instead of n x dim floats.  The probe
    is similarity.ivf_probe_predicate, the same one ivf_topk uses."""
    return pq_adc_topk(
        celled_codes.filter(
            ivf_probe_predicate(query_vec, centroids, n_probe, cell_col)
        ),
        codebook,
        query_vec,
        k=k,
        id_col=id_col,
        code_col=code_col,
        refine=refine,
        refine_factor=refine_factor,
    )
