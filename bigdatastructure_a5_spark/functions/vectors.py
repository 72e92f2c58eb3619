"""Vector math over ``array<float>`` embedding columns — pure JVM expressions.

Used by the similarity-search operators (BASELINE.json extension scope).  All
of these compile to Catalyst higher-order functions (``zip_with`` /
``aggregate``), i.e. they run inside whole-stage codegen with NO Python in the
loop — at 100 TB this is the difference between a scan-speed operator and a
10-100x slower UDF path.

Determinism: ``aggregate`` folds the array left-to-right, so the accumulation
order is the array order on every engine/partition — per-row results are
bit-stable.  For cross-engine oracle comparison we still round scores, since
DuckDB's ``list_cosine_similarity`` may accumulate differently.

The rendered-SQL literal helpers (``_sql_double``, ``double_array_sql``) and
the driver-side folds (``_py_fold_dot``, ``py_l2``) are the one copy every
operator uses, so a driver-computed constant reads back bit-identical to the
executor fold over the same values.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _sql_double(v: float) -> str:
    """Shortest round-trip decimal + D suffix: Catalyst's parser reads it back
    to the bit-identical IEEE double (both sides use shortest-repr rules)."""
    return repr(float(v)) + "D"


def double_array_sql(values) -> str:
    """Rendered ``array<double>`` literal: ``array(0.5D,-1.0D,...)``, each
    element by :func:`_sql_double`."""
    return "array(" + ",".join(_sql_double(v) for v in values) + ")"


def double_array_lit(values) -> Column:
    """``array<double>`` literal built in ONE parser call.

    ``F.array(*[F.lit(x) ...])`` costs one py4j round-trip per element —
    ~1.5s of driver time for a 64x32 matrix (measured), which dominated the
    ANN queries' wall-clock as pure fixed cost.  A single ``F.expr`` over a
    rendered SQL string is one round-trip; Catalyst parses and
    constant-folds it to the same Literal in milliseconds."""
    return F.expr(double_array_sql(values))


def matrix_dots_sql(vec_col: str, col_vectors) -> str:
    """Rendered-SQL expression computing ALL dot products v · col_vectors[j]
    in ONE fold over the vector: returns an ``array<double>`` of length
    ``len(col_vectors)`` whose j-th element is the dot of ``vec_col`` with
    the j-th weight vector.

    The single shared fold is the load-bearing trick behind both ANN
    write-time projections (LSH bucket bits, IVF cell argmax): per vector
    element, its contribution to EVERY column is added in element order —
    bit-identical to per-column sequential folds, hence to a DuckDB oracle
    running the same left-fold.  The whole thing is a rendered string for
    one parser call (see double_array_lit for the measured py4j-per-node
    cost of building the same tree through the Column API), and the fold
    carries the element index in a struct so each step is one
    ``len(col_vectors)``-wide zip_with against the weight matrix row — no
    dim x j intermediate array-of-arrays."""
    j_total = len(col_vectors)
    dim = len(col_vectors[0])
    # w2[d][j]: column j's weight at dimension d (transposed so the fold
    # indexes by the vector element's position)
    w2_sql = "array(" + ",".join(
        double_array_sql(col_vectors[j][d] for j in range(j_total))
        for d in range(dim)
    ) + ")"
    return (
        f"aggregate(zip_with(`{vec_col}`, sequence(1,{dim}), "
        "(x,i) -> struct(CAST(x AS DOUBLE) AS x, i AS i)), "
        f"array_repeat(0.0D, {j_total}), "
        f"(acc, s) -> zip_with(acc, element_at({w2_sql}, s.i), "
        "(a,w) -> a + s.x * w))"
    )


def long_array_lit(values) -> Column:
    """``array<bigint>`` literal in one parser call."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in values) + ")")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ a[i]*b[i] in double precision, array-order accumulation."""
    prod = F.zip_with(_as_col(a), _as_col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    c = _as_col(a)
    sq = F.transform(c, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot/(|a||b|), NULL when either norm is zero (or either vector NULL).

    The guard matters under Spark 4's DEFAULT ANSI mode, where the bare
    division would throw DIVIDE_BY_ZERO and abort the whole job on one
    degenerate row.  NULL is the chosen semantic — a zero vector has no
    direction, so it passes no threshold filter and ranks nowhere in a
    top-k (engines disagree here anyway: DuckDB's list_cosine_similarity
    returns -1.0, non-ANSI Spark NaN; fixtures contain no zero vectors,
    so oracles are unaffected).  For non-degenerate rows the value is
    bit-identical to the unguarded division."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != F.lit(0.0), dot_product(a, b) / denom)


def _py_fold_dot(vec, weights) -> float:
    """Driver-side replica of :func:`dot_product`: the same left-to-right
    double accumulation, so a driver-computed constant (a query's LSH
    bucket bits or norm, a PQ look-up-table entry, an SQ8 offset) is
    bit-identical to the executor and DuckDB folds over the same values."""
    acc = 0.0
    for x, w in zip(vec, weights):
        acc += float(x) * float(w)
    return acc


def py_l2(a) -> float:
    """Driver-side replica of :func:`l2_norm` (sequential square-sum fold +
    sqrt) — bit-identical to the executor expression."""
    return math.sqrt(_py_fold_dot(a, a))
