"""Data-layout clustering: Z-order (Morton) keys for multi-column pruning.

The storage-layout counterpart of the reference's physical-design thesis
(reference: challenge/simulator.py scan costing — which layout a query
reads decides its cost): at 100 TB, a predicate only gets cheap if the
layout lets the scan SKIP data.  A single sort column gives parquet
min/max row-group skipping on that one column; a query filtering on TWO
columns reads almost everything on a one-column sort.  Z-ordering
interleaves the bits of several columns' rank values into one Morton key
and range-clusters by it, so every participating column is locally
ordered inside each file and min/max pruning works on all of them at
once — the same technique behind Delta Lake's OPTIMIZE ZORDER BY and
ClickHouse/DuckDB morton encodings (public knowledge; OSS Spark has no
built-in, which is why this operator exists).

Spark-first: the Morton key is a RENDERED COLUMN EXPRESSION (shiftleft /
shiftright / bitwise and-or over the scaled ranks — zero Python, stays
inside whole-stage codegen, same design rule as the IVF SQL argmax), and
the clustering is `repartitionByRange(z) + sortWithinPartitions(z)` +
plain parquet write: every engine that reads parquet footers benefits,
no table format required.  Measured in EXPERIMENTS §15 (historical,
not regenerated).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default bits per column in the Morton key — up to 3 columns at 16
#: bits fit the signed 64-bit key (with_zorder_key auto-shrinks to
#: 63 // n_cols beyond that: 4 columns -> 15 bits each).  65k distinct
#: rank buckets per column is far finer than row-group granularity at
#: any realistic file size, so more bits buy nothing (the key only
#: needs to ORDER row groups, not rows).
ZORDER_BITS = 16


def scale_to_rank(
    col: Column, lo: float | int, hi: float | int, bits: int = ZORDER_BITS
) -> Column:
    """Min/max-scale a numeric column to an integer rank in [0, 2^bits):
    the per-column input to the Morton interleave.  ``lo``/``hi`` are the
    column's corpus min/max (one tiny agg job, computed once at write
    time by the caller — layout building is a write-time activity, like
    the IVF cell assignment).  NULLs rank 0 (they cluster together at
    the low end, which is exactly what a pruning layout wants).

    When BOTH bounds are Python ints the shift ``col - lo`` happens in
    EXACT bigint arithmetic before the (lossy) double cast.  This is
    load-bearing for ``string_surrogate`` values: they sit near 2^62,
    where a double's ULP is 1024 — casting first would erase the low ~10
    bits (the folded chars 8-9), collapsing strings that differ only
    there onto one rank (ADVICE r10).  The post-subtraction span is
    small whenever the strings share a prefix — exactly the case where
    those low bits carry all the signal.

    A degenerate column (lo == hi) ranks 0 everywhere instead of
    dividing by zero."""
    max_rank = (1 << bits) - 1
    if isinstance(lo, int) and isinstance(hi, int):
        # exact integer degeneracy test AND span: near 2^62 two bounds
        # can differ by < one double ULP (~1024), where a float compare
        # would call them degenerate and rank everything 0 — the exact
        # prefix-separation case this path exists for
        if hi <= lo:
            return F.lit(0).cast("bigint")
        span = float(hi - lo)
        # subtract the integer literal WITHOUT casting the column: an
        # integer column subtracts exactly in bigint before the double
        # cast; a double column promotes the literal and subtracts in
        # double — no silent truncation of fractional values when a
        # caller writes integer bounds over a double column
        shifted = (col - F.lit(lo).cast("bigint")).cast("double")
    else:
        if float(hi) - float(lo) <= 0:
            return F.lit(0).cast("bigint")
        span = float(hi) - float(lo)
        shifted = col.cast("double") - F.lit(float(lo))
    scaled = F.floor(shifted / F.lit(span) * max_rank).cast("bigint")
    # clamp: float rounding at the top edge can land exactly on 2^bits
    return F.coalesce(
        F.least(F.greatest(scaled, F.lit(0)), F.lit(max_rank)),
        F.lit(0),
    )


def string_surrogate(
    col: Column, chars: int = 9, bits_per_char: int = 7
) -> Column:
    """Order-preserving bigint surrogate of a string: the first ``chars``
    codepoints folded big-endian at ``bits_per_char`` bits each (clamped).

    Spark compares strings by UTF-8 bytes, which equals codepoint order,
    so comparing surrogates equals comparing the string PREFIXES — a
    monotone (ties-allowed) map, which is all a clustering rank needs:
    collisions only coarsen locality, never break the min/max pruning
    stats (those are on the real string column).  The default 9 chars x
    7 bits fits the signed 64-bit key and keeps exact order through
    codepoint 126 — i.e. exact for ASCII, which is what categorical keys
    overwhelmingly are (measured on 'Brand#NN': 7x9 saw only the first
    digit, 9x7 separates all 25 brands — END-TO-END: the 9x7 surrogates
    sit near 2^62 where double ULP is 1024, so the separation survives
    ranking only because ``scale_to_rank`` shifts by the bigint minimum
    BEFORE its double cast; pinned in test_layout); non-ASCII codepoints
    clamp to 127 (ties).  Empty/short strings pad with 0 ("ab" < "abc"
    holds); NULL stays NULL (scale_to_rank ranks it 0).

    This is the ZERO-JOB scale path for string Z-order keys: a pure
    rendered expression over any cardinality.  Its weakness is shared
    prefixes (URLs all starting "https://www." collapse) — but because
    the surrogate then feeds the same min/max scaling as any numeric
    column, a common prefix only shifts lo/hi together and the spread
    comes from wherever the prefixes first differ IF they differ within
    ``chars``.  For strings whose discriminating characters sit past the
    fold (URL paths after a long shared host) use
    ``string_method="dict"`` (exact equal-count ranks).
    """
    cap = (1 << bits_per_char) - 1
    out = F.lit(0).cast("bigint")
    for i in range(1, chars + 1):
        cp = F.least(
            F.ascii(F.substring(col, i, 1)), F.lit(cap)
        ).cast("bigint")
        out = F.shiftleft(out, bits_per_char).bitwiseOR(cp)
    return out


def string_dict_ranks(
    df: DataFrame,
    col_name: str,
    bits: int,
    max_dict_values: int = 1 << 20,
) -> DataFrame:
    """(value, rank) dictionary for EXACT string ranks: equal-count
    ``ntile(2^bits)`` over the sorted distinct values — the write-time
    pre-pass for prefix-skewed or low-cardinality string Z-order keys.

    Cost shape: one distinct (shuffle over UNIQUE values, not rows) plus
    a single-partition window over the dictionary — bounded by the
    column's cardinality, which is why ``max_dict_values`` gates it
    (default 1M; a URL-grade column should use the prefix surrogate or a
    coarser key).  The dictionary broadcasts back onto the frame in
    ``with_zorder_key``."""
    from pyspark.sql import Window

    d = (
        df.select(F.col(col_name).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .distinct()
    )
    n_distinct = d.count()
    if n_distinct > max_dict_values:
        raise ValueError(
            f"string_dict_ranks: {col_name!r} has {n_distinct} distinct "
            f"values (> {max_dict_values}) — use string_method='prefix' "
            "(order-preserving surrogate, any cardinality) or a coarser "
            "layout key"
        )
    n_ranks = min(1 << bits, max(n_distinct, 1))
    w = Window.orderBy("__v")
    tile = F.ntile(n_ranks).over(w) - 1
    # spread the dense tiles over the FULL [0, 2^bits) rank space: the
    # Morton interleave weights bit positions, so 400 ranks packed into
    # the bottom of a 16-bit dimension would only touch its low 9 bits
    # and the other dimension's high bits would dominate the key
    max_rank = (1 << bits) - 1
    spread = (
        tile.cast("bigint") * max_rank / F.lit(max(n_ranks - 1, 1))
        if n_ranks > 1
        else F.lit(0)
    )
    return d.select(
        "__v", F.floor(spread).cast("bigint").alias("__rank")
    )


def morton_interleave(
    ranks: list[Column], bits: int = ZORDER_BITS
) -> Column:
    """Bit-interleave ``len(ranks)`` rank columns into one Morton key:
    output bit (i * n + j) is input j's bit i — a rendered expression of
    shift/and/or terms (2 cols x 16 bits = 32 terms), zero Python.

    Locality property this buys: points close in EVERY dimension are
    close in the key, so a range-clustered layout gives each file a
    small min/max box in all dimensions at once."""
    n = len(ranks)
    if n == 0:
        raise ValueError("morton_interleave: need at least one rank column")
    if n * bits > 63:
        raise ValueError(
            f"morton_interleave: {n} cols x {bits} bits exceeds a signed "
            "64-bit key"
        )
    out = F.lit(0).cast("bigint")
    for j, r in enumerate(ranks):
        for i in range(bits):
            # ((r >> i) & 1) << (i * n + j)
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(r, i).bitwiseAND(F.lit(1)), i * n + j
                ).cast("bigint")
            )
    return out


def with_zorder_key(
    df: DataFrame,
    cols: list[str],
    bounds: dict[str, tuple[float, float]] | None = None,
    key_col: str = "__z",
    bits: int | None = None,
    string_method: str = "prefix",
    max_dict_values: int = 1 << 20,
) -> DataFrame:
    """Add the Morton key for ``cols``.  ``bounds`` maps column -> (min,
    max); None computes them with one agg job (write-time cost).
    ``bits=None`` uses ZORDER_BITS, auto-shrunk to ``63 // len(cols)``
    when the default would overflow the signed 64-bit key (4+ columns) —
    an explicit ``bits`` that overflows still raises in
    morton_interleave.

    Column types: numerics rank directly; DATE ranks as days since epoch
    (``unix_date``) and TIMESTAMP as microseconds (``unix_micros``) —
    caller-supplied ``bounds`` for those columns are in the same units.
    STRING columns rank by ``string_method``:

    - ``"prefix"`` (default): the order-preserving ``string_surrogate``
      fold of the first 9 ASCII codepoints — a pure expression, zero extra
      jobs, any cardinality; caller ``bounds`` are in surrogate units
      (rarely worth supplying — let the agg compute them).
    - ``"dict"``: EXACT equal-count ranks via ``string_dict_ranks``
      (distinct -> ntile -> broadcast join back) — the write-time
      pre-pass for prefix-skewed columns, gated by ``max_dict_values``.
    - ``"error"``: the pre-r10 refusal, for callers that want to be
      forced to pre-rank by hand.
    """
    from pyspark.sql.types import DateType, StringType, TimestampType

    if string_method not in ("prefix", "dict", "error"):
        raise ValueError(
            f"unknown string_method {string_method!r}: "
            "expected 'prefix', 'dict', or 'error'"
        )
    if bits is None:
        bits = min(ZORDER_BITS, 63 // max(len(cols), 1))
    by_name = {f.name: f.dataType for f in df.schema.fields}
    exprs: dict[str, Column] = {}
    preset: dict[str, tuple[float, float]] = dict(bounds or {})
    joined_cols: list[str] = []
    for c in cols:
        dt = by_name.get(c)
        if isinstance(dt, StringType):
            if string_method == "error":
                raise ValueError(
                    f"with_zorder_key: column {c!r} is a string — rank it "
                    "to an integer first (dictionary pre-pass) or use it "
                    "as the partitionBy key and Z-order the other columns"
                )
            if string_method == "dict":
                rank_col = f"__rank_{c}"
                d = string_dict_ranks(df, c, bits, max_dict_values)
                df = df.join(
                    F.broadcast(
                        d.withColumnRenamed("__rank", rank_col)
                    ),
                    df[c] == d["__v"],
                    "left",
                ).drop("__v")
                joined_cols.append(rank_col)
                exprs[c] = F.col(rank_col)
                preset.setdefault(c, (0.0, float((1 << bits) - 1)))
            else:
                exprs[c] = string_surrogate(F.col(c))
        elif isinstance(dt, DateType):
            exprs[c] = F.unix_date(F.col(c))
        elif isinstance(dt, TimestampType):
            exprs[c] = F.unix_micros(F.col(c))
        else:
            exprs[c] = F.col(c)
    missing = [c for c in cols if c not in preset]
    if missing:
        agg = df.agg(
            *[F.min(exprs[c]).alias(f"lo_{c}") for c in missing],
            *[F.max(exprs[c]).alias(f"hi_{c}") for c in missing],
        ).first()
        for c in missing:
            # keep integer bounds as Python ints: scale_to_rank then does
            # the col - lo shift in exact bigint arithmetic (critical for
            # string surrogates near 2^62, where double ULP is 1024)
            lo_v, hi_v = agg[f"lo_{c}"], agg[f"hi_{c}"]
            # bool is an int subclass in Python, but a BooleanType column
            # cannot subtract a bigint literal (analysis error in the
            # exact-bigint path) — booleans take the double path, where
            # the column is cast before arithmetic (ADVICE r11 low)
            if (
                isinstance(lo_v, int)
                and isinstance(hi_v, int)
                and not isinstance(lo_v, bool)
                and not isinstance(hi_v, bool)
            ):
                preset[c] = (lo_v, hi_v)
            else:
                preset[c] = (float(lo_v), float(hi_v))
    ranks = [
        scale_to_rank(exprs[c], preset[c][0], preset[c][1], bits)
        for c in cols
    ]
    return df.withColumn(key_col, morton_interleave(ranks, bits)).drop(
        *joined_cols
    )


def zorder_cluster(
    df: DataFrame,
    cols: list[str],
    n_files: int,
    bounds: dict[str, tuple[float, float]] | None = None,
    bits: int | None = None,
    string_method: str = "prefix",
) -> DataFrame:
    """Range-cluster ``df`` by the Morton key of ``cols`` into
    ``n_files`` partitions, locally sorted — write the result with plain
    ``.write.parquet`` and every footer-reading engine prunes on ALL of
    ``cols``.  The key column is dropped from the output: it exists to
    place rows, not to be stored (min/max of the real columns do the
    pruning)."""
    keyed = with_zorder_key(
        df, cols, bounds=bounds, bits=bits, string_method=string_method
    )
    return (
        keyed.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
