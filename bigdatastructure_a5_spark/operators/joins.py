"""Join operators (reference O8-O15, SURVEY.md §2.3).

Reference semantics reproduced as real Spark joins:

- O8 inner equi-join (`challenge/planner.py:52-112`): ``df.join(..., "inner")``.
- O9 join cost model (`challenge/simulator.py:202-247`): physical strategy is
  Catalyst's job (SortMergeJoin vs BroadcastHashJoin); the reference's
  1/max(NDV) selectivity formula IS Catalyst CBO JoinEstimation.
- O10 co-partitioned shuffle-free join (`challenge/planner.py:252-268`):
  bucketed tables -> SortMergeJoin with no Exchange; tests write them and
  assert the plan shape.
- O11 filter-then-join (`challenge/planner.py:224-250`): Catalyst pushes
  predicates below joins automatically, so a filter before ``dim_join``
  is the whole operator (``join_filtered_brand``).
- O12 join-after-aggregate (`chapter5/planner.py:58-77`): the aggregated side
  is small -> explicitly broadcast the dimension side.
- O13 multi-way filtered join (`query_simulator/queries.py:89-123`): chained
  joins, dimension sides broadcast.
- O14/O15 join elimination via embedding (`challenge/planner.py:168-222`):
  lives in operators.denormalize (variant routing), not here.

Scale guidance baked in: ``dim_join`` broadcasts the small side explicitly so
a 100 TB fact table never shuffles to meet a 100 MB dimension; multi-way joins
order fact-first so AQE can re-plan the rest.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """O8: inner equi-join on same-named key(s) (USING form, one key column)."""
    keys = [on] if isinstance(on, str) else list(on)
    return left.join(right, on=keys, how=how)


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Fact-to-dimension join with an explicit broadcast hint (O9/O13 scale
    path): at 100 TB the fact side must never shuffle for a small dimension."""
    keys = [on] if isinstance(on, str) else list(on)
    return fact.join(F.broadcast(dim), on=keys, how=how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_payload: Sequence[str],
    direction: str = "backward",
    how: str = "inner",
) -> DataFrame:
    """As-of join (beyond reference scope — SURVEY.md §2.3 lists it absent):
    for each left row, attach the single right row with the greatest
    ``right_time <= left_time`` within the same ``on`` key (``backward``;
    ``forward`` takes the smallest ``right_time >= left_time``).

    Spark-first shape: NOT an inequality join (which Spark would execute as
    a broadcast-nested-loop and explode at scale) but a union + one window
    pass — tag both inputs, sort each key's rows by time within one shuffle
    partition, and carry the latest right payload forward with
    ``last(ignorenulls=True)``.  Cost is exactly one hash shuffle on the key
    plus a per-partition sort: the same work a SortMergeJoin would do,
    with no candidate-pair blowup, and skewed keys respond to the usual
    salting/AQE treatment.

    Ties: a right row sorts BEFORE a left row at equal time, so an exact
    timestamp match is attached (DuckDB ``ASOF JOIN``'s >= semantics).
    Right rows with duplicate (key, time) make the pick engine-dependent —
    deduplicate the right side first for deterministic output.

    ``how='inner'`` drops left rows with no match; ``'left'`` keeps them
    with null payload.

    NULL semantics match SQL/DuckDB ASOF: a NULL never matches.  Right
    rows with a NULL key or NULL time are dropped up front (asc sorts
    nulls FIRST, so an unfiltered NULL-time right row would be carried by
    ``last(ignorenulls)`` into every left row that precedes all real
    right rows); a left row with a NULL time takes no match (in
    ``forward``'s desc order NULLs sort LAST, where the carry would
    otherwise hand it the partition's final match); NULL-key left rows
    can only share a partition with the already-filtered NULL-key right
    rows, so they match nothing.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    t = "__t"
    side = "__is_left"
    right = right.filter(F.col(on).isNotNull() & F.col(right_time).isNotNull())
    # The right payload travels as ONE struct: it is non-null exactly when
    # the row came from the right side, so a single last(ignorenulls) always
    # carries all columns from the SAME right row.  Per-column carries would
    # mix rows whenever a matched row holds a null in one payload column.
    righted = right.select(
        F.col(on).alias(on),
        F.col(right_time).cast("timestamp").alias(t),
        F.lit(0).alias(side),
        F.lit(None).cast(
            left.select(F.struct(*left.columns).alias("__l")).schema["__l"].dataType
        ).alias("__l"),
        F.struct(*[F.col(c) for c in right_payload]).alias("__r"),
    )
    lefted = left.select(
        F.col(on).alias(on),
        F.col(left_time).cast("timestamp").alias(t),
        F.lit(1).alias(side),
        F.struct(*left.columns).alias("__l"),
        F.lit(None).cast(righted.schema["__r"].dataType).alias("__r"),
    )
    order = [F.col(t).asc(), F.col(side).asc()] if direction == "backward" else [
        F.col(t).desc(), F.col(side).asc()
    ]
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        lefted.unionByName(righted)
        .select(
            "*",
            # mask the carry for NULL-time left rows: `t <= NULL` is
            # unknown in SQL, so they must match nothing (reachable in
            # forward mode, where desc puts NULLs after every real row)
            F.when(
                F.col(t).isNotNull(),
                F.last("__r", ignorenulls=True).over(w),
            ).alias("__m"),
        )
        .filter(F.col(side) == 1)
    )
    if how == "inner":
        carried = carried.filter(F.col("__m").isNotNull())
    return carried.select(
        "__l.*",
        *[F.col(f"__m.{c}").alias(f"r_{c}") for c in right_payload],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    low_seconds: int,
    high_seconds: int,
) -> DataFrame:
    """Banded range join (beyond reference scope): pair each left row with
    every right row of the same key whose time lies in
    ``[left_time + low_seconds, left_time + high_seconds]``.

    Spark-first shape: a raw ``t BETWEEN ...`` theta-join degenerates to a
    nested-loop; instead both sides are bucketed on time (bucket width =
    interval span), the left side duplicates into each bucket its window
    overlaps (at most 2 rows when the bucket equals the span), and the
    equi-join on (key, bucket) is followed by the exact range filter.
    Shuffle volume is ~2x the inputs instead of |keys| x |pairs| probes —
    the standard interval-join strategy (cf. Flink's interval join).

    Returns left columns + the matching right row's time and payload
    prefixed ``r_``; compose aggregations on top.
    """
    span = (high_seconds - low_seconds) * 1_000_000
    if span <= 0:
        raise ValueError("high_seconds must exceed low_seconds")
    low_us = low_seconds * 1_000_000
    high_us = high_seconds * 1_000_000
    # microsecond epoch arithmetic: cast("long") would truncate to whole
    # seconds and disagree with interval comparisons at the window edges.
    le = left.select(
        "*", F.unix_micros(F.col(left_time).cast("timestamp")).alias("__lt")
    )
    ri = right.select(
        F.col(on).alias("__rk"),
        F.unix_micros(F.col(right_time).cast("timestamp")).alias("__rt"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (on, right_time)],
    ).withColumn("__rbucket", F.floor(F.col("__rt") / span))
    exploded = le.withColumn(
        "__lbucket",
        F.explode(
            F.sequence(
                F.floor((F.col("__lt") + low_us) / span),
                F.floor((F.col("__lt") + high_us) / span),
            )
        ),
    )
    joined = exploded.join(
        ri,
        (exploded[on] == ri["__rk"]) & (exploded["__lbucket"] == ri["__rbucket"]),
    ).filter(
        (F.col("__rt") >= F.col("__lt") + low_us)
        & (F.col("__rt") <= F.col("__lt") + high_us)
    )
    # the matching right row's TIME is part of the documented contract
    # (and of the streaming twin's output — stream_interval_join returns
    # r_ts), so surface it alongside the r_-prefixed payload
    joined = joined.withColumn(
        f"r_{right_time}", F.timestamp_micros(F.col("__rt"))
    )
    return joined.drop("__lt", "__rt", "__rk", "__lbucket", "__rbucket")
