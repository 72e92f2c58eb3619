"""Event-stream analytics in batch form.

The reference has NO streaming constructs (SURVEY.md §1.1); the driver's
`events` fixture is extension scope.  Each query here is the batch-mode twin
of a Structured Streaming operator in streaming/ — same expressions, swap
``read`` for ``readStream`` and the tumbling window becomes a watermarked
window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table
from bigdatastructure_a5_spark.functions.numeric import dec_sum_double
from bigdatastructure_a5_spark.registry import query


@query(
    "events_sessionize",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    y AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM y
    GROUP BY user_id, sid
    """,
    tags=("ext:events", "ext:streaming"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 10-minute inactivity gap via Spark's native
    session_window (usable unchanged in Structured Streaming — the custom
    stateful operator the reference lacks).  Oracle reconstructs sessions
    with LAG + running SUM; boundary semantics aligned (a gap of exactly
    10 min starts a new session in both)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dec_sum_double("value").alias("session_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "session_value"
        )
    )


@query(
    "events_sliding_window",
    oracle="""
    WITH g AS (
      SELECT event_type, value,
             CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 1800) * 1800) AS TIMESTAMP) AS grid_ts
      FROM events
    ),
    w AS (
      SELECT event_type, value, grid_ts - (k * INTERVAL 30 MINUTE) AS window_start
      FROM g, (SELECT UNNEST([0, 1]) AS k)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM w
    GROUP BY window_start, event_type
    """,
    tags=("ext:events", "ext:streaming"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour long, 30-minute slide): every event lands in
    two overlapping windows.  The oracle reproduces Spark's window
    assignment with grid arithmetic (floor to the slide grid, subtract k
    slides).  Streaming twin: the same F.window with a watermark."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum_double("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "join_asof_attribution",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    views AS (
      SELECT user_id, ts, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts,
           v.view_event_id, v.ts AS view_ts
    FROM clicks c ASOF JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    tags=("ext:events", "ext:asof"),
)
def join_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from the reference AND from Spark's built-ins —
    SURVEY.md §2.3): attribute each click to the user's latest
    prior-or-simultaneous view.  Implemented as union + carry-forward
    window (operators.joins.asof_join), one shuffle on user_id, no
    inequality-join explosion; the DuckDB oracle is a literal ASOF JOIN.
    The view side is deduplicated per (user_id, ts) so the pick at equal
    timestamps is engine-independent."""
    from bigdatastructure_a5_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    return asof_join(
        clicks,
        views,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["view_event_id", "ts"],
        how="inner",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("r_view_event_id").alias("view_event_id"),
        F.col("r_ts").alias("view_ts"),
    )


@query(
    "join_range_error_context",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id, e.ts, COUNT(*) AS n_recent_clicks
    FROM e JOIN c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 14400 SECOND
     AND c.ts <= e.ts
    GROUP BY e.event_id, e.user_id, e.ts
    """,
    tags=("ext:events", "ext:range-join"),
)
def join_range_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (absent from the reference; a raw theta-join in
    Spark degenerates to nested-loop): for each error event, how many
    clicks the same user made in the preceding four hours.  The operator
    buckets both sides on time (bucket = window span) and equi-joins on
    (user, bucket) before the exact microsecond-precision range filter —
    shuffle ~2x input instead of a pair explosion."""
    from bigdatastructure_a5_spark.operators.joins import range_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    paired = range_join(
        errors,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        low_seconds=-14400,
        high_seconds=0,
    )
    return paired.groupBy("event_id", "user_id", "ts").agg(
        F.count(F.lit(1)).alias("n_recent_clicks")
    )


@query(
    "events_streaming_rollup",
    # the SAME oracle a batch rollup would use: Structured Streaming with
    # AvailableNow over a finite source must produce exactly the batch
    # answer (deterministic aggregates only — count + exact decimal sum).
    # `ts IS NOT NULL` mirrors watermark semantics exactly: a watermarked
    # streaming aggregation DROPS null event-time rows (they cannot be
    # assigned a window), where plain SQL would group them under NULL —
    # the fixture has no null ts, but the oracle must state the real
    # contract, not rely on the data never exercising the difference.
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS hour_ts,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
    tags=("ext:streaming",),
)
def events_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL Structured Streaming execution in the correctness gate: read
    the events fixture as a file-source stream, run a watermarked tumbling
    1-hour rollup, drive it to completion with Trigger.AvailableNow into a
    memory sink, and hash-match the result against the batch SQL oracle.
    Proves stream==batch for the deterministic aggregates (count, exact
    decimal sum); the approx_count_distinct variant lives in
    streaming/events.hourly_rollup_stream and is pytest-compared instead."""
    from bigdatastructure_a5_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    rolled = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum_double("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    # 2 state partitions: enough to prove distributed state while keeping
    # per-partition store/checkpoint setup off the fixture's critical path
    # (8 -> 2 measured 1.2s -> 0.7s); production sizes this to cardinality
    return run_stream_to_memory(
        spark, rolled, name="events_streaming_rollup_sink", state_partitions=2
    )


@query(
    "events_streaming_interval_join",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    c AS (
      SELECT user_id, ts AS r_ts, event_id AS r_click_id
      FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id, e.ts, c.r_ts, c.r_click_id
    FROM e JOIN c
      ON e.user_id = c.user_id
     AND c.r_ts >= e.ts - INTERVAL 14400 SECOND
     AND c.r_ts <= e.ts
    """,
    tags=("ext:streaming", "ext:range-join"),
)
def events_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND real Structured Streaming execution in the gate: a
    stream-stream interval join (both sides watermarked, symmetric
    stateful join, state bounded by watermark + interval) driven with
    AvailableNow and hash-matched against the plain inequality-join SQL.
    Emits the raw (error, click) pairs; join_range_error_context is the
    aggregated batch twin."""
    return run_error_click_stream_join(spark, sf_dir)


def run_error_click_stream_join(
    spark: SparkSession,
    sf_dir: str,
    name: str = "events_streaming_interval_join_sink",
    state_partitions: int = 2,
) -> DataFrame:
    """The error-x-click stream-stream interval-join flow over an events
    directory — shared by the gate query above and the 10x scale-up
    experiment (tools/run_experiments.py), so what is measured one scale
    up is exactly what is oracle-checked at gate scale (the
    curate_documents pattern)."""
    from bigdatastructure_a5_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )
    from bigdatastructure_a5_spark.streaming.joins import stream_interval_join

    ev = read_events_stream(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = stream_interval_join(
        errors, clicks, on="user_id", low_seconds=-14400, high_seconds=0
    )
    # single_batch: an INNER stream-stream join emits every pair in the
    # data batch itself; AvailableNow's trailing watermark-finalize batch
    # can emit nothing here and costs ~0.8s of state/commit machinery
    return run_stream_to_memory(
        spark,
        joined.select("event_id", "user_id", "ts", "r_ts", "r_click_id"),
        name=name,
        output_mode="append",
        state_partitions=state_partitions,
        single_batch=True,
    )
