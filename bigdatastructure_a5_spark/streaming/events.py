"""Structured Streaming over the events table: watermarked tumbling windows.

Batch/stream parity design: the aggregation expressions are shared with the
batch twin (queries/events_queries.py), only the source (``readStream``) and
sink differ.  On a real cluster this runs continuously against a file/Kafka
source with the same code; tests drive it with ``Trigger.AvailableNow`` over
the finite fixture and compare to the batch result.

Late data: the watermark bounds state — at 100 TB/day of events the state
store only keeps windows younger than the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _events_raw_schema(ts_is_nanos: bool) -> StructType:
    """events.parquet physical schema.  ``ts`` is declared to match the file's
    actual parquet type: INT64 TIMESTAMP(NANOS) must be read as long (Spark has
    no nanos type), TIMESTAMP(MICROS) reads natively as TimestampType.  The
    batch path does the same detection (catalog.read_parquet)."""
    ts_type = LongType() if ts_is_nanos else TimestampType()
    return StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts", ts_type, True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events fixture (one file = one microbatch
    under AvailableNow).

    The fixture's ``ts`` physical type has changed across driver versions
    (TIMESTAMP(NANOS) vs TIMESTAMP(MICROS)); hardcoding either corrupts the
    other (micros DIV 1000 lands every event in January 1970).  So the footer
    is inspected upfront by the batch reader's own probe
    (catalog._probe_footer, which counts INT96 as a timestamp, not nanos)
    and the schema + conversion branch on the real type."""
    from ..catalog import _probe_footer, table_path

    _, nanos_cols = _probe_footer(table_path(sf_dir, "events"))
    ts_is_nanos = "ts" in nanos_cols
    # the file source wants a DIRECTORY; select just the events file by glob
    reader = (
        spark.readStream.schema(_events_raw_schema(ts_is_nanos))
        .option("pathGlobFilter", "events.parquet")
        .format("parquet")
    )
    if ts_is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = reader.load(sf_dir)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return reader.load(sf_dir)


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour rollup per event type: the batch
    ``GROUP BY DATE_TRUNC('hour', ts), event_type`` as a stream.  Two
    documented deviations from that batch form: countDistinct is not
    incremental, so the streaming variant uses approx_count_distinct; and
    NULL event times are DROPPED (a watermarked aggregation cannot window
    them), where the batch form groups them under a NULL hour_ts — the
    equality holds for non-null-ts data, which the fixtures (and any sane
    event stream) guarantee."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_ts"),
            "event_type",
            "n_events",
            "n_users_approx",
            "sum_value",
        )
    )


def run_stream_to_memory(
    spark: SparkSession,
    streaming_df: DataFrame,
    name: str = "stream_result",
    output_mode: str = "complete",
    state_partitions: int = 8,
    single_batch: bool = False,
) -> DataFrame:
    """Drive a streaming DataFrame to completion with AvailableNow into a
    memory sink; returns the result table.  Complete output mode (default)
    so windowed aggregates are all emitted even without watermark expiry;
    use ``append`` for stream-stream joins.

    A streaming query pins its state-store layout to
    ``spark.sql.shuffle.partitions`` AT START, and every state partition
    pays provider/checkpoint setup per run — on a fixture-sized input, 200
    vanilla partitions are pure overhead (measured ~2x the whole query).
    The conf is scoped to the start() call and restored; a production job
    sizes it to its real key cardinality instead.

    ``single_batch`` uses Trigger.Once instead of AvailableNow: with a
    stateful operator, AvailableNow always appends a data-less
    watermark-finalize micro-batch after the data batch — needed when
    results EMIT on watermark expiry (append-mode aggregates), pure
    per-run overhead (~0.8s measured) for operators whose output is
    complete after the data batch, like an inner stream-stream join.
    Trigger.Once is soft-deprecated in favor of AvailableNow precisely
    because it skips that finalize step; here that is the point — only
    set it when the final watermark batch provably cannot emit rows."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        writer = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
        )
        if single_batch:
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore", FutureWarning)
                q = writer.trigger(once=True).start()
        else:
            q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup by event_id within the watermark horizon — the
    streaming twin of the batch dedup_exact operator.  State holds one key
    per event_id younger than the watermark horizon.

    ``dropDuplicatesWithinWatermark`` ON PURPOSE: plain
    ``dropDuplicates(["event_id"])`` ignores the watermark for eviction
    when the event-time column is not part of the subset — state then
    grows by one entry per distinct event_id FOREVER, which at 100 TB/day
    is an OOM, not a dedup.  The WithinWatermark variant is exactly the
    eviction contract this operator claims (and why Spark added it)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
