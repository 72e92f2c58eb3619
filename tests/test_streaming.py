"""Structured Streaming tests: the stream over the finite fixture must agree
with its batch twin (same expressions, different source/sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table
from bigdatastructure_a5_spark.streaming.events import (
    hourly_rollup_stream,
    read_events_stream,
    run_stream_to_memory,
)


def _assert_sane_years(rows, attr):
    """Unit-safety gate: a wrong epoch-unit conversion (nanos vs micros)
    lands timestamps in 1970 or ~52000 AD.  Pin the fixture's real era so a
    fixture-format change can never silently pass again (VERDICT r2 §wrong#1)."""
    years = {getattr(r, attr).year for r in rows if getattr(r, attr) is not None}
    assert years, "no timestamps to sanity-check"
    assert all(2000 <= y <= 2100 for y in years), f"epoch-unit bug: years={sorted(years)[:5]}"


def test_streaming_hourly_rollup_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    result = run_stream_to_memory(
        spark, hourly_rollup_stream(stream), name="hourly_test"
    )
    _assert_sane_years(result.collect(), "hour_ts")

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    s = {
        (r.hour_ts, r.event_type): (r.n_events, r.sum_value)
        for r in result.collect()
    }
    b = {
        (r.hour_ts, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert s == b


def test_streaming_watermark_metadata(spark, sf_dir):
    stream = hourly_rollup_stream(read_events_stream(spark, sf_dir), "30 minutes")
    assert stream.isStreaming
    # the watermark must appear in the analyzed plan (state-bound streaming)
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_stateful_user_profiles_match_batch(spark, sf_dir):
    from bigdatastructure_a5_spark.streaming.stateful import (
        run_user_profile_to_memory,
        user_profile_stream,
    )

    stream = read_events_stream(spark, sf_dir)
    profiles = run_user_profile_to_memory(
        spark, user_profile_stream(stream), name="profiles_test"
    )
    # update mode may emit several rows per user; keep the last (max count)
    final = {
        r.user_id: (r.n_events, r.sum_value)
        for r in profiles.orderBy("n_events").collect()
    }
    batch = {
        r.user_id: (r.n, round(r.s, 2))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, s) in batch.items():
        assert final[uid][0] == n
        assert abs(final[uid][1] - s) < 0.005  # integer-cents accumulation


def test_stateful_update_skips_null_values_like_batch_sum():
    """A NULL `value` arrives as NaN in the Arrow->pandas batch; the batch
    twin's SUM(CAST(value AS DECIMAL)) skips NULLs while COUNT(*) counts
    the row.  The stateful updater must do the same — quantizing
    Decimal('NaN') raises InvalidOperation and would abort the whole
    streaming query on one bad row."""
    from datetime import datetime

    import pandas as pd

    from bigdatastructure_a5_spark.streaming.stateful import (
        _update_user_profile,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.stored = v

    pdf = pd.DataFrame(
        {
            "value": [1.005, float("nan"), 2.0],
            "ts": pd.to_datetime(
                [datetime(2024, 1, 1, 1), pd.NaT, datetime(2024, 1, 1, 2)]
            ),
        }
    )
    state = FakeState()
    (out,) = list(_update_user_profile((7,), [pdf], state))
    assert out.n_events.iloc[0] == 3          # NULL row still counted
    assert out.sum_value.iloc[0] == 3.01      # 1.01 (HALF_UP) + 2.00, NaN skipped
    assert out.last_ts.iloc[0] == datetime(2024, 1, 1, 2)
    assert state.stored[0] == 3 and state.stored[1] == 301


def test_streaming_dedup_drops_replayed_events(spark, sf_dir):
    from bigdatastructure_a5_spark.streaming.events import dedup_stream

    stream = read_events_stream(spark, sf_dir)
    # replay the stream against itself: every event arrives twice
    doubled = stream.union(stream)
    deduped = dedup_stream(doubled)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_test").count()
    expected = load_table(spark, sf_dir, "events").count()
    assert got == expected


def test_stream_stream_interval_join_equals_batch_range_join(spark, sf_dir):
    """Stream-stream interval join (both sides watermarked, symmetric state)
    over the finite fixture must produce exactly the batch range_join
    pairs — AvailableNow delivers no late data, so eviction never drops a
    row that batch would keep."""
    from bigdatastructure_a5_spark.catalog import load_table
    from bigdatastructure_a5_spark.operators.joins import range_join
    from bigdatastructure_a5_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )
    from bigdatastructure_a5_spark.streaming.joins import stream_interval_join

    ev_s = read_events_stream(spark, sf_dir)
    errors_s = ev_s.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks_s = ev_s.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ts"), F.col("event_id").alias("click_id")
    )
    joined = stream_interval_join(
        errors_s, clicks_s, on="user_id", low_seconds=-14400, high_seconds=0
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("interval_join_result")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.event_id, r.r_click_id)
        for r in spark.table("interval_join_result").collect()
    }

    ev_b = load_table(spark, sf_dir, "events")
    errors_b = ev_b.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks_b = ev_b.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    expected = {
        (r.event_id, r.r_click_id)
        for r in range_join(
            errors_b, clicks_b, on="user_id", left_time="ts", right_time="ts",
            low_seconds=-14400, high_seconds=0,
        ).collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_stream_interval_join_names_right_time_like_batch_twin(spark, sf_dir):
    """Output naming parity with range_join: the right time column arrives
    as r_<right_time> — a hardcoded r_ts both broke parity for custom
    names and collided with a right column literally named ts."""
    from bigdatastructure_a5_spark.streaming.joins import stream_interval_join

    ev = read_events_stream(spark, sf_dir)
    left = ev.select("event_id", "user_id", "ts")
    right = ev.select(
        "user_id", F.col("ts").alias("event_ts"), F.col("value").alias("v")
    )
    joined = stream_interval_join(
        left, right, on="user_id", low_seconds=-60, high_seconds=0,
        right_time="event_ts",
    )
    assert "r_event_ts" in joined.columns and "r_v" in joined.columns
    assert joined.columns.count("r_ts") == 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics enforced BEHAVIORALLY, not just present in the
    plan: with a 2-hour watermark and append output, an event arriving a
    full day late must not reopen its (already finalized) window — this is
    the state bound that keeps a 100TB/day stream's store finite."""
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatastructure_a5_spark.streaming.events import (
        _events_raw_schema,
        hourly_rollup_stream,
    )

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    src = tmp_path / "stream_src"
    src.mkdir()

    def write_batch(name, rows):
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [base + timedelta(hours=r[1]) for r in rows],
                    pa.timestamp("us", tz="UTC"),
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([r[2] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(table, src / name)

    import time as _time

    # batch 1: one event per hour 0..11 -> watermark advances to 09:00;
    # batch 2: hour 12 -> hour-0 window is emitted and its state evicted;
    # batch 3: a day-late replay into hour 0 — below the watermark with no
    # state left, it MUST be dropped (not aggregated, not re-emitted).
    # One file per microbatch (maxFilesPerTrigger=1, mtime-ordered).
    # NOTE: a late row that shares a batch with live pre-eviction state
    # still merges (watermark is a lower-bound guarantee, drops are
    # best-effort) — the separate batch is what makes the drop REQUIRED.
    write_batch("0001.parquet", [(i, i, 1.0) for i in range(12)])
    _time.sleep(1.1)
    write_batch("0002.parquet", [(50, 12, 1.0)])
    _time.sleep(1.1)
    write_batch("0003.parquet", [(100, 0, 100.0)])

    stream = (
        spark.readStream.schema(_events_raw_schema(ts_is_nanos=False))
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    rolled = hourly_rollup_stream(stream, watermark="2 hours")
    q = (
        rolled.writeStream.format("memory")
        .queryName("late_data_test")
        .outputMode("append")  # emit windows only once finalized
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1, dropped  # exactly the day-late replay
    got = {
        r.hour_ts: r.sum_value for r in spark.table("late_data_test").collect()
    }
    hour0 = base.replace(tzinfo=None)
    assert hour0 in got, sorted(got)
    # the late 100.0 replay was dropped: hour 0 keeps only its on-time 1.0
    assert got[hour0] == 1.0, got


def test_rocksdb_state_store_multi_batch_eviction(spark, tmp_path):
    """The 100-TB state path (VERDICT r4 item 6): the same watermark-
    eviction scenario as above, but on the RocksDB state store — the
    provider that spills state to local disk with bounded memory, which is
    what a web-scale stateful stream needs (heap-resident state is the OOM
    ceiling).  Runs >= 3 micro-batches (one file per trigger), asserts the
    day-late replay is still dropped AFTER eviction, the rollup values are
    identical to the default-provider semantics, and — decisive — the query
    progress reports RocksDB's own custom metrics, proving the provider was
    actually loaded rather than silently falling back."""
    from datetime import datetime, timedelta, timezone
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatastructure_a5_spark.streaming.events import (
        _events_raw_schema,
        hourly_rollup_stream,
    )

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    src = tmp_path / "rocks_src"
    src.mkdir()

    def write_batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [base + timedelta(hours=r[1]) for r in rows],
                        pa.timestamp("us", tz="UTC"),
                    ),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array(["click"] * len(rows)),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            src / name,
        )

    write_batch("0001.parquet", [(i, i, 1.0) for i in range(12)])
    _time.sleep(1.1)
    write_batch("0002.parquet", [(50, 12, 1.0)])
    _time.sleep(1.1)
    write_batch("0003.parquet", [(100, 0, 100.0)])

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(_events_raw_schema(ts_is_nanos=False))
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        rolled = hourly_rollup_stream(stream, watermark="2 hours")
        q = (
            rolled.writeStream.format("memory")
            .queryName("rocksdb_state_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p["stateOperators"]]
    finally:
        if prior is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prior)

    assert len(progress) >= 3  # one per input file: genuinely multi-batch
    # RocksDB was really in the loop: its provider-specific metrics appear
    rocks_metrics = {
        k
        for p in progress
        for k in p["stateOperators"][0].get("customMetrics", {})
        if k.startswith("rocksdb")
    }
    assert rocks_metrics, progress[0]["stateOperators"][0]
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in progress
    )
    assert dropped == 1, dropped  # the day-late replay, post-eviction
    got = {
        r.hour_ts: r.sum_value
        for r in spark.table("rocksdb_state_test").collect()
    }
    hour0 = base.replace(tzinfo=None)
    assert got[hour0] == 1.0, got  # same answer as the default provider


def test_checkpoint_restart_recovers_state_exactly_once(spark, tmp_path):
    """The recovery contract a 1000-executor deployment depends on: a
    stream STOPPED and RESTARTED from its checkpoint must continue where it
    left off.  Three properties asserted on a real file sink (whose
    _spark_metadata commit log is the exactly-once mechanism):

    - no re-emission: windows finalized before the stop appear in the sink
      exactly once after the restart (a restart that replayed from scratch
      would duplicate every one of them);
    - state survives: a window OPEN at the stop (its hour seen, watermark
      not yet past it) finalizes correctly after the restart from recovered
      state, including pre-stop rows;
    - the watermark is restored: a below-watermark replay arriving in the
      restarted run is dropped, not aggregated into a fresh window."""
    from datetime import datetime, timedelta, timezone
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatastructure_a5_spark.streaming.events import (
        _events_raw_schema,
        hourly_rollup_stream,
    )

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    src = tmp_path / "ckpt_src"
    src.mkdir()
    sink = str(tmp_path / "ckpt_sink")
    ckpt = str(tmp_path / "ckpt_state")

    def write_batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [base + timedelta(hours=r[1]) for r in rows],
                        pa.timestamp("us", tz="UTC"),
                    ),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array(["click"] * len(rows)),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            src / name,
        )

    def run_once():
        stream = (
            spark.readStream.schema(_events_raw_schema(ts_is_nanos=False))
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            hourly_rollup_stream(stream, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [p for p in q.recentProgress if p["stateOperators"]]

    # run 1: hours 0..11, then hour 12 -> watermark 10:00, windows 0..9
    # finalized into the sink; windows 10..12 remain OPEN state at stop
    write_batch("0001.parquet", [(i, i, 2.0) for i in range(12)])
    _time.sleep(1.1)
    write_batch("0002.parquet", [(50, 12, 2.0)])
    run_once()
    first = {
        r.hour_ts: r.sum_value for r in spark.read.parquet(sink).collect()
    }
    hour = lambda h: (base + timedelta(hours=h)).replace(tzinfo=None)
    assert hour(9) in first and hour(10) not in first  # 10..12 still open

    # run 2 (same checkpoint): hour 15 advances the watermark to 13:00 ->
    # the RECOVERED windows 10..12 finalize; a replay into hour 0 (far
    # below the restored watermark, state long evicted) must be dropped
    _time.sleep(1.1)
    write_batch("0003.parquet", [(60, 15, 2.0), (100, 0, 999.0)])
    progress2 = run_once()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in progress2
    )
    assert dropped == 1, dropped  # watermark restored across restart

    rows = spark.read.parquet(sink).collect()
    per_window: dict = {}
    for r in rows:
        per_window.setdefault(r.hour_ts, []).append(r.sum_value)
    # exactly-once: every finalized window appears ONCE across both runs
    dupes = {k: v for k, v in per_window.items() if len(v) > 1}
    assert not dupes, dupes
    # state recovery: hour 12's window (open at the stop) finalized with
    # its pre-stop row; hour 0 kept its on-time sum (replay dropped)
    assert per_window[hour(12)] == [2.0]
    assert per_window[hour(0)] == [2.0]


#: VERDICT r5 item 3: the two STREAMING GATE QUERIES must stay oracle-green
#: under the state-store provider a 100 TB deployment actually runs
#: (RocksDB), not only the in-memory default the driver gate exercises.
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
@pytest.mark.parametrize(
    "gate_query", ["events_streaming_rollup", "events_streaming_interval_join"]
)
def test_streaming_gate_queries_hash_match_under_both_providers(
    spark, sf_dir, provider, gate_query
):
    """Run each registered streaming gate query end-to-end (real Structured
    Streaming execution, AvailableNow, memory sink) and hash-match it
    against its registered DuckDB oracle — under BOTH state-store
    providers.  Same compare as tools/check_correctness.py (sorted column
    names + order-insensitive multiset of stringified cells)."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from check_correctness import _canon_rows

    from bigdatastructure_a5_spark.catalog import table_path
    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    qd = REGISTRY[gate_query]

    prior = spark.conf.get(_PROVIDER_KEY, None)
    if provider == "rocksdb":
        spark.conf.set(_PROVIDER_KEY, _ROCKSDB)
    try:
        sdf = qd.builder(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    finally:
        if provider == "rocksdb":
            if prior is None:
                spark.conf.unset(_PROVIDER_KEY)
            else:
                spark.conf.set(_PROVIDER_KEY, prior)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{table_path(sf_dir, 'events')}')"
    )
    rel = con.sql(qd.oracle)
    d_cols, d_rows = list(rel.columns), rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows) and len(s_rows) > 0
    assert _canon_rows(s_cols, s_rows) == _canon_rows(d_cols, d_rows)
