"""Metrics layer (O24), CBO estimates (O18), diagnostics (O26), and the
chapter5 movie-workload experiment's behavioral parity with BASELINE.md."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import load_table
from bigdatastructure_a5_spark.examples.chapter5_demo import (
    DB1,
    DB2,
    WORKLOAD,
    movie_base_tables,
)
from bigdatastructure_a5_spark.plans.diagnostics import partition_stats, skew_summary
from bigdatastructure_a5_spark.plans.metrics import (
    NETWORK_MULTIPLIER,
    estimated_stats,
    run_with_metrics,
)
from bigdatastructure_a5_spark.plans.workload import run_workload


def test_run_with_metrics_measures_scan_and_rows(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    qm = run_with_metrics(spark, agg, "probe")
    assert qm.scanned_bytes > 0
    assert qm.shuffle_bytes > 0  # partial->final exchange
    assert qm.output_rows == 3  # A/N/R
    c = qm.costs()
    assert c["time"] == pytest.approx(
        (qm.scanned_gb + NETWORK_MULTIPLIER * qm.shuffle_gb) * 1.0
    )
    assert c["carbon"] == pytest.approx(c["time"] * 0.5)


def test_estimated_stats_exposes_cbo_size(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    est = estimated_stats(li.filter(F.col("l_quantity") > 10))
    assert est["size_bytes"] > 0


def test_partition_stats_and_skew(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").repartition(8, "l_partkey")
    stats = partition_stats(li, "l_partkey").collect()
    assert len(stats) == 8
    assert sum(r.n_rows for r in stats) == li.count()
    summary = skew_summary(li, "l_partkey")
    assert summary["partitions"] == 8
    assert summary["skew_ratio"] >= 1.0


def test_chapter5_workload_reproduces_reference_ordering(
    spark, sf_dir, tmp_path_factory
):
    """BASELINE.md behavioral expectations on real execution: DB1 beats DB2
    on every metric, and the review-scanning queries (Q3/Q4/Q5) dominate
    the cheap filters (Q1/Q2) within each layout."""
    base = movie_base_tables(spark, sf_dir)
    storage = str(tmp_path_factory.mktemp("movie_variants"))
    report = run_workload(spark, base, [DB1, DB2], WORKLOAD, storage)
    totals = report.totals()
    assert totals["DB1"]["time"] < totals["DB2"]["time"]
    assert totals["DB1"]["price"] < totals["DB2"]["price"]
    by_q = {
        (r.variant, r.query): r.metrics.costs()["time"] for r in report.rows
    }
    for db in ("DB1", "DB2"):
        heavy = min(
            by_q[(db, "Q3_movie_review_join")],
            by_q[(db, "Q4_avg_rating_by_movie")],
            by_q[(db, "Q5_top_movies_with_titles")],
        )
        assert heavy > by_q[(db, "Q1_movies_by_genre")]
    # every layout answers every query with identical cardinality
    for q in [w.id for w in WORKLOAD]:
        counts = {
            r.metrics.output_rows for r in report.rows if r.query == q
        }
        assert len(counts) == 1


def test_cbo_estimates_after_analyze(spark, sf_dir):
    """§4 parity: with ANALYZE TABLE stats, Catalyst's CBO carries row counts
    (the reference's 1/NDV selectivity model is CBO's FilterEstimation)."""
    spark.sql("DROP TABLE IF EXISTS cbo_part")
    load_table(spark, sf_dir, "part").write.saveAsTable("cbo_part")
    spark.sql("ANALYZE TABLE cbo_part COMPUTE STATISTICS FOR ALL COLUMNS")
    t = spark.table("cbo_part")
    est_all = estimated_stats(t)
    assert est_all.get("row_count") == t.count()
    est_f = estimated_stats(t.filter(F.col("p_brand") == "Brand#12"))
    # CBO filter estimate ~ rows/NDV(brand): between 1 and 10% of the table
    assert 1 <= est_f.get("row_count", 0) <= 0.1 * est_all["row_count"]


def test_metric_parser_handles_multitask_label_lines():
    from bigdatastructure_a5_spark.plans.metrics import _parse_metric

    assert _parse_metric("6,000") == 6000
    assert _parse_metric("112.1 KiB") == 112.1 * 1024
    multi = "total (min, med, max (stageId: taskId))\n271.5 KiB (8.0 KiB, 8.5 KiB, 9.0 KiB (stage 3: task 7))"
    assert _parse_metric(multi) == 271.5 * 1024
    assert _parse_metric("total (min, med, max)") == 0.0


class _Option:
    def __init__(self, value=None):
        self.value = value

    def isDefined(self):
        return self.value is not None

    def get(self):
        return self.value


class _Execution:
    def __init__(self, eid, done):
        self.eid, self.done = eid, done

    def executionId(self):
        return self.eid

    def completionTime(self):
        return _Option(1 if self.done else None)

    def physicalPlanDescription(self):
        return f"plan of {self.eid}"


class _ExecutionList:
    def __init__(self, execs):
        self.execs = execs

    def size(self):
        return len(self.execs)

    def last(self):
        return self.execs[-1]


class _StubStore:
    """The slice of Spark's SQL status store run_with_metrics reads.  The
    query's save() appends ``pending`` (if any): None models a listener
    bus that never registers the execution, an incomplete one a bus that
    never marks it complete."""

    def __init__(self, pending):
        self.execs = [_Execution(7, done=True)]  # an earlier query's
        self.pending = pending

    def executionsList(self):
        return _ExecutionList(list(self.execs))

    def execution(self, eid):
        return _Option(next((e for e in self.execs if e.eid == eid), None))

    def save(self):
        if self.pending is not None:
            self.execs.append(self.pending)


def _stub_session(store):
    from types import SimpleNamespace

    writer = SimpleNamespace(save=store.save)
    writer.mode = writer.format = lambda *_: writer
    spark = SimpleNamespace(
        _jsparkSession=SimpleNamespace(
            sharedState=lambda: SimpleNamespace(statusStore=lambda: store)
        )
    )
    return spark, SimpleNamespace(write=writer)


@pytest.mark.parametrize(
    "pending, reason",
    [(None, "not registered"), (_Execution(8, done=False), "not completed")],
)
def test_run_with_metrics_fails_loudly_when_status_store_lags(
    monkeypatch, pending, reason
):
    """No Spark: a stub status store.  When the measured execution never
    shows up, the newest one is another query's; when it never completes,
    its metrics may be partly aggregated.  Either way billing them would
    charge this query the wrong bytes, so the call raises naming it."""
    from bigdatastructure_a5_spark.plans import metrics

    monkeypatch.setattr(metrics, "STORE_WAIT_S", 0.2)
    spark, df = _stub_session(_StubStore(pending))
    with pytest.raises(RuntimeError, match=f"D4:q1_brand_filter: .*{reason}"):
        metrics.run_with_metrics(spark, df, name="D4:q1_brand_filter")


def test_sharding_demo_reproduces_reference_ordering(spark, sf_dir):
    """BASELINE Q6/Q7 (REPORT.md:150-155) on real layouts: the bucket-aligned
    aggregation shuffles nothing; unaligned pays; cost ordering follows."""
    from bigdatastructure_a5_spark.examples.sharding_demo import run

    res = run(spark, sf_dir)
    assert res["q6_sharded"].shuffle_bytes == 0
    assert res["q6_unsharded"].shuffle_bytes > 0
    assert res["q7_unaligned"].shuffle_bytes > 0
    assert (
        res["q6_sharded"].costs()["time"]
        < res["q6_unsharded"].costs()["time"]
    )
