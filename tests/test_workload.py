"""SQL front door (parser + denorm rewriter) and workload-harness tests —
the reference's plan-shape tests (`tests/test_challenge.py:32-117`) re-aimed
at real execution."""

from __future__ import annotations

import pytest

from bigdatastructure_a5_spark.catalog import load_tables
from bigdatastructure_a5_spark.examples.challenge_demo import DENORMS, WORKLOAD
from bigdatastructure_a5_spark.plans.sql_front import (
    parse_simple_sql,
    rewrite_for_variant,
)
from bigdatastructure_a5_spark.plans.workload import run_workload

D1, D2, D3, D4 = DENORMS
JOIN_SQL = WORKLOAD[1].sql
FILTER_SQL = WORKLOAD[0].sql


def test_parse_filter_query():
    q = parse_simple_sql(FILTER_SQL)
    assert q.table == "part" and q.alias == "p"
    assert q.join_table is None
    assert q.where == (("p", "p_brand", "'Brand#12'"),)


def test_parse_join_query():
    q = parse_simple_sql(JOIN_SQL)
    assert q.table == "lineitem" and q.join_table == "part"
    assert q.join_left == ("l", "l_partkey") and q.join_right == ("p", "p_partkey")


def test_parse_rejects_unsupported_grammar():
    assert parse_simple_sql("SELECT 1") is None
    assert parse_simple_sql("SELECT a FROM t WHERE x > 3") is None


def test_normalized_variant_passthrough():
    assert rewrite_for_variant(JOIN_SQL, D1) == JOIN_SQL
    assert rewrite_for_variant(FILTER_SQL, D1) == FILTER_SQL


def test_one_embed_eliminates_join():
    """Reference tests/test_challenge.py:102-117: D2 collapses the join to a
    single filter on the embedding host."""
    sql = rewrite_for_variant(JOIN_SQL, D2)
    assert "JOIN" not in sql.upper()
    assert sql.startswith("SELECT l_orderkey, l_quantity FROM lineitem")
    assert "product.p_brand = 'Brand#12'" in sql


def test_one_embed_substitutes_hosted_collection():
    sql = rewrite_for_variant(FILTER_SQL, D2)
    assert "FROM lineitem" in sql
    assert "product.p_name AS p_name" in sql


def test_many_embed_explodes_array():
    sql = rewrite_for_variant(JOIN_SQL, D3)
    assert "JOIN" not in sql.upper()
    assert "LATERAL VIEW EXPLODE(order_lines)" in sql
    assert "__e.l_orderkey AS l_orderkey" in sql


def test_full_SQL_passes_through_unchanged():
    full = "SELECT l_partkey, COUNT(*) n FROM lineitem GROUP BY l_partkey HAVING n > 2"
    assert rewrite_for_variant(full, D2) == full


def test_join_on_other_keys_is_not_collapsed():
    """An equi-join between the covered collections on DIFFERENT columns is
    a different relationship — the embed cannot answer it, so the rewrite
    must pass it through rather than silently return the embed's rows."""
    other = (
        "SELECT l_orderkey FROM lineitem l JOIN part p "
        "ON l.l_suppkey = p.p_partkey"
    )
    assert rewrite_for_variant(other, D2) == other
    swapped = (
        "SELECT l_orderkey FROM lineitem l JOIN part p "
        "ON l.l_partkey = p.p_size"
    )
    assert rewrite_for_variant(swapped, D2) == swapped


def test_star_join_is_not_collapsed():
    """`SELECT *` (or alias.*) over a covered join passes through: the host
    carries struct/array columns and lacks the consumed key, so the embed
    cannot reproduce the join's output shape."""
    for sel in ("*", "l.*", "p.*"):
        sql = (
            f"SELECT {sel} FROM lineitem l JOIN part p "
            "ON l.l_partkey = p.p_partkey"
        )
        assert rewrite_for_variant(sql, D2) == sql


def test_unqualified_hosted_field_resolves_with_columns():
    """With the logical column map, an unqualified field that lives only on
    the embedded side maps to the embed path — matching Spark's own name
    resolution for the (unambiguous) original query."""
    sql = (
        "SELECT l_orderkey FROM lineitem l JOIN part p "
        "ON l.l_partkey = p.p_partkey WHERE p_brand = 'Brand#12'"
    )
    cols = {
        "lineitem": {"l_orderkey", "l_partkey", "l_quantity"},
        "part": {"p_partkey", "p_brand", "p_name"},
    }
    out = rewrite_for_variant(sql, D2, cols)
    assert "product.p_brand = 'Brand#12'" in out and "JOIN" not in out.upper()
    # without the map the host wins (loud failure downstream, never silent)
    out_nomap = rewrite_for_variant(sql, D2)
    assert "WHERE p_brand" in out_nomap


def test_unqualified_on_keys_resolve_with_columns():
    """ADVICE r5: an unqualified ON clause (legal when names are unambiguous)
    must resolve its keys by column membership like SELECT/WHERE, so the
    legitimately-collapsible embed join still collapses."""
    sql = (
        "SELECT l_orderkey, l_quantity FROM lineitem JOIN part "
        "ON l_partkey = p_partkey WHERE p_brand = 'Brand#12'"
    )
    cols = {
        "lineitem": {"l_orderkey", "l_partkey", "l_quantity"},
        "part": {"p_partkey", "p_brand", "p_name"},
    }
    q = parse_simple_sql(sql)
    assert q is not None and q.join_left == (None, "l_partkey")
    out = rewrite_for_variant(sql, D2, cols)
    assert "JOIN" not in out.upper()
    assert "product.p_brand = 'Brand#12'" in out
    # without the columns map both ON sides resolve to the FROM table —
    # ambiguous, so the join passes through untouched (never collapses to
    # a possibly-different relationship)
    assert rewrite_for_variant(sql, D2) == sql


def test_substituted_star_restores_consumed_key():
    """O15 substitution of `SELECT *`: the embed struct lacks the consumed
    join key, so the rewrite re-emits it under its logical name."""
    out = rewrite_for_variant("SELECT * FROM part p", D2)
    assert "product.*" in out and "l_partkey AS p_partkey" in out
    out_q = rewrite_for_variant("SELECT p.* FROM part p", D2)
    assert "product.*" in out_q and "l_partkey AS p_partkey" in out_q


@pytest.fixture(scope="module")
def report(spark, sf_dir, tmp_path_factory):
    base = load_tables(spark, sf_dir, ("part", "lineitem"))
    storage = str(tmp_path_factory.mktemp("variants"))
    return run_workload(spark, base, DENORMS, WORKLOAD, storage)


def test_workload_rows_and_totals(report):
    assert len(report.rows) == len(DENORMS) * len(WORKLOAD)
    totals = report.totals()
    assert set(totals) == {"D1", "D2", "D3", "D4"}
    for t in totals.values():
        assert t["time"] > 0 and t["carbon"] > 0 and t["price"] > 0
        # reference cost-unit ratios hold: carbon = time/2, price = time/10
        assert t["carbon"] == pytest.approx(t["time"] * 0.5)
        assert t["price"] == pytest.approx(t["time"] * 0.1)


def test_join_answers_agree_across_variants(spark, report):
    """Every layout must answer q2 with the same row count — denormalization
    changes cost, never results (the oracle property, real this time)."""
    counts = {
        r.variant: r.metrics.output_rows
        for r in report.rows
        if r.query == "q2_filtered_join"
    }
    assert len(set(counts.values())) == 1, counts


def test_workload_restores_base_views(spark, sf_dir, report):
    """run_workload must leave the session's views on the BASE (logical)
    data: the loop registers each variant's tables under the base names,
    and without restoration every later spark.sql against 'lineitem'/'part'
    would silently read the LAST variant's denormalized layout."""
    base = load_tables(spark, sf_dir, ("part", "lineitem"))
    for coll, df in base.items():
        via_view = spark.table(coll)
        assert via_view.columns == df.columns  # no struct/array additions
        assert via_view.count() == df.count()


def test_plan_sink_records_executed_plan(report):
    """K3 plan JSON must hold the plan of the MEASURED execution in final
    adaptive form — not df.queryExecution()'s never-executed initial plan
    (isFinalPlan=false)."""
    plans = [r.physical_plan for r in report.rows]
    assert all(p for p in plans), "empty physical_plan captured"
    adaptive = [p for p in plans if "AdaptiveSparkPlan" in p]
    assert adaptive, "expected at least one adaptive plan"
    for p in adaptive:
        assert "isFinalPlan=true" in p, p[:200]


def test_leaderboard_is_sorted(report):
    lb = report.leaderboard()
    prices = [t["price"] for _, t in lb]
    assert prices == sorted(prices)


def test_report_sinks(report, tmp_path):
    out = str(tmp_path / "out")
    report.write(out)
    assert (tmp_path / "out" / "results.csv").exists()
    assert (tmp_path / "out" / "leaderboard.md").exists()
    assert (tmp_path / "out" / "report.json").exists()
    plans = list((tmp_path / "out" / "plans").glob("*.plan.json"))
    assert len(plans) == len(report.rows)


def test_workload_writes_each_distinct_build_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """D4 keeps D3's ``part`` and D1's ``lineitem`` unchanged, so the four
    layouts hold four distinct builds: each is written once and copied
    into every other dir that keeps it, and registering a variant runs no
    Spark job (each view reads with its written schema, no footer
    inference)."""
    from pathlib import Path

    from pyspark.sql.readwriter import DataFrameWriter

    from bigdatastructure_a5_spark.plans import workload

    writes = []
    parquet = DataFrameWriter.parquet

    def counting_parquet(self, path, *args, **kwargs):
        writes.append(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    registered = {}
    materialize = workload.materialize_variant

    def checked_materialize(spark, base, spec, storage_dir, *args):
        jobs_before = dag.numTotalJobs()
        out = materialize(spark, base, spec, storage_dir, *args)
        assert dag.numTotalJobs() == jobs_before, f"{spec.id} ran a job"
        registered[spec.id] = {c: df.schema for c, df in out.items()}
        return out

    monkeypatch.setattr(workload, "materialize_variant", checked_materialize)

    base = load_tables(spark, sf_dir, ("part", "lineitem"))
    storage = tmp_path / "variants"
    report = run_workload(spark, base, DENORMS, WORKLOAD, str(storage))

    assert len(writes) == 4, writes
    for spec in DENORMS:
        kept = {c.name for c in spec.collections}
        assert {p.name for p in (storage / spec.id).iterdir()} == kept
        for coll, schema in registered[spec.id].items():
            path = str(storage / spec.id / coll)
            assert schema == spark.read.parquet(path).schema, (spec.id, coll)

    def data_files(d: Path) -> dict[str, bytes]:
        return {f.name: f.read_bytes() for f in d.glob("*.parquet")}

    for copy, orig in (("D4/part", "D3/part"), ("D4/lineitem", "D1/lineitem")):
        files = data_files(storage / copy)
        assert files and files == data_files(storage / orig), copy

    scanned = {
        r.variant: r.metrics.scanned_bytes
        for r in report.rows
        if r.query == "q1_brand_filter"
    }
    assert scanned["D3"] == scanned["D4"] > 0
