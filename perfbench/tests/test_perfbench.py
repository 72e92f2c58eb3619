"""Self-tests of the benchmark's own arithmetic and workload definitions.

No Spark session is started: run with
``python3 -m pytest perfbench/tests -q -p no:cacheprovider``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))

import fixtures  # noqa: E402
from stats import (  # noqa: E402
    TAIL_MIN_BEYOND,
    covered,
    self_time,
    split_op,
    tail_percentile,
    union_length,
)
from workloads import (  # noqa: E402
    CORE,
    DESIGN_OP,
    PARTITION,
    WORKLOADS,
    design_brand,
    pass_order,
    registry_ops,
)


# -- tail percentile ---------------------------------------------------------
@pytest.mark.parametrize("n", [11, 12, 25, 30, 50, 101, 400])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    samples = [float(i) for i in range(1, n + 1)][::-1]  # order must not matter
    value, pct, count = tail_percentile(samples)
    assert count == n
    beyond = sum(1 for s in samples if s > value)
    assert beyond >= TAIL_MIN_BEYOND
    # the next higher sample would leave fewer than ten beyond it
    higher = min(s for s in samples if s > value)
    assert sum(1 for s in samples if s > higher) < TAIL_MIN_BEYOND
    assert pct == pytest.approx(100.0 * (n - TAIL_MIN_BEYOND) / n)


def test_tail_falls_back_to_median_below_eleven_samples():
    assert tail_percentile([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert tail_percentile([float(i) for i in range(10)]) == (4.5, 50.0, 10)
    with pytest.raises(ValueError):
        tail_percentile([])


# -- span self time ----------------------------------------------------------
def test_union_length_merges_overlaps_and_ignores_empty():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 4), (1, 2), (3, 6)]) == 6.0
    assert union_length([(5, 5), (7, 6)]) == 0.0


def test_self_time_subtracts_clipped_child_cover():
    span = (0.0, 10.0)
    children = [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0), (-5.0, -1.0)]
    # covered: [1,4) and [8,10) -> 5; the part of (8,12) past the span and
    # the child entirely before it do not count
    assert covered(span, children) == pytest.approx(5.0)
    assert self_time(span, children) == pytest.approx(5.0)
    assert self_time(span, []) == pytest.approx(10.0)
    assert self_time(span, [(-1.0, 11.0)]) == pytest.approx(0.0)


def test_split_op_adds_up_when_every_builder_job_is_tagged():
    jobs = [
        (1.0, 2.0, "relational:q", "build"),
        (1.5, 2.5, "relational:q", "build"),
        (3.2, 3.8, "relational:q", "exec"),
    ]
    out = split_op(4.0, (0.0, 3.0), (3.0, 4.0), jobs, "relational:q")
    assert out["build_s"] == pytest.approx(1.5)
    assert out["eager_s"] == pytest.approx(1.5)
    assert out["eager_jobs"] == 2
    assert out["exec_s"] == pytest.approx(1.0)
    assert out["residual_s"] == pytest.approx(0.0)


def test_split_op_counts_untagged_builder_jobs_as_eager():
    # a streaming thread's job carries the query's run id, not a harness tag
    jobs = [(0.5, 1.5, "9f1c0b2e-run-id", None), (5.0, 6.0, None, None)]
    out = split_op(3.0, (0.0, 3.0), None, jobs, "materialize:s")
    assert out["eager_s"] == pytest.approx(1.0)
    assert out["residual_s"] == pytest.approx(0.0)


def test_split_op_residual_exposes_wrong_tags_and_missing_time():
    # a builder job under another operation's tag is neither build nor eager
    stale = [(1.0, 2.0, "relational:previous", "exec")]
    out = split_op(3.0, (0.0, 3.0), None, stale, "relational:q")
    assert out["residual_s"] == pytest.approx(1.0)
    # a builder job that outlives the builder overcounts
    late = [(2.0, 4.0, "relational:q", "build")]
    assert split_op(3.0, (0.0, 3.0), None, late, "relational:q")["residual_s"] == pytest.approx(-1.0)
    # time the operation spent outside both spans
    assert split_op(5.0, (0.0, 3.0), (3.0, 4.0), [], "relational:q")["residual_s"] == pytest.approx(1.0)


# -- workloads ---------------------------------------------------------------
def test_workloads_cover_every_registry_query_exactly_once():
    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    listed = [op for w in PARTITION for op in registry_ops(w)]
    assert len(listed) == len(set(listed)), "a query sits in two workloads"
    assert set(listed) == set(REGISTRY)
    assert [w for w in PARTITION if DESIGN_OP in PARTITION[w]] == ["materialize"]


def test_core_workloads_are_subsets_of_their_partition():
    for name, ops in CORE.items():
        full = PARTITION[name.removesuffix("-core")]
        assert len(set(ops)) == len(ops)
        assert set(ops) < set(full), name


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_fixes_operation_order(workload):
    first = [pass_order(workload, 7, k) for k in range(4)]
    assert first == [pass_order(workload, 7, k) for k in range(4)]
    for order in first:
        assert sorted(order) == sorted(WORKLOADS[workload])
    if len(WORKLOADS[workload]) > 3:
        others = [pass_order(workload, s, 0) for s in range(8, 16)]
        assert any(o != first[0] for o in others)


def test_seed_fixes_design_brand():
    assert design_brand(3) == design_brand(3)
    brands = {design_brand(s) for s in range(200)}
    assert brands <= {f"Brand#{i}" for i in range(1, 26)}
    assert len(brands) > 10


def test_design_queries_carry_the_seed_brand():
    from workloads import design_workload

    specs, queries = design_workload(5)
    assert [s.id for s in specs] == ["D1", "D2", "D3", "D4"]
    for q in queries:
        assert f"'{design_brand(5)}'" in q.sql


def test_variant_sql_reads_one_embed_copies_only_without_target():
    from check import variant_sql
    from workloads import design_workload

    specs, (q1, q2) = design_workload(1)
    d1, d2 = specs[0], specs[1]
    assert variant_sql(q1.sql, d1) == q1.sql
    assert "FROM (SELECT part.* FROM lineitem JOIN part" in variant_sql(q1.sql, d2)
    assert variant_sql(q2.sql, d2) == q2.sql  # the embed covers the join


# -- fixtures ----------------------------------------------------------------
def test_fixtures_are_deterministic_and_shaped_like_the_gate_tables():
    from bigdatastructure_a5_spark.catalog import TABLES

    a = fixtures.tables(scale=0.0005)
    b = fixtures.tables(scale=0.0005)
    assert set(a) == set(TABLES)
    for name in a:
        assert a[name].equals(b[name]), name
    docs = a["documents"].to_pydict()
    assert any(t.endswith(" dup") for t in docs["text"])
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
