"""Spark-free units for the measurement tools' pure logic.

The tools themselves are validated by the artifacts they regenerate
(EXPERIMENTS.md, PLAN_AUDIT.md); these tests pin the pure decision
logic — the scaling sweep's verdict/flagging rules — which otherwise
only runs inside a ~15-minute full sweep.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from scaling_sweep import OUTPUT_QUADRATIC, SUPER_LINEAR, render  # noqa: E402

SCALES = [
    ("sf0.001", 1, "/d/sf0.001"),
    ("sf0.01", 10, "/d/sf0.01"),
    ("sf0.1", 100, "/d/sf0.1"),
    ("x10(sf0.1)", 1000, "/tmp/x10"),
]


def _row(section: str, name: str) -> str:
    rows = [l for l in section.splitlines() if l.startswith(f"| {name} |")]
    assert len(rows) == 1, f"expected exactly one row for {name}"
    return rows[0]


def test_render_verdicts_and_flagging():
    times = {
        # last step 20x > SUPER_LINEAR: flagged
        "quadratic_q": [0.1, 0.2, 1.0, 20.0],
        # last step exactly linear (10x): '~linear', not flagged
        "linear_q": [0.1, 0.1, 0.5, 5.0],
        # flat at all scales: overhead-bound
        "flat_q": [0.2, 0.2, 0.2, 0.2],
        # failed at one rung: FAILED, flagged, must not raise
        "broken_q": [0.1, float("nan"), 0.2, 0.3],
    }
    section = render(SCALES, times, reps=2)

    assert "**super-linear**" in _row(section, "quadratic_q")
    assert "~linear" in _row(section, "linear_q")
    assert "overhead-bound" in _row(section, "flat_q")
    assert "**FAILED**" in _row(section, "broken_q")
    # the summary line names both problem queries
    assert "Flagged super-linear" in section
    assert "`quadratic_q` (20.0x)" in section
    assert "`broken_q` (FAILED)" in section
    assert "nan" not in section


def test_output_quadratic_queries_read_output_bound_not_flagged():
    """The x10 sweep fixture makes the TRUE pair answer ~copies^2 for the
    dedup/curation family: a >12x last step there is the answer's size,
    not an implementation defect — rendered as output-bound with the
    §4/§5 pointer, never flagged."""
    name = "dedup_ngram_jaccard"
    assert name in OUTPUT_QUADRATIC
    times = {name: [0.5, 0.6, 1.6, 24.0]}  # last step 15x
    section = render(SCALES, times, reps=2)
    row = _row(section, name)
    assert "output-bound" in row and "super-linear" not in row
    assert "Flagged" not in section
    # a non-exempt query with the same ratios IS still flagged
    section2 = render(SCALES, {"plain_q": [0.5, 0.6, 1.6, 24.0]}, reps=2)
    assert "**super-linear**" in _row(section2, "plain_q")


def test_render_clean_sweep_has_no_flags():
    times = {"q": [0.1, 0.2, 0.5, 2.0]}
    section = render(SCALES, times, reps=3)
    assert "Flagged" not in section
    assert "No query is super-linear" in section
    # header carries the rep count actually used
    assert "min-of-3" in section
    # totals row present with all four scale columns
    assert _row(section, "**total**").count("|") >= 8


def test_super_linear_threshold_is_generous_vs_linear():
    # the threshold must not flag plain linear growth (10x) plus noise
    assert SUPER_LINEAR >= 12.0


def test_lifted_oracles_match_full_at_x10():
    """The linear-in-copies lifted oracles (tools/lifted_oracles.py, the
    x>10 gate path) must return the IDENTICAL row multiset as the
    registered full pair oracles at x10 — the largest scale where the
    full oracles are still tractable.  DuckDB-only: this validates the
    oracle derivation itself, independent of Spark."""
    import duckdb
    from lifted_oracles import lifted_oracles
    from scale_fixtures import ensure_x10

    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    sf = ensure_x10("/root/testdata/sf0.01", copies=10)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    lift = lifted_oracles(10)
    assert set(lift) == {
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "pipeline_curation",
        "decontam_benchmark",
        "dedup_clusters",
        "dedup_clusters_star",
        "dedup_retraction",
    }

    def canon(rel):
        cols, rows = list(rel.columns), rel.fetchall()
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(cols), sorted(
            "|".join(repr(r[i]) for i in order) for r in rows
        )

    for name, lifted_sql in lift.items():
        o_cols, o_rows = canon(con.sql(REGISTRY[name].oracle))
        l_cols, l_rows = canon(con.sql(lifted_sql))
        assert o_cols == l_cols, name
        assert len(o_rows) > 0, f"{name}: empty oracle result proves nothing"
        assert o_rows == l_rows, f"{name}: lifted oracle drifted from full"


def test_lifted_oracles_property_random_corpora():
    """Property version of the x10 validation: on RANDOM small corpora —
    empty docs, sub-shingle docs, cross-base exact duplicates, mixed
    languages — the lifted xN oracle must return the identical row
    multiset as the registered full pair oracle, for several copy
    counts.  DuckDB-only and tiny, so it sweeps edge shapes the fixture
    never hits (the fixture has no empty or two-word documents)."""
    import duckdb
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from lifted_oracles import lifted_oracles
    from scale_fixtures import OFFSET

    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    _load_all()
    words = st.sampled_from(
        "the quick brown fox lazy dog spark shuffle la el der und le et".split()
    )
    doc = st.lists(words, min_size=0, max_size=12).map(" ".join)

    @given(
        docs=st.lists(doc, min_size=2, max_size=8),
        dup_from=st.integers(min_value=0, max_value=7),
        copies=st.integers(min_value=2, max_value=3),
    )
    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(docs, dup_from, copies):
        # force a cross-base exact duplicate: last doc repeats an earlier one
        docs = list(docs) + [docs[dup_from % len(docs)]]
        rows = [
            (i + c * OFFSET, t, "en", "gen", len(t))
            for c in range(copies)
            for i, t in enumerate(docs)
        ]
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        lift = lifted_oracles(copies)
        for name, lifted_sql in lift.items():
            full = con.sql(REGISTRY[name].oracle)
            f_cols, f_rows = list(full.columns), full.fetchall()
            lifted = con.sql(lifted_sql)
            l_cols, l_rows = list(lifted.columns), lifted.fetchall()
            assert sorted(f_cols) == sorted(l_cols), name

            def canon(cols, rws):
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                return sorted(
                    "|".join(repr(r[i]) for i in order) for r in rws
                )

            assert canon(f_cols, f_rows) == canon(l_cols, l_rows), (
                name,
                docs,
                copies,
            )

    check()


def test_prediction_interval_uses_t_and_inflation():
    """ADVICE r6: the §8 band must be a real 95% prediction interval —
    mean-centered, t-quantile, sqrt(1+1/n) inflated — not median±1.96sd."""
    import statistics

    from bench_variance import prediction_interval

    ts = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 0.8, 1.0, 1.1, 0.9]
    lo, hi = prediction_interval(ts)
    mean, sd = statistics.fmean(ts), statistics.stdev(ts)
    half = 2.262 * sd * (1 + 1 / 10) ** 0.5  # t(9,.975)=2.262
    assert abs((hi - lo) / 2 - half) < 1e-9
    assert abs((hi + lo) / 2 - mean) < 1e-9
    # degenerate: single sample -> zero-width band, no crash
    assert prediction_interval([2.0]) == (2.0, 2.0)


def test_read_bench_shift_discount_and_verdicts():
    """VERDICT r6 item 5: a uniform session shift must verdict all
    inside-PI; a genuinely moved query must be flagged through the
    discount; a mild excess lands in 'watch'."""
    from read_bench import read_bench

    samples = {f"q{i}": [1.0 + 0.02 * j for j in range(10)] for i in range(6)}
    # uniform 1.28x shift only -> everything inside-PI
    bench = {q: 1.28 * 1.09 for q in samples}
    shift, rows = read_bench(bench, samples)
    assert abs(shift - 1.28) < 0.01
    assert {r[5] for r in rows} == {"inside-PI"}
    # one query tripled: REGRESSION, and the median-shift estimate holds
    bench["q0"] = 3.9
    shift, rows = read_bench(bench, samples)
    assert abs(shift - 1.28) < 0.01
    verdicts = {r[0]: r[5] for r in rows}
    assert verdicts["q0"] == "REGRESSION"
    assert all(v == "inside-PI" for q, v in verdicts.items() if q != "q0")
    # mild excess (just above the band, within grace) -> watch
    bench["q0"] = 1.28 * (rows[0][4] * 1.08)
    _, rows = read_bench(bench, samples)
    assert {r[5] for r in rows if r[0] == "q0"} == {"watch"}


def test_read_bench_cli_reads_driver_envelope(tmp_path):
    """VERDICT r7 item 1: the CLI must read the driver's actual
    BENCH_r{N}.json (queries nested under "parsed"), not just bench.py's
    flat line — r7 shipped with a KeyError on its primary input.  Feed the
    literal committed BENCH_r07.json against a synthetic envelope centered
    on its own values (the repo envelope is regenerated every round, so a
    verdict pinned against it would rot) and assert the all-inside-PI
    verdict the construction guarantees."""
    import json
    import subprocess

    repo = Path(__file__).resolve().parent.parent
    bench_path = repo / "BENCH_r07.json"
    queries = json.loads(bench_path.read_text())["parsed"]["queries"]
    samples = {
        q: [v * f for f in (0.9, 0.94, 0.97, 1.0, 1.0, 1.02, 1.05, 1.1)]
        for q, v in queries.items()
    }
    env_path = tmp_path / "envelope.json"
    env_path.write_text(json.dumps({"samples": samples}))
    res = subprocess.run(
        [sys.executable, str(repo / "tools" / "read_bench.py"),
         str(bench_path), str(env_path)],
        capture_output=True, text=True, timeout=60,
    )
    assert res.returncode == 0, res.stderr
    assert f"{len(queries)}/{len(queries)} inside-PI" in res.stdout
    assert "0 regression(s)" in res.stdout

    # unwrap helper accepts both shapes and rejects garbage
    from read_bench import unwrap_bench_doc

    envelope = json.loads(bench_path.read_text())
    flat = envelope["parsed"]
    assert unwrap_bench_doc(envelope) == unwrap_bench_doc(flat)
    with pytest.raises(ValueError, match="parsed.queries"):
        unwrap_bench_doc({"n": 7, "rc": 0})


def test_scale_fixture_eviction_drops_stale_generations(tmp_path):
    """VERDICT r6 item 8 + ADVICE r7: cached xN dirs whose construction
    hash no longer matches HEAD must be evicted so a hand-typed stale path
    can't validate against an old construction — but only once older than
    the age guard, so a concurrent gate from an older checkout can't have
    its fixture rmtree'd mid-read."""
    import os
    import time
    from pathlib import Path

    from scale_fixtures import _EVICT_MIN_AGE_SECS, _evict_stale

    stale = Path("/tmp/bds_x7_sfTEST_000000000bad")
    recent = Path("/tmp/bds_x7_sfTEST_00000000feed")
    live = Path("/tmp/bds_x7_sfTEST_000000001234")
    other_scale = Path("/tmp/bds_x8_sfTEST_000000000bad")
    for p in (stale, recent, live, other_scale):
        p.mkdir(exist_ok=True)
        (p / "_COMPLETE").write_text("ok\n")
    old = time.time() - _EVICT_MIN_AGE_SECS - 60
    os.utime(stale / "_COMPLETE", (old, old))
    try:
        _evict_stale(7, "sfTEST", "000000001234")
        assert not stale.exists(), "aged stale generation survived eviction"
        assert recent.exists(), (
            "recently-touched stale generation (possibly in use by a "
            "concurrent run) must be skipped"
        )
        assert live.exists(), "live generation must not be evicted"
        assert other_scale.exists(), "other copy-counts are out of scope"
    finally:
        import shutil

        for p in (stale, recent, live, other_scale):
            shutil.rmtree(p, ignore_errors=True)


def test_spill_run_case_records_timeout(monkeypatch):
    """ADVICE r7: a hung constrained-heap child (the exact pathology the
    spill experiment probes) must land as a TIMEOUT status row through the
    normal retry path, not abort the whole run with an uncaught
    TimeoutExpired and lose every previously measured row."""
    import subprocess

    import spill_experiment as se

    calls = []

    def fake_run(cmd, **kw):
        calls.append(cmd)
        raise subprocess.TimeoutExpired(cmd, kw.get("timeout", 3600))

    monkeypatch.setattr(se.subprocess, "run", fake_run)
    out = se.run_case("some_query", "/tmp/sf", "2g", 4, None)
    assert out["status"] == "TIMEOUT (3600s) x2"
    assert out["rows"] == -1
    assert len(calls) == 2  # both attempts made, neither raised out


def test_oracle_cache_key_includes_schema_version(monkeypatch):
    """ADVICE r7: cached oracle entries store POST-canonicalization rows,
    so the cache key must change when _canon_rows (or DuckDB's rendering)
    changes — otherwise stale /tmp entries produce spurious verdicts."""
    import check_correctness as cc

    p1 = cc._oracle_cache_path("/some/dir", "select 1")
    monkeypatch.setattr(cc, "_CACHE_SCHEMA_VERSION", "a-different-version")
    p2 = cc._oracle_cache_path("/some/dir", "select 1")
    assert p1 != p2
    # and the version itself is derived from duckdb + the canonicalizer
    import duckdb

    v1 = cc._cache_schema_version()
    monkeypatch.setattr(duckdb, "__version__", "999.0.0-fake")
    assert cc._cache_schema_version() != v1


def test_streaming_scale_summarize_progress():
    """§13's table folds raw StreamingQueryProgress dicts; the r7 lesson
    (read_bench's CLI shipped broken on its primary input) says pin the
    consuming shape: multi-operator batches sum state rows/bytes, missing
    metrics default to 0, peak is across batches."""
    from streaming_scale import summarize_progress

    caps = [
        (
            "sink_a",
            [
                {
                    "batchId": 0,
                    "numInputRows": 100,
                    "durationMs": {"triggerExecution": 1500},
                    "stateOperators": [
                        {"numRowsTotal": 10, "memoryUsedBytes": 1000},
                        {"numRowsTotal": 5, "memoryUsedBytes": 500},
                    ],
                },
                {"batchId": 1, "numInputRows": 0},  # finalize: no state ops
            ],
        )
    ]
    r = summarize_progress("q", caps, wall=2.0, out_rows=7)
    assert r["input_rows"] == 100
    assert r["rows_per_sec"] == 50.0
    assert [b["state_rows"] for b in r["batches"]] == [15, 0]
    assert [b["state_bytes"] for b in r["batches"]] == [1500, 0]
    assert r["batches"][0]["batch_ms"] == 1500
    assert r["batches"][1]["batch_ms"] is None
    assert r["peak_state_rows"] == 15
    assert r["peak_state_bytes"] == 1500


def test_pq_sizing_timed_reps_excludes_warmup(monkeypatch):
    """§14's serving column is median-of-3 after an excluded warm-up rep
    (the §12 lesson: warm-up order leaking into per-config numbers made
    the r7 table contradict itself)."""
    import pq_sizing

    # the warm-up rep reads the clock once (its elapsed time is never
    # taken); each timed rep reads it twice
    ticks = iter([0.0, 10.0, 11.0, 20.0, 22.0, 30.0, 33.0])
    monkeypatch.setattr(pq_sizing.time, "perf_counter", lambda: next(ticks))
    calls = []
    got = pq_sizing.timed_reps(lambda: calls.append(1))
    assert len(calls) == 4  # 1 warm-up + N_REPS=3 timed
    assert got == 2.0  # median of (1.0, 2.0, 3.0); the warm-up excluded


def test_ivf_sizing_jitter_breaks_exact_duplicates(spark):
    """VERDICT r7 item 4 plumbing: above the dim=64 rotation period the
    pure xN construction yields exact duplicates; the hash-seeded jitter
    must make every vector distinct (deterministically) while an
    unjittered build reproduces the duplicate degeneracy."""
    from ivf_sizing import scaled_embeddings

    copies = 130  # > 2 full rotation periods of dim 64
    jittered = scaled_embeddings(spark, copies, jitter=0.03)
    base_n = jittered.count()
    assert jittered.select("embedding").distinct().count() == base_n
    # determinism: same construction twice -> identical corpus
    again = scaled_embeddings(spark, copies, jitter=0.03)
    assert jittered.exceptAll(again).count() == 0
    plain = scaled_embeddings(spark, copies, jitter=0.0)
    assert plain.select("embedding").distinct().count() < base_n


def test_gate_pool_partition_is_sound():
    """The gate's worker pool must hold back exactly the queries that
    mutate session-global conf (the two real Structured Streaming runs
    scope spark.sql.shuffle.partitions around start()) — and every
    SERIAL_QUERIES member must actually exist in the registry, so the
    serial tail can't silently go stale if a query is renamed."""
    import check_correctness as cc

    from bigdatastructure_a5_spark.registry import REGISTRY, _load_all

    import inspect
    import re

    _load_all()

    def src_closure(fn) -> str:
        """Builder source plus any same-module helpers it calls (builders
        may delegate, e.g. events_streaming_interval_join -> the shared
        run_error_click_stream_join flow)."""
        mod = inspect.getmodule(fn)
        seen, todo, out = set(), [fn], []
        while todo:
            f = todo.pop()
            if f in seen:
                continue
            seen.add(f)
            src = inspect.getsource(f)
            out.append(src)
            for called in re.findall(r"\b(\w+)\s*\(", src):
                g = getattr(mod, called, None)
                if callable(g) and inspect.getmodule(g) is mod:
                    todo.append(g)
        return "\n".join(out)

    # the conf-scoping entry point is run_stream_to_memory: the serial set
    # must be EXACTLY the registry queries whose builders route through it
    streaming = {
        name
        for name, qd in REGISTRY.items()
        if "run_stream_to_memory" in src_closure(inspect.unwrap(qd.builder))
    }
    assert streaming == cc.SERIAL_QUERIES, (
        streaming ^ cc.SERIAL_QUERIES
    )


def test_oracle_cache_roundtrip(tmp_path, monkeypatch):
    """The x100-gate DuckDB cache (VERDICT r6 item 7) must return the
    identical (cols, types, count, canon rows) on a cache hit."""
    import duckdb

    import check_correctness as cc

    monkeypatch.setattr(cc, "_ORACLE_CACHE_DIR", tmp_path)
    con = duckdb.connect()
    sql = "SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, NULL"
    fresh = cc._run_oracle(con, "/tmp/bds_x99_fake", sql, True)
    assert fresh[4] is False
    cached = cc._run_oracle(con, "/tmp/bds_x99_fake", sql, True)
    assert cached[4] is True
    assert cached[:4] == fresh[:4]
    # different fixture dir -> different cache entry (no false sharing)
    other = cc._run_oracle(con, "/tmp/bds_x99_other", sql, True)
    assert other[4] is False


def test_intersect_matches_duckdb(spark, sf_dir):
    """INTERSECT stays engine-vs-oracle checked after the r9 registry
    rotation (its former registry slot, set_intersect, went to the
    quantization/layout gate queries — VERDICT r8 item 1): DataFrame
    .intersect must return the same distinct key set as DuckDB's
    INTERSECT over the same parquet."""
    import duckdb
    from pyspark.sql import functions as F

    from bigdatastructure_a5_spark.catalog import load_table

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    got = sorted(
        r.c_custkey
        for r in c.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .intersect(
            o.filter(F.col("o_orderstatus") == "F").select(
                F.col("o_custkey").alias("c_custkey")
            )
        )
        .collect()
    )
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = sorted(
        r[0]
        for r in con.sql(
            """
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            """
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_array_functions_matches_duckdb(spark, sf_dir):
    """The array toolbox stays engine-vs-oracle checked after the r9
    second-wave rotation (its former registry slot went to
    decontam_benchmark): the unregistered array_functions builder must
    match its DuckDB oracle cell-for-cell over the same parquet."""
    import duckdb

    from bigdatastructure_a5_spark.queries.sql_surface import (
        ARRAY_FUNCTIONS_ORACLE,
        array_functions,
    )

    got = sorted(
        (r.vec_id, r.dim, round(r.first_val, 12), round(r.max_val, 12), r.n_positive)
        for r in array_functions(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(
        (r[0], r[1], round(r[2], 12), round(r[3], 12), r[4])
        for r in con.sql(ARRAY_FUNCTIONS_ORACLE).fetchall()
    )
    assert got == want and len(got) > 0


def test_agg_cube_matches_duckdb(spark, sf_dir):
    """CUBE stays engine-vs-oracle checked after the r9 third-wave
    rotation (its former registry slot went to pipeline_mixture /
    pack_chunks; the Expand machinery stays driver-gated via agg_rollup
    and agg_distinct_having)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.sql_surface import (
        AGG_CUBE_ORACLE,
        agg_cube,
    )

    # CUBE emits NULL grouping values — sort None-safely via str()
    key = lambda t: tuple(map(str, t))  # noqa: E731
    got = sorted(
        (
            (r.l_returnflag, r.ship_year, r.n_lines)
            for r in agg_cube(spark, sf_dir).collect()
        ),
        key=key,
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    want = sorted(
        ((r[0], r[1], r[2]) for r in con.sql(AGG_CUBE_ORACLE).fetchall()),
        key=key,
    )
    assert got == want and len(got) > 0


def test_events_hourly_rollup_matches_duckdb(spark, sf_dir):
    """The tumbling hourly rollup stays engine-vs-oracle checked after
    the r9 third-wave rotation (tumbling windows remain driver-gated via
    events_sliding_window — slide == width is its special case — and the
    streaming twin events_streaming_rollup)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.events_queries import (
        EVENTS_HOURLY_ROLLUP_ORACLE,
        events_hourly_rollup,
    )

    got = sorted(
        (
            r.hour_ts,
            r.event_type,
            r.n_events,
            r.n_users,
            round(r.sum_value, 9),
        )
        for r in events_hourly_rollup(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = sorted(
        (r[0], r[1], r[2], r[3], round(r[4], 9))
        for r in con.sql(EVENTS_HOURLY_ROLLUP_ORACLE).fetchall()
    )
    assert got == want and len(got) > 0


def test_join_left_outer_matches_duckdb(spark, sf_dir):
    """LEFT OUTER stays engine-vs-oracle checked after the r10 rotation
    (its former registry slot went to the mixture/packing/curriculum
    family; outer-join machinery stays driver-gated via join_semi_anti
    and join_asof_attribution)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.sql_surface import (
        JOIN_LEFT_OUTER_ORACLE,
        join_left_outer,
    )

    got = sorted(
        (r.n_name, r.n_suppliers)
        for r in join_left_outer(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    for t in ("nation", "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = sorted(
        (r[0], r[1]) for r in con.sql(JOIN_LEFT_OUTER_ORACLE).fetchall()
    )
    assert got == want and len(got) > 0


def test_scalar_functions_match_duckdb(spark, sf_dir):
    """Scalar string/date/math functions stay engine-vs-oracle checked
    after the r10 rotation (scalar expressions stay driver-gated via
    events_json_extract and projection_computed)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.parity import (
        SCALAR_FUNCTIONS_ORACLE,
        scalar_functions,
    )

    got = sorted(
        tuple(str(v) for v in r)
        for r in scalar_functions(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    want = sorted(
        tuple(str(v) for v in r)
        for r in con.sql(SCALAR_FUNCTIONS_ORACLE).fetchall()
    )
    assert got == want and len(got) > 0


def test_composite_shipping_priority_matches_duckdb(spark, sf_dir):
    """The TPC-H Q3-shaped composite stays engine-vs-oracle checked after
    the r10 rotation (each component family keeps its own driver row:
    filter_eq_conjunctive, join_filtered_brand, join_three_way,
    agg_pricing_summary, sort_limit_topk)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.parity import (
        COMPOSITE_SHIPPING_ORACLE,
        composite_shipping_priority,
    )

    got = [
        (r.l_orderkey, round(r.revenue, 9), str(r.o_orderdate), r.o_orderpriority)
        for r in composite_shipping_priority(spark, sf_dir).collect()
    ]
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = [
        (r[0], round(r[1], 9), str(r[2]), r[3])
        for r in con.sql(COMPOSITE_SHIPPING_ORACLE).fetchall()
    ]
    assert got == want and len(got) > 0


def test_window_topn_per_group_matches_duckdb(spark, sf_dir):
    """Top-N-per-group stays engine-vs-oracle checked after the r10
    second rotation wave (its slot went to dedup_clusters; window
    machinery stays driver-gated via events_sessionize (lag),
    events_sliding_window, and curriculum_bins (ntile))."""
    import duckdb

    from bigdatastructure_a5_spark.queries.parity import (
        WINDOW_TOPN_ORACLE,
        window_topn_per_group,
    )

    got = sorted(
        tuple(r) for r in window_topn_per_group(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{sf_dir}/customer.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(WINDOW_TOPN_ORACLE).fetchall())
    assert got == want and len(got) > 0


def test_text_fingerprint_matches_duckdb(spark, sf_dir):
    """Both content fingerprints stay engine-vs-oracle checked after the
    r11 rotation (the slot went to document_report, which carries the
    md5 fingerprint column; the rolling polynomial hash is only checked
    here)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.pipeline import (
        TEXT_FINGERPRINT_ORACLE,
        text_fingerprint,
    )

    got = sorted(
        tuple(r) for r in text_fingerprint(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.sql(TEXT_FINGERPRINT_ORACLE).fetchall()
    )
    assert got == want and len(got) > 0


def test_neardup_embedding_cosine_matches_duckdb(spark, sf_dir):
    """The exact all-pairs cosine baseline (Arrow tile scorer) stays
    engine-vs-oracle checked after the r11 rotation (its slot went to
    dedup_semantic, whose within-cell pairs are a strict subset sharing
    the same refine expression)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.pipeline import (
        NEARDUP_EMBEDDING_ORACLE,
        neardup_embedding_cosine,
    )

    got = sorted(
        tuple(r) for r in neardup_embedding_cosine(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.sql(NEARDUP_EMBEDDING_ORACLE).fetchall()
    )
    assert got == want and len(got) > 0


def test_pack_assembly_matches_duckdb(spark, sf_dir):
    """The batch assembler stays engine-vs-oracle checked after the r12
    rotation (its slot went to pack_assembly_incremental, which gates
    the same assembly as a real streaming run but — by the streaming
    contract — emits only COMPLETE chunks; each shard's unfilled last
    chunk is exclusive to this batch variant and is re-checked here)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.mixture_queries import (
        _ASSEMBLY_ORACLE,
        pack_assembly,
    )

    got = sorted(tuple(r) for r in pack_assembly(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(_ASSEMBLY_ORACLE).fetchall())
    assert got == want and len(got) > 0
    # the rows the incremental gate cannot see: at least one per-shard
    # final chunk is under-full here (the streaming tail)
    assert any(r[3] < 512 for r in got)


_SEMANTIC_4PROBE_ORACLE = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, emb AS cemb FROM e ORDER BY vec_id LIMIT 8),
    celled AS (
      SELECT e.vec_id, e.emb, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY LIST_COSINE_SIMILARITY(e.emb, c.cemb) DESC, c.cid
             ) AS rn
      FROM e CROSS JOIN cent c
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           LIST_COSINE_SIMILARITY(a.emb, b.emb) AS cosine
    FROM (SELECT vec_id, emb, cid FROM celled WHERE rn <= 4) a
    JOIN (SELECT vec_id, emb, cid FROM celled WHERE rn <= 4) b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE LIST_COSINE_SIMILARITY(a.emb, b.emb) >= 0.45
    """


@pytest.mark.parametrize("scale", ["x1", "x10"])
def test_semantic_multiprobe_hash_gate(spark, scale):
    """VERDICT r11 item 5: the semantic-dedup PRODUCTION dial (4-probe
    assignment) hash-gated, not just measured.  The driver row gates the
    1-probe/8-cell shape; this extends the same oracle naturally — rn <= 4
    in the assignment window, pair found in ANY shared cell, DISTINCT —
    and the engine's with_ivf_cells_probed + cosine_pairs_in_cells must
    reproduce the pair set bit-for-bit (BLAS argsort and the window
    share the ties-to-smaller-cid rule; the refine cosine is the
    engines' shared sequential fold).  Recall is pinned too: 14/14 at
    x1 (cross-checking §19's 100% 4-probe x1 row) and 1012/1016 at x10
    — HIGHER than §19's 75% because the gate's 8-cell codebook makes
    coarser cells than §19's 71 auto-cells (coarser cells, fewer
    boundary straddles: the cells-vs-recall dial §19 prices)."""
    import duckdb

    from bigdatastructure_a5_spark.catalog import load_table
    from bigdatastructure_a5_spark.operators.similarity import (
        cosine_pairs_in_cells,
        with_ivf_cells_probed,
    )
    from bigdatastructure_a5_spark.queries.pipeline import _head_vectors

    if scale == "x1":
        sf, want_pairs, want_exact = "/root/testdata/sf0.01", 14, 14
    else:
        from scale_fixtures import ensure_x10

        sf, want_pairs, want_exact = ensure_x10(
            "/root/testdata/sf0.01", copies=10
        ), 1012, 1016

    emb = load_table(spark, sf, "embeddings")
    head = _head_vectors(spark, sf, 8)
    cents = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in head]
    probed = with_ivf_cells_probed(emb, cents, n_probe=4, cell_col="__cell")
    got = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_pairs_in_cells(
            probed, 0.45, cell_col="__cell"
        ).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(_SEMANTIC_4PROBE_ORACLE).fetchall())
    assert got == want
    assert len(got) == want_pairs

    exact = {
        (a, b)
        for a, b in con.sql(
            """
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        )
        SELECT a.vec_id, b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE LIST_COSINE_SIMILARITY(a.emb, b.emb) >= 0.45
        """
        ).fetchall()
    }
    found = {(a, b) for a, b, _ in got}
    assert found <= exact, "multi-probe emitted a non-exact pair"
    assert len(exact) == want_exact
    assert len(found & exact) == want_pairs


def test_agg_salted_skew_matches_duckdb(spark, sf_dir):
    """Salted aggregation stays engine-vs-oracle checked after the r13
    rotation (its slot went to dedup_retraction; skew salting stays
    driver-gated via join_salted_skew — same operators/skew.py module)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.parity import (
        AGG_SALTED_SKEW_ORACLE,
        agg_salted_skew,
    )

    got = sorted(
        (r.l_returnflag, r.n_rows, r.sum_l_quantity, r.sum_l_extendedprice)
        for r in agg_salted_skew(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(AGG_SALTED_SKEW_ORACLE).fetchall())
    assert got == want and len(got) > 0


def test_pipeline_split_matches_duckdb(spark, sf_dir):
    """The train/val/test splitter stays engine-vs-oracle checked after
    the r13 rotation (its slot went to dedup_retraction; the md5-prefix
    uniform stays driver-gated via pipeline_mixture)."""
    import duckdb

    from bigdatastructure_a5_spark.queries.mixture_queries import (
        PIPELINE_SPLIT_ORACLE,
        pipeline_split,
    )

    got = sorted(
        (r.doc_id, r.source, r.split)
        for r in pipeline_split(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(PIPELINE_SPLIT_ORACLE).fetchall())
    assert got == want and len(got) > 0


def test_bench_steal_share_arithmetic():
    """r14: hypervisor CPU steal is the contamination loadavg cannot see
    (measured 2-75% of busy cycles on this box, minute to minute).  Pin
    the busy-relative arithmetic bench.py records and read_bench warns
    on: steal / (total - idle - iowait) between two /proc/stat
    snapshots, None when the counters are unavailable."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import _cpu_stat, _steal_pct

    #         user nice sys idle iow irq sirq steal
    a = [1000, 0, 100, 5000, 50, 10, 10, 20]
    b = [1800, 0, 180, 9000, 60, 15, 15, 120]
    # busy delta = (800+0+80+5+5+100) = 990; steal delta = 100
    assert _steal_pct(a, b) == round(100 * 100 / 990, 1)
    # idle-only interval: busy 0 -> None, not a division crash
    assert _steal_pct(a, [1000, 0, 100, 9000, 50, 10, 10, 20]) is None
    # missing counters (non-Linux /proc) -> None
    assert _steal_pct([], b) is None
    assert _steal_pct(a, b[:5]) is None
    # the live probe returns 8 jiffy counters on this box
    live = _cpu_stat()
    assert len(live) == 8 and all(v >= 0 for v in live)


def test_bench_steal_probe_generates_load():
    """r14: an IDLE steal probe always reads ~0 no matter how contended
    the host is (steal jiffies only accrue while the VM wants CPU), so
    bench.py's pre-timing gate must measure under a real parallel load.
    Run the live probe short and small and pin its contract: a float in
    [0, 100] (this box is Linux), and the probe actually burned CPU —
    the busy-jiffy delta across the window is non-trivial."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import _cpu_stat, _probe_steal

    a = _cpu_stat()
    pct = _probe_steal(seconds=0.5, procs=2)
    b = _cpu_stat()
    assert pct is None or 0.0 <= pct <= 100.0
    d = [y - x for x, y in zip(a, b)]
    busy = sum(d) - d[3] - d[4]
    # 2 procs x 0.5s ~ 100 jiffies of busy at USER_HZ=100; allow wide
    # margin for scheduling, but an idle probe (~0) must fail here
    assert busy >= 20


def test_bench_steal_retry_policy():
    """r14: the pre-timing probe cannot see a neighbor storm that starts
    MID-RUN (observed probe 0.3% -> 25.5% measured during the run), so a
    query whose winning rep was steal-contaminated gets bounded extra
    reps.  Pin the decision: retry only when the winner's own window
    exceeded the threshold, at most 2 extra per query, never past the
    global wall budget, and never when steal is unmeasurable (None)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import _needs_steal_retry

    # contaminated winner, budget available -> retry
    assert _needs_steal_retry(25.5, 0, 0.0, 5.0, 2, 120.0) is True
    # clean winner -> no retry
    assert _needs_steal_retry(1.2, 0, 0.0, 5.0, 2, 120.0) is False
    # at the threshold (not above) -> no retry
    assert _needs_steal_retry(5.0, 0, 0.0, 5.0, 2, 120.0) is False
    # per-query extra-rep cap reached -> stop even if still contaminated
    assert _needs_steal_retry(25.5, 2, 0.0, 5.0, 2, 120.0) is False
    # global wall budget exhausted -> stop
    assert _needs_steal_retry(25.5, 0, 120.0, 5.0, 2, 120.0) is False
    # off-Linux (steal unmeasurable) -> never retry
    assert _needs_steal_retry(None, 0, 0.0, 5.0, 2, 120.0) is False


def test_bench_winners_contaminated_count():
    """bench.py's top-level `winners_contaminated`: the number of queries
    whose winning rep's steal stayed above the threshold in force — a
    reader's one-glance answer to "which rows can I act on".  At the
    threshold is clean (the retry policy's comparison), and unmeasurable
    steal (None, off Linux) never counts."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import _winners_contaminated

    steal = {"a": 25.5, "b": 5.0, "c": 1.2, "d": None, "e": 5.1}
    assert _winners_contaminated(steal, 5.0) == 2
    assert _winners_contaminated(steal, 30.0) == 0
    assert _winners_contaminated({}, 5.0) == 0
