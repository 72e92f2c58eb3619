"""Local mimic of the driver's DuckDB-oracle correctness gate.

Runs every registry query on Spark and its oracle on DuckDB over the same
parquet fixtures, then compares row count, sorted column names, and the
order-insensitive multiset of stringified row values (a stricter stand-in for
the driver's value hash: exact string equality per cell).

Usage:  python tools/check_correctness.py [--jobs=N] [sf_dir] [query ...]

``--jobs`` (default 4) runs the per-query checks in a thread pool — Spark
job submission is thread-safe, each check's oracle runs on its own DuckDB
cursor, and only the two real Structured Streaming queries are held back
to a serial tail (SERIAL_QUERIES: they scope session-global conf around
their start() call).  ``--jobs=1`` restores strictly sequential order.

``sf_dir`` may also be ``x<N>`` or ``x<N>:<base_dir>`` (default base
/root/testdata/sf0.01): the gate then runs on a synthetic Nx fixture set
built by tools/scale_fixtures.py — same table names, Nx the fact rows
with key-consistent copies — so every query family is oracle-checked at
scale (VERDICT r4 item 4 asked for x10; x100 works too), with Spark and
DuckDB still reading identical parquet.

Above x10 the four LIFTABLE pair-oracle queries swap their registered
DuckDB oracle for the exact lifted form (tools/lifted_oracles.py): the Nx
construction makes every document an N-way exact-duplicate group, so the
registered oracles' shingle joins explode as copies^2 — the lifted oracle
computes the base-level answer once and lifts it arithmetically, linear
in the copy count, returning the identical rows (validated vs the full
oracles at x10 by tests/test_tools.py).  `dedup_semantic` is not
liftable (rotated copies change the fold order, breaking bit-exactness)
and runs its registered within-cell all-pairs oracle in full — the same
complexity class as the operator itself.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import re
import sys
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bigdatastructure_a5_spark.catalog import TABLES, table_path
from bigdatastructure_a5_spark.registry import REGISTRY, _load_all
from bigdatastructure_a5_spark.session import get_spark


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)  # full precision — catches last-ulp drift
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon_cell(r[i]) for i in order) for r in rows)


#: Oracles that enumerate duplicate PAIRS: under the xN construction every
#: doc sits in an N-way exact-dup group, so the registered oracle side
#: alone is O(N^2) per group.  Checked in full at x10; above that the four
#: text-family members run the exact LIFTED oracle (tools/lifted_oracles)
#: instead, and dedup_semantic runs its registered oracle in full (the
#: within-cell pair set inherits all-pairs' complexity class per cell).
#: Naming one of these explicitly on the command line FORCES the full
#: registered oracle even above x10 (the escape hatch ADVICE r6 asked to
#: restore) — expect quadratic oracle cost in that mode.
PAIR_ORACLE_QUERIES = {
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_semantic",
    "pipeline_curation",
}

#: DuckDB-side result cache (VERDICT r6 item 7): the oracle answer is a pure
#: function of (fixture dir, oracle SQL).  ensure_x10 dirs are already
#: content-addressed (source sizes/mtimes + generator bytes in the name), so
#: the dir path itself is a sound fingerprint; /root/testdata is driver-
#: frozen.  Cached entries store the post-canonicalization form (cols, type
#: kinds, sorted row strings) — exactly what the compare consumes.
_ORACLE_CACHE_DIR = Path("/tmp/bds_oracle_cache")


def _cache_schema_version() -> str:
    """Version tag folded into every cache key (ADVICE r7): entries store
    POST-canonicalization rows, so a change to _canon_rows — or a DuckDB
    upgrade that changes value rendering — must invalidate them, else stale
    /tmp entries get compared against freshly-canonicalized Spark rows and
    produce spurious verdicts with no hint the cache is the cause."""
    import inspect

    src = inspect.getsource(_canon_rows)
    return hashlib.sha256(
        f"{duckdb.__version__}\x00{src}".encode()
    ).hexdigest()[:12]


_CACHE_SCHEMA_VERSION = _cache_schema_version()


def _oracle_cache_path(sf_dir: str, oracle_sql: str) -> Path:
    key = hashlib.sha256(
        f"{_CACHE_SCHEMA_VERSION}\x00{sf_dir}\x00{oracle_sql}".encode()
    ).hexdigest()[:24]
    return _ORACLE_CACHE_DIR / f"{key}.json.gz"


def _run_oracle(con, sf_dir: str, oracle_sql: str, use_cache: bool):
    """-> (cols, typestrs, n_rows, canon_rows); cached per (fixture, SQL)."""
    cpath = _oracle_cache_path(sf_dir, oracle_sql)
    if use_cache and cpath.exists():
        with gzip.open(cpath, "rt") as f:
            d = json.load(f)
        return d["cols"], d["types"], d["n"], d["canon"], True
    rel = con.sql(oracle_sql)
    cols = list(rel.columns)
    typestrs = [str(t) for t in rel.types]
    rows = rel.fetchall()
    canon = _canon_rows(cols, rows)
    if use_cache:
        _ORACLE_CACHE_DIR.mkdir(exist_ok=True)
        # tmp name unique PER WRITER, not per key: two registry queries can
        # share an identical oracle SQL (dedup_ngram_jaccard and
        # dedup_minhash_lsh lift to the same pair-set SQL), so under the
        # --jobs pool two threads race the same cache key — with a shared
        # tmp path the loser's replace() hits ENOENT.  Distinct tmp files +
        # atomic replace make the race benign (identical content, last wins).
        fd, tmp_name = tempfile.mkstemp(
            dir=_ORACLE_CACHE_DIR, prefix=cpath.stem, suffix=".tmp"
        )
        with gzip.open(os.fdopen(fd, "wb"), "wt") as f:
            json.dump(
                {"cols": cols, "types": typestrs, "n": len(rows), "canon": canon},
                f,
            )
        Path(tmp_name).replace(cpath)
    return cols, typestrs, len(rows), canon, False


#: Queries that must run OUTSIDE the worker pool: the two real Structured
#: Streaming runs mutate session-global conf (run_stream_to_memory scopes
#: spark.sql.shuffle.partitions around its start() call) — a concurrent
#: batch query could compile against the temporary value, and two streaming
#: runs would race the save/restore itself.  Everything else in the
#: registry is pool-safe: Spark job submission is thread-safe, DuckDB gets
#: a cursor per check, and no registry row keeps state from one call to
#: the next.
SERIAL_QUERIES = {
    "events_streaming_rollup",
    "events_streaming_interval_join",
    # pack_assembly_incremental left this set in r14: its stream now runs
    # on an isolated spark.newSession() with the 8-partition override
    # scoped to that session, so it no longer races the shared conf
}


def main() -> int:
    argv = list(sys.argv[1:])
    jobs = 4
    for a in list(argv):
        if a.startswith("--jobs="):
            jobs = max(1, int(a.split("=", 1)[1]))
            argv.remove(a)
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    lifted: dict[str, str] = {}
    m = re.fullmatch(r"x(\d+)(?::(.*))?", sf_dir)
    if m:
        from scale_fixtures import ensure_x10

        copies = int(m.group(1))
        base = m.group(2) or "/root/testdata/sf0.01"
        sf_dir = ensure_x10(base, copies=copies)
        print(f"x{copies} fixtures: {sf_dir}")
        if copies > 10:
            from lifted_oracles import lifted_oracles

            lifted = lifted_oracles(copies)
            if only:
                forced = sorted(only & set(lifted))
                for n in forced:
                    del lifted[n]
                if forced:
                    print(
                        "explicit selection forces the FULL registered "
                        f"oracle (quadratic) for: {', '.join(forced)}"
                    )
            if lifted:
                print(
                    f"lifted oracles (linear in copies) for: "
                    f"{', '.join(sorted(lifted))}"
                )

    _load_all()
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # xN fixture dirs are content-addressed by ensure_x10, so oracle answers
    # there are safely cacheable; driver-frozen /root/testdata dirs are not
    # content-addressed and stay uncached (they're fast anyway).
    use_cache = "/tmp/bds_x" in sf_dir
    oracle_pool = ThreadPoolExecutor(max_workers=max(jobs, 1))
    print_lock = threading.Lock()
    failures = []

    def _kind(t: str, duck: bool = False) -> str:
        # dtype kinds must align too (the driver checks schema, not just
        # names): compare via arrow-ish buckets int/float/str/ts/bool.
        # Oracle-side types Spark cannot emit (HUGEINT from SUM-window
        # promotion, unsigned ints) are NOT bucketed — they FAIL, because
        # the driver's value hash distinguishes the physical type even
        # when the stringified values match (the pack_chunks r9/r10 red:
        # two rounds invisible locally because hugeint bucketed to int).
        t = t.lower()
        if duck:
            for bad in (
                "uhugeint", "hugeint",
                "utinyint", "usmallint", "uinteger", "ubigint",
            ):
                if bad in t:
                    return f"non-spark-native({bad})"
        for k in ("int", "long", "short", "byte"):
            if k in t:
                return "int"
        for k in ("double", "float", "decimal", "real"):
            if k in t:
                return "float"
        if "bool" in t:
            return "bool"
        if "timestamp" in t or "date" in t:
            return "temporal"
        return "str"

    def check_one(name, qd) -> None:
        oracle_sql = lifted.get(name, qd.oracle) if qd.oracle else None
        # a cursor per check: DuckDB connections are one-thread-at-a-time;
        # cursors share the root connection's view catalog
        duck_fut = (
            oracle_pool.submit(
                _run_oracle, con.cursor(), sf_dir, oracle_sql, use_cache
            )
            if oracle_sql
            else None
        )
        try:
            sdf = qd.builder(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            with print_lock:
                failures.append(name)
                print(f"FAIL  {name}: spark error: {e}")
            if duck_fut:
                duck_fut.cancel()
            return
        if qd.oracle is None:
            with print_lock:
                print(
                    f"ok*   {name}: rows={len(s_rows)} "
                    "(no oracle — rows-only check)"
                )
                if not s_rows:
                    failures.append(name)
                    print(f"FAIL  {name}: empty result")
            return
        try:
            d_cols, d_typestrs, d_n, d_canon, cached = duck_fut.result()
        except Exception as e:  # noqa: BLE001
            with print_lock:
                failures.append(name)
                print(f"FAIL  {name}: duckdb error: {e}")
            return

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        else:
            s_types = {c: _kind(t) for c, t in sdf.dtypes}
            d_types = {c: _kind(t, duck=True) for c, t in zip(d_cols, d_typestrs)}
            for c in s_types:
                if s_types[c] != d_types.get(c, s_types[c]):
                    problems.append(
                        f"dtype[{c}] spark={s_types[c]} duck={d_types[c]}"
                    )
        if len(s_rows) != d_n:
            problems.append(f"rowcount spark={len(s_rows)} duck={d_n}")
        if not problems:
            sc, dc = _canon_rows(s_cols, s_rows), d_canon
            if sc != dc:
                diff = next(
                    (i for i, (a, b) in enumerate(zip(sc, dc)) if a != b), None
                )
                problems.append(
                    f"values differ (first at sorted-row {diff}):\n"
                    f"    spark: {sc[diff][:200] if diff is not None else '?'}\n"
                    f"    duck : {dc[diff][:200] if diff is not None else '?'}"
                )
        if len(s_rows) == 0:
            problems.append("empty result (driver wants >= 1 row)")
        with print_lock:
            if problems:
                failures.append(name)
                print(f"FAIL  {name}: " + "; ".join(problems))
            else:
                tag = " (lifted oracle)" if name in lifted else ""
                tag += " (cached oracle)" if cached else ""
                print(f"ok    {name}: rows={len(s_rows)} hash-match{tag}")

    selected = [
        (name, qd)
        for name, qd in sorted(REGISTRY.items())
        if not only or name in only
    ]
    pooled = [(n, q) for n, q in selected if n not in SERIAL_QUERIES]
    serial = [(n, q) for n, q in selected if n in SERIAL_QUERIES]
    if jobs > 1 and len(pooled) > 1:
        with ThreadPoolExecutor(max_workers=jobs) as query_pool:
            for fut in [query_pool.submit(check_one, n, q) for n, q in pooled]:
                fut.result()
    else:
        for n, q in pooled:
            check_one(n, q)
    for n, q in serial:
        check_one(n, q)

    unknown = sorted(only - set(REGISTRY))
    if unknown:
        print(f"FAIL  unknown query name(s): {unknown}")
        failures.extend(unknown)
    ran = len([n for n in REGISTRY if not only or n in only])
    print(f"\n{ran - len(set(failures) - set(unknown))}/{ran} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
