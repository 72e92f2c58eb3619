"""Correctness checks, run outside the timed region.

Registry operations are compared with their DuckDB oracle the way
``tools/check_correctness.py`` compares them -- same canonical cell
strings and the same on-disk oracle-answer cache, imported from there --
but by row count plus a digest of the sorted canonical rows.  The design
workload is checked by row count per (variant, query) against DuckDB
running the query on the base tables (``variant_sql``).
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import check_correctness as cc  # noqa: E402


def digest(canon_rows: list[str]) -> str:
    return hashlib.sha256("\n".join(canon_rows).encode()).hexdigest()


class Oracle:
    """DuckDB over the fixture directory; answers cached in ``cache_dir``."""

    def __init__(self, sf_dir: str, cache_dir: str):
        import duckdb

        from bigdatastructure_a5_spark.catalog import TABLES, table_path

        # check_correctness keeps its cache location in a module constant;
        # aim it inside the checkout so the benchmark writes nowhere else
        cc._ORACLE_CACHE_DIR = Path(cache_dir)
        Path(cache_dir).mkdir(parents=True, exist_ok=True)
        self.sf_dir = sf_dir
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        self.expected: dict[str, tuple[list[str], int, str]] = {}

    def prepare(self, names: list[str]) -> None:
        """Compute (or load) the oracle answer of every named registry row."""
        from bigdatastructure_a5_spark.registry import REGISTRY

        for name in names:
            cols, _types, n, canon, _cached = cc._run_oracle(
                self.con, self.sf_dir, REGISTRY[name].oracle, True
            )
            self.expected[name] = (sorted(cols), n, digest(canon))

    def verify(self, name: str, df) -> str | None:
        """None when ``df`` matches the oracle, else what differs."""
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        want_cols, want_n, want_digest = self.expected[name]
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} != {want_cols}"
        if len(rows) != want_n:
            return f"rows {len(rows)} != {want_n}"
        if digest(cc._canon_rows(cols, rows)) != want_digest:
            return "cell hash differs"
        return None

    def row_count(self, sql: str) -> int:
        return self.con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    def close(self) -> None:
        self.con.close()


def variant_sql(sql: str, spec) -> str:
    """The base-table SQL whose answer a variant's rewritten query must
    match.  A collection kept only as a one-embed (D2's ``part``) is read
    from its copies inside the embedding target, one per target row --
    unless the query also reads the target, where the embed covers the
    join and the base answer stands."""
    kept = {c.name for c in spec.collections}
    for e in spec.embeds:
        reads = lambda t: re.search(rf"\b(FROM|JOIN)\s+{t}\b", sql)  # noqa: E731
        if e.cardinality == "one" and e.source not in kept and not reads(e.target):
            copies = (
                f"(SELECT {e.source}.* FROM {e.target} JOIN {e.source} "
                f"ON {e.target}.{e.target_key} = {e.source}.{e.source_key})"
            )
            sql = re.sub(rf"\b(FROM|JOIN)\s+{e.source}\b", rf"\1 {copies}", sql)
    return sql


def verify_design(spark, oracle: Oracle, report, specs, queries, storage_dir: str, base) -> list[str]:
    """Re-read each stored variant, run its rewritten queries and compare
    the row counts with DuckDB's answer on the base tables."""
    sql = {q.id: q.sql for q in queries}
    spec = {s.id: s for s in specs}
    problems = []
    try:
        for row in report.rows:
            want = oracle.row_count(variant_sql(sql[row.query], spec[row.variant]))
            for coll in base:
                spark.catalog.dropTempView(coll)
            for coll_dir in (Path(storage_dir) / row.variant).iterdir():
                spark.read.parquet(str(coll_dir)).createOrReplaceTempView(coll_dir.name)
            got = spark.sql(row.rewritten_sql).count()
            if got != want:
                problems.append(f"{row.variant}:{row.query} rows {got} != {want}")
    finally:
        for coll, df in base.items():
            df.createOrReplaceTempView(coll)
    return problems
