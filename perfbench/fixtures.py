"""Deterministic fixture generator for the benchmark.

Writes the ten tables the engine's registry reads (``catalog.TABLES``) as
single parquet files, with the schemas, value domains and cardinality
ratios of the TPC-H-style fixtures the engine is gated on: uniform keys,
25 ``Brand#N`` brands, 5 event types, a 30-word document vocabulary with
5% near-duplicate and 1% exact-duplicate documents, and unit-norm 64-d
embeddings with 10 weakly clustered labels.

The data depends only on ``scale`` and a fixed data seed, never on the
benchmark's ``--seed``: every run of the benchmark reads the same tables,
so their DuckDB oracle answers are computed once per checkout and the
run-to-run spread measures the engine, not the data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: Fact-table scale relative to TPC-H SF1 (lineitem = 6M x scale rows).
SCALE = 0.01

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
N_BRANDS = 25
EMBED_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n) * np.timedelta64(86_400_000_000, "us")


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    text = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    copies = rng.permutation(n)[: n * 6 // 100]
    for j, i in enumerate(copies):
        src = int(rng.integers(0, n))
        if src != i:
            # the first sixth are exact copies, the rest near-duplicates
            text[i] = text[src] if j < len(copies) // 6 else text[src] + " dup"
    lang = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), n, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    ]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in text], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    v = rng.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM) + 0.3 * centers[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def tables(scale: float = SCALE, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Build every fixture table in memory; same (scale, seed) -> same bytes."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(int(15_000 * scale), 10)
    n_docs = max(int(50_000 * scale), 500)
    n_vecs = max(int(20_000 * scale), 500)
    i32 = np.int32
    out = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype=i32) % 5,
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": _money(rng, -1000, 10000, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": _money(rng, -1000, 10000, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        _pick(rng, ADJECTIVES, n_part), _pick(rng, NOUNS, n_part)
                    )
                ],
                "p_brand": [
                    f"Brand#{b}" for b in rng.integers(1, N_BRANDS + 1, n_part)
                ],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(
                    900 + (np.arange(n_part) % 1000) * 0.1, 1
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000, 500000, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105000, n_li),
                "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
                "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
                "l_linestatus": _pick(rng, ("F", "O"), n_li),
                "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                # distinct, sorted microsecond stamps over 30 days
                "ts": np.datetime64("2024-01-01", "us")
                + np.sort(
                    rng.choice(30 * 86_400_000_000, n_ev, replace=False)
                ).astype("timedelta64[us]"),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": pa.table(_documents(rng, n_docs)),
        "embeddings": _embeddings(rng, n_vecs),
    }
    return out


def ensure_fixtures(root: str, scale: float = SCALE) -> str:
    """Return ``root/sf<scale>``, writing the tables there first if absent.

    Written into a sibling work directory and renamed into place, so an
    interrupted write never leaves a half-populated fixture directory."""
    final = os.path.join(root, f"sf{scale:g}")
    if os.path.isfile(os.path.join(final, "_READY")):
        return final
    work = f"{final}.build-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    for name, table in tables(scale).items():
        pq.write_table(table, os.path.join(work, f"{name}.parquet"))
    open(os.path.join(work, "_READY"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(work, final)
    return final
