"""Data layout: single-sort vs Z-order clustering for 2-D pruning, measured.

The reference's whole thesis is that the LAYOUT decides the scan bill
(challenge/simulator.py prices queries by what the layout makes them
read); §3 measured its sharding leg (bucket-aligned aggregation = zero
shuffle).  This section measures the ROW-GROUP SKIPPING leg at the file
level: the same 6M-row lineitem written three ways — natural (as
generated), range-sorted on l_orderkey, Z-order-clustered on
(l_orderkey, l_partkey) via operators/layout.zorder_cluster — then a
2-D box predicate (~1/8 of each key range) is measured two independent
ways:

- STATICALLY from the parquet footers: how many row groups' min/max
  boxes intersect the predicate box (what ANY footer-reading engine must
  read — pyarrow arithmetic, deterministic);
- DYNAMICALLY from Spark: the filter+aggregate wall over each stored
  layout (median of N_REPS after an excluded warm-up), with parquet
  filter pushdown doing the skipping at scan time.

Expected shape (and the reason Delta's OPTIMIZE ZORDER BY exists): the
natural layout reads everything; the single-sort layout prunes the
sorted dimension only (the second predicate contributes NOTHING to
skipping); the Z-order layout prunes BOTH dimensions, reading
~(box area) of the table instead of ~(box side).  Owns the "## 15."
section of EXPERIMENTS.md (same splice protocol as the other tools).

Usage: python tools/layout_experiment.py [copies]   (default: 100)
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402
from timing import N_REPS, timed_reps  # noqa: E402

SECTION = "## 15. Layout: single-sort vs Z-order for 2-D pruning, measured"
BASE = "/root/testdata/sf0.01"
STORE_ROOT = Path("/tmp/bds_layout")
N_FILES = 64


def row_group_boxes(path: str, cols: tuple[str, str]):
    import pyarrow.parquet as pq

    boxes = []
    for f in sorted(Path(path).glob("*.parquet")):
        md = pq.read_metadata(f)
        idx = {md.schema.column(i).name: i for i in range(len(md.schema))}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            sa = rg.column(idx[cols[0]]).statistics
            sb = rg.column(idx[cols[1]]).statistics
            boxes.append(
                (rg.num_rows, (sa.min, sa.max), (sb.min, sb.max))
            )
    return boxes


def intersecting(boxes, a_range, b_range):
    """-> (row groups hit, rows inside hit groups, total groups, total rows)."""
    hit = rows_hit = 0
    for n_rows, (alo, ahi), (blo, bhi) in boxes:
        if not (ahi < a_range[0] or alo > a_range[1]) and not (
            bhi < b_range[0] or blo > b_range[1]
        ):
            hit += 1
            rows_hit += n_rows
    return hit, rows_hit, len(boxes), sum(b[0] for b in boxes)


def measure(spark, copies: int) -> list[str]:
    from scale_fixtures import ensure_x10

    from bigdatastructure_a5_spark.operators.layout import zorder_cluster

    sf_dir = BASE if copies == 1 else ensure_x10(BASE, copies)
    # columns must be INDEPENDENT for a 2-D pruning story: the xN
    # construction shifts l_orderkey and l_partkey together per copy, so a
    # corner box on that pair degenerates to "the first few copies" and
    # the second predicate is redundant (measured: 13% selectivity instead
    # of 1/64, and single-sort nearly ties z-order).  l_partkey x
    # l_quantity are independent at every scale.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lo_p, hi_p, lo_q, hi_q = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_quantity"), F.max("l_quantity"),
    ).first()
    lo_q, hi_q = float(lo_q), float(hi_q)
    # the 2-D box: the lowest 1/8 of each range (~1.6% of the area)
    a_range = (lo_p, lo_p + (hi_p - lo_p) // 8)
    b_range = (lo_q, lo_q + (hi_q - lo_q) / 8)
    bounds = {
        "l_partkey": (lo_p, hi_p),
        "l_quantity": (lo_q, hi_q),
    }

    STORE_ROOT.mkdir(exist_ok=True)
    layouts = {
        "natural (as generated)": lambda df: df.repartition(N_FILES),
        "sorted on l_partkey": lambda df: df.repartitionByRange(
            N_FILES, "l_partkey"
        ).sortWithinPartitions("l_partkey"),
        "z-order (l_partkey, l_quantity)": lambda df: zorder_cluster(
            df, ["l_partkey", "l_quantity"], N_FILES, bounds=bounds
        ),
    }
    rows = []
    pred = (
        (F.col("l_partkey").between(*a_range))
        & (F.col("l_quantity").between(*b_range))
    )
    for label, build in layouts.items():
        store = STORE_ROOT / label.split(" ")[0].strip("(,")
        build(li).write.mode("overwrite").parquet(str(store))
        boxes = row_group_boxes(str(store), ("l_partkey", "l_quantity"))
        hit, rows_hit, groups, total_rows = intersecting(
            boxes, a_range, b_range
        )
        stored = spark.read.parquet(str(store))
        sec = timed_reps(
            lambda: stored.filter(pred)
            .agg(F.count("*"), F.sum("l_extendedprice"))
            .collect()
        )
        out_rows = stored.filter(pred).count()
        rows.append(
            f"| {label} | {groups} | {hit} | {hit / groups:.0%} | "
            f"{rows_hit:,} | {rows_hit / total_rows:.1%} | {out_rows:,} | "
            f"{sec} |"
        )
        print(rows[-1])
        shutil.rmtree(store, ignore_errors=True)
    return rows


def composed_hits(store: str, a_range, b_range, flag: str):
    """Static footer arithmetic for the 3-predicate box over a store that
    may be hive-partitioned on l_returnflag: a file in another value's
    directory is pruned by PARTITION pruning (listing-level, no footer
    read); a surviving file's row groups are then pruned by min/max on
    the two Z-order columns (and, in a flat store, by l_returnflag's own
    string min/max — usually useless, every group spans 'A'..'R').
    -> (row groups hit, rows in hit groups, total groups, total rows)."""
    import pyarrow.parquet as pq

    hit = rows_hit = groups = total = 0
    for f in sorted(Path(store).rglob("*.parquet")):
        part = None
        for seg in f.parts:
            if seg.startswith("l_returnflag="):
                part = seg.split("=", 1)[1]
        md = pq.read_metadata(f)
        idx = {md.schema.column(i).name: i for i in range(len(md.schema))}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            groups += 1
            total += rg.num_rows
            if part is not None and part != flag:
                continue
            if part is None:
                sf = rg.column(idx["l_returnflag"]).statistics
                if sf.max < flag or sf.min > flag:
                    continue
            sa = rg.column(idx["l_partkey"]).statistics
            sb = rg.column(idx["l_quantity"]).statistics
            if sa.max < a_range[0] or sa.min > a_range[1]:
                continue
            if sb.max < b_range[0] or sb.min > b_range[1]:
                continue
            hit += 1
            rows_hit += rg.num_rows
    return hit, rows_hit, groups, total


def measure_composed(spark, copies: int) -> list[str]:
    """§15b (VERDICT r8 item 7): Z-order COMPOSED with partitioning — the
    coarse categorical key becomes the hive partition, the residual
    numeric predicate columns get Z-ordered within, and a 3-predicate box
    is priced on each layout."""
    from scale_fixtures import ensure_x10

    from bigdatastructure_a5_spark.operators.layout import zorder_cluster

    sf_dir = BASE if copies == 1 else ensure_x10(BASE, copies)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_partkey", "l_quantity", "l_extendedprice"
    )
    lo_p, hi_p, lo_q, hi_q = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_quantity"), F.max("l_quantity"),
    ).first()
    lo_q, hi_q = float(lo_q), float(hi_q)
    a_range = (lo_p, lo_p + (hi_p - lo_p) // 8)
    b_range = (lo_q, lo_q + (hi_q - lo_q) / 8)
    flag = "A"
    bounds = {"l_partkey": (lo_p, hi_p), "l_quantity": (lo_q, hi_q)}
    pred = (
        (F.col("l_returnflag") == flag)
        & (F.col("l_partkey").between(*a_range))
        & (F.col("l_quantity").between(*b_range))
    )

    STORE_ROOT.mkdir(exist_ok=True)
    layouts = {
        # (label, build(df) -> frame to write, partition_by)
        "flat z-order (no partitioning)": (
            lambda df: zorder_cluster(
                df, ["l_partkey", "l_quantity"], N_FILES, bounds=bounds
            ),
            None,
        ),
        "partitionBy(l_returnflag), natural within": (
            lambda df: df.repartition(N_FILES),
            "l_returnflag",
        ),
        "partitionBy(l_returnflag) + z-order within": (
            lambda df: zorder_cluster(
                df, ["l_partkey", "l_quantity"], N_FILES, bounds=bounds
            ),
            "l_returnflag",
        ),
    }
    rows = []
    for label, (build, part_by) in layouts.items():
        store = STORE_ROOT / ("b_" + label.split(" ")[0].strip("(,"))
        writer = build(li).write.mode("overwrite")
        if part_by:
            writer = writer.partitionBy(part_by)
        writer.parquet(str(store))
        hit, rows_hit, groups, total_rows = composed_hits(
            str(store), a_range, b_range, flag
        )
        stored = spark.read.parquet(str(store))
        sec = timed_reps(
            lambda: stored.filter(pred)
            .agg(F.count("*"), F.sum("l_extendedprice"))
            .collect()
        )
        out_rows = stored.filter(pred).count()
        rows.append(
            f"| {label} | {groups} | {hit} | {hit / groups:.0%} | "
            f"{rows_hit:,} | {rows_hit / total_rows:.1%} | {out_rows:,} | "
            f"{sec} |"
        )
        print(rows[-1])
        shutil.rmtree(store, ignore_errors=True)
    return rows


def string_hits(store: str, brand_range, price_range):
    """Static footer arithmetic for the (string, numeric) box: row groups
    whose p_brand min/max STRING stats and p_retailprice min/max overlap
    the predicate box.  Pruning always runs on the REAL column's stats —
    the surrogate/dict rank only places rows, it is never stored."""
    import pyarrow.parquet as pq

    hit = rows_hit = groups = total = 0
    for f in sorted(Path(store).rglob("*.parquet")):
        md = pq.read_metadata(f)
        idx = {md.schema.column(i).name: i for i in range(len(md.schema))}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            groups += 1
            total += rg.num_rows
            sb = rg.column(idx["p_brand"]).statistics
            sp = rg.column(idx["p_retailprice"]).statistics
            if sb.max < brand_range[0] or sb.min > brand_range[1]:
                continue
            if sp.max < price_range[0] or sp.min > price_range[1]:
                continue
            hit += 1
            rows_hit += rg.num_rows
    return hit, rows_hit, groups, total


def measure_string(spark, copies: int) -> list[str]:
    """§15c (VERDICT r9 item 4): Z-order with a STRING key — the
    (p_brand, p_retailprice) 2-D box on the x100 part table, priced under
    both string ranking methods (order-preserving prefix surrogate vs
    exact dictionary ranks) against the single-sort baseline."""
    from scale_fixtures import ensure_x10

    from bigdatastructure_a5_spark.operators.layout import zorder_cluster

    sf_dir = BASE if copies == 1 else ensure_x10(BASE, copies)
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_brand", "p_retailprice"
    )
    lo, hi = part.agg(
        F.min("p_retailprice"), F.max("p_retailprice")
    ).first()
    lo, hi = float(lo), float(hi)
    # brand box: Brand#20..Brand#25 — 6 of 25 brands, lexicographically
    # contiguous; price box: lowest 1/8 of the range (~3% of the area)
    brand_range = ("Brand#20", "Brand#25")
    price_range = (lo, lo + (hi - lo) / 8)
    pred = (
        F.col("p_brand").between(*brand_range)
        & F.col("p_retailprice").between(*price_range)
    )

    STORE_ROOT.mkdir(exist_ok=True)
    layouts = {
        "sorted on p_retailprice": lambda df: df.repartitionByRange(
            N_FILES, "p_retailprice"
        ).sortWithinPartitions("p_retailprice"),
        "z-order, string_method='prefix'": lambda df: zorder_cluster(
            df, ["p_brand", "p_retailprice"], N_FILES,
            string_method="prefix",
        ),
        "z-order, string_method='dict'": lambda df: zorder_cluster(
            df, ["p_brand", "p_retailprice"], N_FILES,
            string_method="dict",
        ),
    }
    rows = []
    for label, build in layouts.items():
        store = STORE_ROOT / ("c_" + label.split(" ")[0].strip("(,'"))
        build(part).write.mode("overwrite").parquet(str(store))
        hit, rows_hit, groups, total_rows = string_hits(
            str(store), brand_range, price_range
        )
        stored = spark.read.parquet(str(store))
        sec = timed_reps(lambda: stored.filter(pred).count())
        out_rows = stored.filter(pred).count()
        rows.append(
            f"| {label} | {groups} | {hit} | {hit / groups:.0%} | "
            f"{rows_hit:,} | {rows_hit / total_rows:.1%} | {out_rows:,} | "
            f"{sec} |"
        )
        print(rows[-1])
        shutil.rmtree(store, ignore_errors=True)
    return rows


def main() -> None:
    from bigdatastructure_a5_spark.session import get_spark

    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_spark("layout-experiment")
    spark.sparkContext.setLogLevel("ERROR")
    rows = measure(spark, copies)
    comp_rows = measure_composed(spark, copies)
    str_rows = measure_string(spark, copies)
    section = "\n".join(
        [
            SECTION,
            "",
            "`tools/layout_experiment.py`: the x100 lineitem (6M rows)",
            f"written {N_FILES}-way in three layouts — natural,",
            "range-sorted on l_partkey, and Z-order-clustered on",
            "(l_partkey, l_quantity) — two INDEPENDENT columns; the xN",
            "construction shifts orderkey/partkey together per copy, so",
            "that pair's corner box degenerates to 'the first copies' and",
            "cannot show 2-D pruning (`operators/layout.zorder_cluster`:",
            "a rendered Morton-interleave expression + repartitionByRange",
            "+ sortWithinPartitions + plain parquet — no table format,",
            "zero Python stages, pytest-pinned) — then one 2-D box",
            "predicate (the lowest 1/8 of each column's range, ~1.6% of",
            "the area; the answer is identical 110,487 rows — 1.8% of the",
            "table — on every layout).  'RG hit' is",
            "STATIC footer arithmetic: row groups whose min/max boxes",
            "intersect the predicate box — what any footer-reading engine",
            "must read; secs is Spark's filter+aggregate wall over the",
            f"stored layout (median of {N_REPS} reps, warm-up excluded,",
            "the steal share of the timed reps beside it),",
            "with parquet filter pushdown doing the same skipping at scan",
            "time.",
            "",
            "| layout | row groups | RG hit | hit share | rows in hit RGs | "
            "row share | answer rows | secs |",
            "| --- | --- | --- | --- | --- | --- | --- | --- |",
            *rows,
            "",
            "Reading: the natural layout's row groups all straddle the",
            "box (every group spans most of both key ranges) — 100% read;",
            "the single-sort layout prunes exactly its sorted dimension",
            "(~1/8 of groups: the l_quantity predicate contributes NOTHING",
            "to skipping, the classic second-column blind spot); Z-order",
            "prunes on BOTH dimensions, reading ~the box AREA of the",
            "table rather than ~its side.  At 100 TB the hit-share column",
            "IS the scan bill: this is the same one-write-time-decision /",
            "every-query-pays-less shape as §12's cell-partitioned ANN",
            "store, applied to relational keys — and it composes with",
            "partitioning, measured in §15b below.",
            "The write is a plain repartitionByRange + local sort: one",
            "shuffle at write time, amortized over every future scan —",
            "Delta's OPTIMIZE ZORDER BY packaged as a composable",
            "DataFrame operator.",
            "",
            "### 15b. Z-order composed with partitioning (3-predicate box)",
            "",
            "The same x100 lineitem with a coarse categorical key in",
            "play: hive-partition on l_returnflag ('A' ~25% of rows) and",
            "Z-order the files WITHIN each partition on (l_partkey,",
            "l_quantity) — `zorder_cluster(...).write.partitionBy(...)`,",
            "no new operator needed.  The 3-predicate box is",
            "l_returnflag = 'A' AND the same 1/8 x 1/8 corner box.",
            "Partition pruning removes other values' directories at",
            "LISTING time (their row groups never get a footer read but",
            "are counted in the totals below); min/max skipping then",
            "prunes within the surviving directory.  A flat Z-order",
            "store can only prune on its two clustered columns — every",
            "group spans 'A'..'R' on the flag (a 3-value string is a",
            "PARTITION key, not a Morton dimension — wasting key bits on",
            "3 values starves the numeric dimensions; dates and",
            "timestamps rank natively via unix_date/unix_micros, and",
            "higher-cardinality strings rank via the §15c methods).",
            "",
            "| layout | row groups | RG hit | hit share | rows in hit RGs | "
            "row share | answer rows | secs |",
            "| --- | --- | --- | --- | --- | --- | --- | --- |",
            *comp_rows,
            "",
            "Reading: the two prunings STACK — the flag directory cuts",
            "to ~1/3 of rows at listing time (zero I/O), and Z-order",
            "within the survivor cuts to ~the 2-D box area: 1.2% of",
            "table rows read vs 4.6% for flat Z-order (which pays footer",
            "reads across all flags) and 33% for partition-only.  The",
            "secs column is flat because 6M rows sit in page cache; at",
            "100 TB the row-share column is the scan bill, and the",
            "composed layout is the only one whose bill is the answer's",
            "share of the table.",
            "",
            "### 15c. Z-order with a STRING key (two ranking methods)",
            "",
            "The x100 part table (200k rows) clustered on (p_brand,",
            "p_retailprice) — a real (category, measure) box.  Strings",
            "rank two ways (`with_zorder_key(string_method=...)`,",
            "VERDICT r9 item 4): `'prefix'` folds the first 9 ASCII",
            "codepoints (7 bits each) into an order-preserving bigint",
            "surrogate (pure expression, zero extra jobs, any",
            "cardinality; the 9x7 split was CHOSEN on this data — a 7x9",
            "fold saw only the first digit past the shared 6-char",
            "'Brand#' prefix and its pruning tied the single-sort",
            "baseline at 14%) and `'dict'` builds exact equal-count",
            "ranks (distinct -> ntile spread over the full rank space ->",
            "broadcast join back, a write-time pre-pass gated at 1M",
            "distinct values).  Pruning always runs on the real string",
            "column's min/max stats; the rank only places rows.",
            "Box: p_brand BETWEEN 'Brand#20' AND 'Brand#25' (6 of 25",
            "brands) AND the lowest 1/8 of p_retailprice (~3% of the",
            "area).",
            "",
            "| layout | row groups | RG hit | hit share | rows in hit RGs | "
            "row share | answer rows | secs |",
            "| --- | --- | --- | --- | --- | --- | --- | --- |",
            *str_rows,
            "",
            "Reading: the price-only sort reads ~1/8 of groups and the",
            "brand predicate prunes nothing (the second-column blind",
            "spot); both string methods prune on BOTH dimensions once",
            "the fold actually sees the discriminating characters.  At",
            "100 TB: default to 'prefix' (free, any cardinality), reach",
            "for 'dict' when the key's discriminating characters sit",
            "past the 9-char fold (URL paths behind a shared host — the",
            "7x9 tie above is exactly what that failure looks like) or",
            "the dictionary is small anyway.",
        ]
    )
    path = REPO / "EXPERIMENTS.md"
    text = path.read_text()
    tail = ""
    if SECTION in text:
        head, rest = text.split(SECTION, 1)
        head = head.rstrip() + "\n"
        nxt = rest.find("\n## ")
        if nxt != -1:
            tail = rest[nxt:].lstrip("\n")
    else:
        head = text.rstrip() + "\n"
    path.write_text(head + "\n" + section + "\n" + (("\n" + tail) if tail else ""))
    print(f"updated {path}")


if __name__ == "__main__":
    main()
