"""The reference's QuerySimulator (Q1-Q5 cost CLI), executed for real.

Reference surface (`/root/reference/query_simulator/runner.py:75-96`,
`main.py --db DB1`): estimate time/carbon/price for five fixed queries —
Q1 targeted stock lookup, Q2 brand filter, Q3 date filter, Q4 brand x
stock join, Q5 orders x product x client join — over the Product/Stock/
OrderLine/Client/Warehouse schema, from hardcoded statistics
(`query_simulator/config.py:17-30`) and per-component selectivity
constants (`query_simulator/queries.py`), emitting a text report or
``--json``.

This analogue keeps the CLI surface (``--db``, ``--json``) and the report
shape, but answers with EXECUTION instead of a model: a corpus matching
the reference's statistics is generated (scaled), written as parquet, the
five queries run on Spark, and the MEASURED scan/shuffle bytes are priced
with the reference's exact constants (plans/metrics.py).  Selectivities
are therefore what the data actually yields (uniform 1/NDV per the
generator) rather than the reference's assumed constants — e.g. Q2
matches ~1/min(5000, nb_products) of products, where the reference
assumes 50/10^5.

The ``--db`` signature (DB1-DB5) goes FURTHER than the reference: where
the reference ships identical per-signature size tables (`config.py:79-90`)
and so prices every signature the same, here each signature materializes
the actual layout its schema file describes (`schemas/db{1..5}.json` —
normalized; Product+stocks array; Stock+product struct; OrderLine+product
struct; Product+orderLines array) via the denormalization workbench, and
each query runs in its layout-routed form (embed-covered joins collapse to
struct/array reads — the O14/O15 rewrite).  The measured report therefore
actually answers the signature-selection question the assignment poses.
"""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import SparkSession

from bigdatastructure_a5_spark.catalog import read_parquet
from bigdatastructure_a5_spark.operators.denormalize import (
    CollectionSpec,
    DenormalizationSpec,
    EmbedSpec,
    build_variant,
)
from bigdatastructure_a5_spark.plans.metrics import run_with_metrics
from bigdatastructure_a5_spark.sources.generator import generate_tables
from bigdatastructure_a5_spark.sources.json_config import CollectionStats

DB_SIGNATURES = ("DB1", "DB2", "DB3", "DB4", "DB5")
DEFAULT_DB_SIGNATURE = "DB1"

#: the reference's base statistics (`query_simulator/config.py:17-30`)
N_CLIENTS = 10**7
N_PRODUCTS = 10**5
N_ORDER_LINES = 4 * 10**9
N_WAREHOUSES = 200
N_BRANDS = 5000
AVG_STOCK_PER_PROD = 200  # = N_WAREHOUSES
N_DATES = 365

#: flat schema (challenge S3 dialect) covering exactly the fields Q1-Q5
#: touch; avg_size values follow DOC_SIZES_BYTES proportions loosely
SCHEMA: dict[str, dict] = {
    "Product": {
        "primary_key": "IDP",
        "fields": {
            "IDP": {"type": "integer", "avg_size": 8},
            "brand": {"type": "string", "avg_size": 12},
        },
    },
    "Stock": {
        "primary_key": "IDS",
        "fields": {
            "IDS": {"type": "integer", "avg_size": 8},
            "IDP": {"type": "integer", "avg_size": 8},
            "IDW": {"type": "integer", "avg_size": 8},
            "quantity": {"type": "integer", "avg_size": 8},
        },
    },
    "OrderLine": {
        "primary_key": "IDO",
        "fields": {
            "IDO": {"type": "integer", "avg_size": 8},
            "IDP": {"type": "integer", "avg_size": 8},
            "IDC": {"type": "integer", "avg_size": 8},
            "odate": {"type": "string", "avg_size": 10},
        },
    },
    "Client": {
        "primary_key": "IDC",
        "fields": {"IDC": {"type": "integer", "avg_size": 8}},
    },
    "Warehouse": {
        "primary_key": "IDW",
        "fields": {"IDW": {"type": "integer", "avg_size": 8}},
    },
}


def scaled_stats(scale: float) -> dict[str, CollectionStats]:
    """The reference's counts scaled for local execution, with floors.

    The reference's magnitudes span 200 (warehouses) to 4x10^9 (order
    lines); one uniform scale collapses the small collections to a single
    row and makes every query degenerate.  Each collection therefore gets
    a floor, and NDVs of the predicate columns are proportioned to the
    scaled row counts (brand ~ rows/8, date ~ rows/16, both capped at the
    reference's true NDV) so a seeded literal is hit with near-certainty
    — above the floors, ratios follow the reference exactly."""
    prod = max(200, int(N_PRODUCTS * scale))
    wa = max(50, int(N_WAREHOUSES * scale))
    stock = max(prod * 4, int(N_PRODUCTS * AVG_STOCK_PER_PROD * scale))
    ol = max(2000, int(N_ORDER_LINES * scale))
    cl = max(200, int(N_CLIENTS * scale))
    brand_ndv = min(N_BRANDS, max(2, prod // 8))
    date_ndv = min(N_DATES, max(2, ol // 16))
    return {
        "Product": CollectionStats(prod, {"brand": brand_ndv}, {}, {}, None),
        "Stock": CollectionStats(stock, {}, {}, {}, None),
        "OrderLine": CollectionStats(ol, {"odate": date_ndv}, {}, {}, None),
        "Client": CollectionStats(cl, {}, {}, {}, None),
        "Warehouse": CollectionStats(wa, {}, {}, {}, None),
    }


#: The five database signatures of `schemas/db{1..5}.json`, as REAL layout
#: variants built by the denormalization workbench (the reference's
#: simulator accepts the signature but prices every one from the same size
#: table; here each signature materializes its actual layout and the
#: queries run against it).  Per the workbench convention, an embedding
#: target keeps its own join-key column alongside the embedded document.
LAYOUTS: dict[str, DenormalizationSpec] = {
    "DB1": DenormalizationSpec(
        id="DB1",
        description="fully normalized (db1.json)",
        collections=tuple(
            CollectionSpec(n)
            for n in ("Product", "Stock", "OrderLine", "Client", "Warehouse")
        ),
    ),
    "DB2": DenormalizationSpec(
        id="DB2",
        description="Product embeds its stocks array (db2.json)",
        collections=tuple(
            CollectionSpec(n)
            for n in ("Product", "OrderLine", "Client", "Warehouse")
        ),
        embeds=(
            EmbedSpec(
                source="Stock",
                target="Product",
                path="stocks",
                cardinality="many",
                target_key="IDP",
                source_key="IDP",
                fields=("IDW", "quantity"),
            ),
        ),
    ),
    "DB3": DenormalizationSpec(
        id="DB3",
        description="Stock embeds its product (db3.json)",
        collections=tuple(
            CollectionSpec(n)
            for n in ("Stock", "OrderLine", "Client", "Warehouse")
        ),
        embeds=(
            EmbedSpec(
                source="Product",
                target="Stock",
                path="product",
                cardinality="one",
                target_key="IDP",
                source_key="IDP",
                fields=("brand",),
            ),
        ),
    ),
    "DB4": DenormalizationSpec(
        id="DB4",
        description="OrderLine embeds its product (db4.json)",
        collections=tuple(
            CollectionSpec(n)
            for n in ("Stock", "OrderLine", "Client", "Warehouse")
        ),
        embeds=(
            EmbedSpec(
                source="Product",
                target="OrderLine",
                path="product",
                cardinality="one",
                target_key="IDP",
                source_key="IDP",
                fields=("brand",),
            ),
        ),
    ),
    "DB5": DenormalizationSpec(
        id="DB5",
        description="Product embeds its orderLines array (db5.json)",
        collections=tuple(
            CollectionSpec(n)
            for n in ("Product", "Stock", "Client", "Warehouse")
        ),
        embeds=(
            EmbedSpec(
                source="OrderLine",
                target="Product",
                path="orderLines",
                cardinality="many",
                target_key="IDP",
                source_key="IDP",
                fields=("IDO", "IDC", "odate"),
            ),
        ),
    ),
}

#: Q1-Q5 (`query_simulator/queries.py:16-126`) as real SQL, routed per
#: layout: where an embed covers the data a query needs, the layout's SQL
#: reads the embedded struct/array instead of joining (O14/O15 applied by
#: hand, exactly what the reference's planner rewrite would emit).  The
#: brand/date literals are seeded into the generated value space;
#: {IDP}/{IDW} are filled at simulate time from a real stock row so the
#: point lookup targets an existing (product, warehouse) pair.
#:
#: Documented reconstruction caveats: on layouts that drop the Product
#: collection, queries about products rebuild it from the embedding host,
#: so a product with no hosting row is invisible — DB4's Q2/Q4/Q5 miss
#: never-ordered products and DB3's Q2/Q5 miss never-stocked products.
#: That under-count is a property of the layout itself (the information
#: is simply not stored), not of this engine.  DB5's order-line explode
#: is complete: every order line is embedded in exactly its product (FK
#: integrity).
BRAND_LIT = "Apple"
DATE_LIT = "2024-03-15"

QUERIES: tuple[tuple[str, str, str, dict[str, str]], ...] = (
    (
        "Q1_stock_lookup",
        "filter",
        "Check stock for one product in one warehouse.",
        {
            "default": "SELECT quantity FROM Stock "
            "WHERE IDP = {IDP} AND IDW = {IDW}",
            "DB2": "SELECT s.quantity FROM Product "
            "LATERAL VIEW explode(stocks) t AS s "
            "WHERE IDP = {IDP} AND s.IDW = {IDW}",
        },
    ),
    (
        "Q2_brand_filter",
        "filter",
        "Find Apple products by brand.",
        {
            "default": f"SELECT IDP, brand FROM Product WHERE brand = '{BRAND_LIT}'",
            "DB3": "SELECT DISTINCT IDP, product.brand AS brand FROM Stock "
            f"WHERE product.brand = '{BRAND_LIT}'",
            "DB4": "SELECT DISTINCT IDP, product.brand AS brand FROM OrderLine "
            f"WHERE product.brand = '{BRAND_LIT}'",
        },
    ),
    (
        "Q3_orders_by_date",
        "filter",
        "Fetch order lines placed on a specific date.",
        {
            "default": f"SELECT IDO, IDP FROM OrderLine WHERE odate = '{DATE_LIT}'",
            "DB5": "SELECT ol.IDO, IDP FROM Product "
            "LATERAL VIEW explode(orderLines) t AS ol "
            f"WHERE ol.odate = '{DATE_LIT}'",
        },
    ),
    (
        "Q4_brand_stock_join",
        "join",
        "Join Apple products with their per-warehouse stock.",
        {
            "default": "SELECT p.IDP, s.IDW, s.quantity FROM Product p "
            "JOIN Stock s ON p.IDP = s.IDP "
            f"WHERE p.brand = '{BRAND_LIT}'",
            "DB2": "SELECT IDP, s.IDW, s.quantity FROM Product "
            "LATERAL VIEW explode(stocks) t AS s "
            f"WHERE brand = '{BRAND_LIT}'",
            "DB3": "SELECT IDP, IDW, quantity FROM Stock "
            f"WHERE product.brand = '{BRAND_LIT}'",
            "DB4": "SELECT s.IDP, s.IDW, s.quantity FROM Stock s JOIN ("
            "SELECT DISTINCT IDP FROM OrderLine "
            f"WHERE product.brand = '{BRAND_LIT}') p ON s.IDP = p.IDP",
        },
    ),
    (
        "Q5_orders_brand_client_join",
        "join",
        "Orders on a target date joined with Apple products and client "
        "info for downstream personalization/analytics.",
        {
            "default": "SELECT ol.IDO, p.brand, c.IDC FROM OrderLine ol "
            "JOIN Product p ON ol.IDP = p.IDP "
            "JOIN Client c ON ol.IDC = c.IDC "
            f"WHERE ol.odate = '{DATE_LIT}' AND p.brand = '{BRAND_LIT}'",
            "DB3": "SELECT ol.IDO, p.brand, c.IDC FROM OrderLine ol "
            "JOIN (SELECT DISTINCT IDP, product.brand AS brand FROM Stock) p "
            "ON ol.IDP = p.IDP JOIN Client c ON ol.IDC = c.IDC "
            f"WHERE ol.odate = '{DATE_LIT}' AND p.brand = '{BRAND_LIT}'",
            "DB4": "SELECT ol.IDO, ol.product.brand AS brand, c.IDC "
            "FROM OrderLine ol JOIN Client c ON ol.IDC = c.IDC "
            f"WHERE ol.odate = '{DATE_LIT}' "
            f"AND ol.product.brand = '{BRAND_LIT}'",
            "DB5": "SELECT e.IDO, e.brand, c.IDC FROM ("
            "SELECT ol.IDO, ol.IDC, brand FROM Product "
            "LATERAL VIEW explode(orderLines) t AS ol "
            f"WHERE brand = '{BRAND_LIT}' AND ol.odate = '{DATE_LIT}'"
            ") e JOIN Client c ON e.IDC = c.IDC",
        },
    ),
)


def simulate_queries(
    spark: SparkSession,
    db_signature: str = DEFAULT_DB_SIGNATURE,
    scale: float = 1e-4,
) -> list[dict]:
    """Generate the corpus, execute Q1-Q5, return reference-shaped result
    dicts (`query_simulator/runner.py:58-73`) with measured costs."""
    if db_signature not in DB_SIGNATURES:
        raise ValueError(
            f"unknown db signature {db_signature!r}; expected one of "
            f"{DB_SIGNATURES}"
        )
    literals = {"brand": [BRAND_LIT], "odate": [DATE_LIT]}
    # stats are pre-scaled (with floors) — generate at scale 1.0
    base = generate_tables(spark, SCHEMA, scaled_stats(scale), 1.0, literals)
    # the probe pair comes from the NORMALIZED base (exists in any layout)
    probe = base["Stock"].select("IDP", "IDW").first()
    variant = build_variant(base, LAYOUTS[db_signature])
    results: list[dict] = []
    with tempfile.TemporaryDirectory(prefix="qsim_") as storage:
        # the generically-named views (Product, Stock, ...) point into the
        # TemporaryDirectory — drop them on the way out, or they dangle
        # past the directory's deletion (and one signature's leftover view
        # would leak into the next signature's run if a layout omits it)
        try:
            for name, df in variant.items():
                path = f"{storage}/{name}"
                df.write.mode("overwrite").parquet(path)
                read_parquet(spark, path).createOrReplaceTempView(name)
            for qname, kind, desc, per_layout in QUERIES:
                sql = per_layout.get(db_signature, per_layout["default"])
                sql = sql.replace("{IDP}", str(probe.IDP)).replace(
                    "{IDW}", str(probe.IDW)
                )
                qm = run_with_metrics(spark, spark.sql(sql), qname)
                costs = qm.costs()
                results.append(
                    {
                        "query": {
                            "name": qname,
                            "kind": kind,
                            "description": desc,
                            "db_signature": db_signature,
                        },
                        "total": {
                            "label": "measured total",
                            "data_scanned_gb": qm.scanned_gb,
                            "shuffle_gb": qm.shuffle_gb,
                            "time_cost": costs["time"],
                            "carbon_cost": costs["carbon"],
                            "price_cost": costs["price"],
                            "rows": int(qm.output_rows),
                            "wall_sec": qm.wall_sec,
                        },
                    }
                )
        finally:
            for name in variant:
                spark.catalog.dropTempView(name)
    return results


def format_cost_results(results: list[dict]) -> str:
    """Text report in the reference's shape (runner.py:33-45)."""
    lines: list[str] = []
    for r in results:
        q, t = r["query"], r["total"]
        lines.append(f"{q['name']} — {q['description']}")
        lines.append(
            f"  {t['label']}: data={t['data_scanned_gb']:.6f} GB, "
            f"shuffle={t['shuffle_gb']:.6f} GB, time={t['time_cost']:.6f}, "
            f"carbon={t['carbon_cost']:.6f}, price={t['price_cost']:.6f} "
            f"| rows={t['rows']} wall={t['wall_sec']:.2f}s"
        )
        lines.append("")
    return "\n".join(lines).rstrip()


def run_cli(spark: SparkSession, db: str, as_json: bool, scale: float) -> str:
    results = simulate_queries(spark, db, scale)
    if as_json:
        return json.dumps(results, indent=2)
    return (
        f"QuerySimulator (executed) — db={db}, scale={scale}\n\n"
        + format_cost_results(results)
    )
