"""File-format connectors beyond parquet: CSV and JSON-lines readers/writers.

The reference has no data connectors at all (its only file I/O is JSON
*config* — SURVEY.md §2.1: "File formats: JSON only... there is no data");
the driver fixtures are parquet.  These connectors exist so the engine can
ingest the two interchange formats every real pipeline meets, with the
scale disciplines baked in rather than left to the caller:

- **Explicit schema, never ``inferSchema``**: inference reads the data
  twice and types drift between samples; at 100 TB it is a full extra pass.
  Both readers REQUIRE a ``StructType`` (compose with
  ``sources.schema_loader.json_schema_to_spark`` to drive it from the same
  JSON-Schema files the reference uses).
- **PERMISSIVE + corrupt-record capture**: bad rows land in
  ``_corrupt_record`` instead of killing a 10-hour job; ``strict=True``
  switches to FAILFAST for ingestion tests.
- **Write path defaults to snappy parquet**: CSV/JSON are ingestion
  formats; anything downstream should read columnar.  ``csv_to_parquet`` /
  ``jsonl_to_parquet`` are the one-pass converters.

CSV pushdown caveat (documented, asserted in tests): Spark prunes *columns*
on CSV scans but cannot skip row groups or push predicates the way parquet
does — another reason the converters exist.

Gate coverage note: NO registry gate query reads CSV/JSON-lines/ORC — the
driver fixtures are parquet and the 50-query registry reads them as-is, so
these connectors are exercised by pytest only (`tests/test_connectors.py`:
quarantine, strict mode, pushdown/pruning, roundtrips, and an ORC *twin* of
the registry's `agg_pricing_summary` asserting the same logical query over
an ORC copy of lineitem returns bit-identical rows).  That is deliberate:
the connectors are ingestion surfaces, and the engine's query semantics are
format-independent once a DataFrame exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from bigdatastructure_a5_spark.catalog import read_parquet

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    """PERMISSIVE mode only captures bad rows if the schema has a slot."""
    from pyspark.sql.types import StringType

    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
    strict: bool = False,
) -> DataFrame:
    """CSV reader with a REQUIRED explicit schema (no inference pass)."""
    reader = (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
    )
    if strict:
        return reader.schema(schema).load(path)
    out = reader.schema(_with_corrupt(schema)).load(path)
    return out


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    strict: bool = False,
) -> DataFrame:
    """JSON-lines reader with a REQUIRED explicit schema.  One JSON object
    per line (the only JSON layout that splits across tasks — a single
    multiline document cannot be read in parallel)."""
    reader = spark.read.format("json").option(
        "mode", "FAILFAST" if strict else "PERMISSIVE"
    )
    if strict:
        return reader.schema(schema).load(path)
    return reader.schema(_with_corrupt(schema)).load(path)


def good_rows(df: DataFrame) -> DataFrame:
    """Drop captured corrupt rows (and the capture column)."""
    from pyspark.sql import functions as F

    if CORRUPT_COL not in df.columns:
        return df
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def bad_rows(df: DataFrame) -> DataFrame:
    """The quarantine side: raw text of rows that failed the schema.

    Spark refuses to answer queries that reference ONLY ``_corrupt_record``
    over a raw file scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    COLUMN) — the parsed rows must be materialized first.  The full parsed
    frame is cached only for the duration of the quarantine extraction and
    released immediately (materialize_release): leaving a corpus-sized
    ingest cache pinned for the session is exactly the discipline failure
    this module exists to prevent.  Quarantines are small by assumption; a
    pipeline expecting bulk rejects should land them to a file instead."""
    from pyspark.sql import functions as F

    from bigdatastructure_a5_spark.session import materialize_release

    cached = df.cache()
    quarantine = cached.filter(F.col(CORRUPT_COL).isNotNull()).select(
        CORRUPT_COL
    )
    return materialize_release(quarantine, [cached])


def write_parquet(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """Columnar landing zone: snappy parquet, optional partition columns."""
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def csv_to_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    schema: StructType,
    partition_by: tuple[str, ...] = (),
    **csv_opts,
) -> DataFrame:
    """One-pass CSV -> parquet conversion (drop corrupt rows, land columnar);
    returns the parquet-backed DataFrame."""
    write_parquet(
        good_rows(read_csv(spark, src, schema, **csv_opts)), dst, partition_by
    )
    return read_parquet(spark, dst)


def jsonl_to_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    schema: StructType,
    partition_by: tuple[str, ...] = (),
    strict: bool = False,
) -> DataFrame:
    """One-pass JSON-lines -> parquet conversion; returns the parquet-backed
    DataFrame.  ``strict=True`` converts FAILFAST (symmetric with
    csv_to_parquet's option passthrough)."""
    write_parquet(
        good_rows(read_jsonl(spark, src, schema, strict=strict)),
        dst,
        partition_by,
    )
    return read_parquet(spark, dst)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader — the other columnar interchange format (Hive-ecosystem
    tables arrive as ORC about as often as parquet).  Unlike CSV/JSON-lines
    this is self-describing columnar: no schema argument, and predicate
    pushdown + column pruning work exactly as on parquet (asserted in
    tests), so an ORC-resident table can be queried in place — conversion
    is an optimization (parquet is this engine's native layout), not a
    requirement."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """ORC sink (snappy), mirroring write_parquet — for handing results to
    Hive-ecosystem consumers."""
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def orc_to_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """One-pass ORC -> parquet conversion; returns the parquet-backed
    DataFrame (columnar to columnar, so no corrupt-row quarantine — ORC
    files are schema-checked at read)."""
    write_parquet(read_orc(spark, src), dst, partition_by)
    return read_parquet(spark, dst)
