"""Table catalog: load the driver's parquet fixtures and register views.

The reference's ``DatabaseModel`` is a dict of collections built from JSON
schema/stats files (`/root/reference/main.py:126-134`,
`/root/reference/challenge/loader.py:149-182`).  Here a "database" is a set of
DataFrames registered as temp views; statistics come from the data itself
(Parquet footers + optional ANALYZE), not from a stats.json.

Scale note: each table is a ``spark.read.parquet`` — on a cluster this is a
distributed columnar scan with predicate pushdown and column pruning for
free, replacing the reference's whole-document scan cost model
(`challenge/simulator.py:69-70`).  Every engine read of a parquet path goes
through :func:`read_parquet`, which declares the schema Spark would infer
from the local footer (pyarrow, no Spark job) and keeps Spark's own
inference for remote URIs and for paths with no data file.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

#: canonical table names produced by the driver (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, table_path(sf_dir, name))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job.

    Spark infers a parquet schema with a Spark job that reads one footer.
    A local path's footer is read here with pyarrow instead
    (:func:`_probe_footer`) and the schema is declared, so building the
    frame runs no job; partition columns are still discovered.  Remote
    URIs, a missing path and an existing dir with no data file keep the
    plain inferring read, so PATH_NOT_FOUND and UNABLE_TO_INFER_SCHEMA
    surface exactly as before.

    INT64 TIMESTAMP(NANOS) columns (pandas' default; Spark has no
    nanosecond type and raises PARQUET_TYPE_ILLEGAL) are read as bigint
    through the legacy conf, then converted with integer division —
    ``ts DIV 1000`` — NOT double division, which silently corrupts
    epoch-nanos (~1.7e18 exceeds a double's 53-bit mantissa, drifting the
    result by hundreds of ns).  Truncating division matches how
    DuckDB/Arrow cast ns->us."""
    from pyspark.sql import functions as F

    schema, nanos_cols = _probe_footer(path)
    if nanos_cols:
        # left set for the session: execution of the (lazy) scan below
        # re-reads the conf, and it only affects nanos-typed files — which
        # are always converted right here
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def _probe_footer(path: str) -> tuple[StructType | None, list[str]]:
    """(schema Spark would infer, top-level INT64 TIMESTAMP(NANOS) columns)
    from the first data file's footer; the schema is None when Spark must
    infer it itself.

    A Spark-written file carries its schema under the footer key
    ``org.apache.spark.sql.parquet.row.metadata``, which is what Spark's
    own inference reads.  Any other file is mapped from its arrow schema,
    tz-naive timestamps as ``timestamp_ntz`` (as Spark reads them), INT96
    as ``timestamp`` and nanos as ``bigint``.
    Nanos are detected by the parquet logical type: pyarrow also reports
    INT96 as ``timestamp[ns]``, but Spark reads INT96 natively.  A type
    outside :func:`_maps_like_spark` or a nested INT96 or nanos leaf gives
    no schema.  A non-local URI (s3://, hdfs://), a missing path, a dir
    with no data file and an unreadable footer give no schema and no nanos
    columns: the driver's pyarrow may lack the credentials Spark has."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if "://" in path or not os.path.exists(path):
        return None, []
    data_file = _first_data_file(path)
    if data_file is None:
        return None, []
    try:
        meta = pq.read_metadata(data_file)
    except (OSError, pa.ArrowException):
        return None, []
    spark_schema = (meta.metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    if spark_schema is not None:  # Spark never writes nanos
        return StructType.fromJson(json.loads(spark_schema)), []
    nanos, int96, nested = [], [], False
    for i in range(meta.num_columns):
        col = meta.schema.column(i)
        if col.physical_type == "INT96":
            kind = int96
        elif (
            col.physical_type == "INT64"
            and col.logical_type.type == "TIMESTAMP"
            and "timeUnit=nanoseconds" in str(col.logical_type)
        ):
            kind = nanos
        else:
            continue
        if col.path == col.name:
            kind.append(col.name)
        else:
            nested = True
    if nested:
        return None, nanos
    from pyspark.sql.pandas.types import from_arrow_type

    fields = []
    for f in meta.schema.to_arrow_schema():
        if f.name in nanos:
            t = LongType()
        elif f.name in int96:
            t = TimestampType()
        elif _maps_like_spark(f.type):
            t = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        else:
            return None, nanos
        fields.append(StructField(f.name, t, True))
    return StructType(fields), nanos


def _maps_like_spark(t) -> bool:
    """Arrow types that ``from_arrow_type`` maps to the type Spark's parquet
    reader gives the same column.  Left out on purpose: unsigned ints
    (Spark widens them), durations and the null type (Spark reads their
    physical INT64/INT32), time-of-day and float16."""
    import pyarrow.types as pt

    if pt.is_dictionary(t):
        return _maps_like_spark(t.value_type)
    if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        return _maps_like_spark(t.value_type)
    if pt.is_map(t):
        return _maps_like_spark(t.key_type) and _maps_like_spark(t.item_type)
    if pt.is_struct(t):
        return all(_maps_like_spark(f.type) for f in t)
    return (
        pt.is_boolean(t)
        or pt.is_signed_integer(t)
        or pt.is_float32(t)
        or pt.is_float64(t)
        or pt.is_string(t)
        or pt.is_large_string(t)
        or pt.is_binary(t)
        or pt.is_large_binary(t)
        or pt.is_fixed_size_binary(t)
        or pt.is_date(t)
        or pt.is_timestamp(t)
        or pt.is_decimal128(t)
    )


def _first_data_file(path: str) -> str | None:
    """The first data file under ``path`` in sorted path order, the way
    Spark lists a parquet dir: ``_*`` and ``.*`` entries (``_SUCCESS``,
    ``.crc``) are skipped and ``key=value`` partition dirs descended.  Any
    other subdir returns None, leaving the layout to Spark."""
    if os.path.isfile(path):
        return path
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")):
            continue
        p = os.path.join(path, name)
        if not os.path.isdir(p):
            return p
        if "=" not in name:
            return None
        found = _first_data_file(p)
        if found is not None:
            return found
    return None


def local_table_path(sf_dir: str, name: str) -> str | None:
    """The table's path IF it is a plain local file, else None.

    Gate for driver-side metadata fetches (a query vector, a 16-row
    codebook): when the corpus sits on the driver's own filesystem, a
    pyarrow point-read costs ~10 ms where the equivalent Spark job pays
    ~300 ms of scheduling for the same handful of rows.  Any non-local
    URI (s3://, hdfs://, ...) returns None and the caller keeps the
    distributed fetch."""
    p = table_path(sf_dir, name)
    # a Spark-written table is a DIRECTORY of part files — pyarrow reads
    # those as a dataset just like a single file, so both count as local
    return p if (os.path.isfile(p) or os.path.isdir(p)) else None


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap data-identity token for session temp-view cache keys.

    A temp view over a parquet read freezes Spark's resolved file index
    (path, length, modification time); a view keyed only on parameters
    would keep serving that stale index after the fixture is regenerated
    mid-session — FileReadException at best, silently scoring the old
    corpus at worst.  Hashing the file stats into the key makes any
    rewrite produce a fresh view.  Non-local URIs return a constant (no
    staleness guard — a production corpus is immutable-by-convention and
    governed by Spark's own file index refresh semantics)."""
    import hashlib

    path = local_table_path(sf_dir, name)
    if path is None:
        return "remote"
    parts = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, f))
            parts.append(f"{f}|{st.st_size}|{st.st_mtime_ns}")
    else:
        st = os.stat(path)
        parts.append(f"{path}|{st.st_size}|{st.st_mtime_ns}")
    return hashlib.md5("||".join(parts).encode()).hexdigest()[:12]


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load every fixture table that exists under ``sf_dir``.

    Existence is probed with ``os.path.exists`` only for LOCAL paths; a
    URI scheme (s3://, hdfs://, ...) is never a local path, so gating on
    it would silently load zero tables from a remote corpus.  Remote
    tables are read through Spark (which holds the credentials/filesystem
    the driver's os module does not), and a missing one is skipped with
    the same semantics as a missing local fixture."""
    out: dict[str, DataFrame] = {}
    remote = "://" in sf_dir
    for name in names:
        path = table_path(sf_dir, name)
        if remote:
            from pyspark.errors import AnalysisException

            try:
                out[name] = read_parquet(spark, path)
            except AnalysisException as exc:
                # Only "table absent" is skippable.  A corrupt footer,
                # unsupported type, or access failure also surfaces as an
                # AnalysisException; swallowing those would hand the caller
                # a silently-incomplete table dict on a remote corpus.
                cond = (
                    exc.getCondition()
                    if hasattr(exc, "getCondition")
                    else exc.getErrorClass()
                ) or ""
                if "PATH_NOT_FOUND" in cond:
                    continue
                raise
        elif os.path.exists(path):
            # the SAME reader load_table uses — a raw read would crash on
            # TIMESTAMP(NANOS) fixtures (or, with the legacy conf already
            # set session-wide, silently register ts as raw nanos)
            out[name] = read_parquet(spark, path)
    return out


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` works against the
    same names DuckDB pre-registers (driver contract in ``__spark_entry__``)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
