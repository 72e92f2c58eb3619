"""catalog.read_parquet: the schema declared from the local footer equals
the one Spark infers, and building the frame runs no Spark job."""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.catalog import TABLES, load_table, read_parquet

SCALES = sorted(
    d for d in os.listdir("/root/testdata") if d.startswith("sf")
) if os.path.isdir("/root/testdata") else []

TS = datetime.datetime(2021, 3, 4, 5, 6, 7, 123456)


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _inferring_read(spark, path, nanos_cols=()):
    """The read before footer-declared schemas: Spark's own inference,
    nanos columns as bigint through the legacy conf, then ``DIV 1000``."""
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def _declared(spark, path):
    before = _jobs(spark)
    df = read_parquet(spark, path)
    assert _jobs(spark) == before, f"{path}: building the frame ran a job"
    return df


@pytest.mark.parametrize("scale", SCALES)
@pytest.mark.parametrize("table", TABLES)
def test_fixture_schema_equals_inferred_with_no_job(spark, scale, table):
    path = f"/root/testdata/{scale}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    assert _declared(spark, path).schema == _inferring_read(spark, path).schema


def _write_pyarrow(tmp_path, name, table, **kw):
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(table, path, **kw)
    return path


SYNTHETIC = {
    "ts_utc": lambda: pa.table(
        {"ts": pa.array([TS], pa.timestamp("us", "UTC")), "k": [1]}
    ),
    "empty": lambda: pa.table(
        {
            "id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "s": pa.array([], pa.string()),
        }
    ),
    "nested": lambda: pa.table(
        {
            "amount": pa.array([decimal.Decimal("12.34")], pa.decimal128(18, 2)),
            "info": pa.array([{"a": 1, "b": "x", "c": [1.5]}]),
            "vec": pa.array([[1.0, 2.0]], pa.list_(pa.float32())),
        }
    ),
}


@pytest.mark.parametrize("name", sorted(SYNTHETIC))
def test_synthetic_schema_equals_inferred_with_no_job(spark, tmp_path, name):
    path = _write_pyarrow(tmp_path, name, SYNTHETIC[name]())
    got = _declared(spark, path)
    want = _inferring_read(spark, path)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_pyarrow_int96_reads_as_timestamp_with_no_job(spark, tmp_path):
    table = pa.table({"ts": pa.array([TS], pa.timestamp("us")), "k": [1]})
    path = _write_pyarrow(
        tmp_path, "int96", table, use_deprecated_int96_timestamps=True
    )
    assert pq.ParquetFile(path).metadata.schema.column(0).physical_type == "INT96"
    got = _declared(spark, path)
    assert got.schema == _inferring_read(spark, path).schema
    assert got.schema["ts"].dataType.simpleString() == "timestamp"


def test_nanos_schema_and_values_equal_the_inferring_path(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, -1_999, None]
    table = pa.table({"ts": pa.array(ns, pa.timestamp("ns")), "k": [1, 2, 3]})
    path = _write_pyarrow(tmp_path, "nanos", table)
    col = pq.ParquetFile(path).metadata.schema.column(0)
    assert (col.physical_type, str(col.logical_type.type)) == ("INT64", "TIMESTAMP")
    got = _declared(spark, path)
    want = _inferring_read(spark, path, nanos_cols=("ts",))
    assert got.schema == want.schema
    assert got.orderBy("k").collect() == want.orderBy("k").collect()


def test_spark_partitioned_dir_schema_equals_inferred_with_no_job(
    spark, tmp_path
):
    path = str(tmp_path / "parted")
    spark.range(6).select(
        "id",
        (F.col("id") % 3).alias("bucket"),
        F.lit(TS).alias("ts"),
    ).write.partitionBy("bucket").parquet(path)
    names = {n for _, _, fs in os.walk(path) for n in fs}
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    got = _declared(spark, path)
    want = _inferring_read(spark, path)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


@pytest.mark.parametrize(
    "arr",
    [
        pa.array([1], pa.uint8()),
        pa.array([1], pa.uint64()),
        pa.array([1], pa.duration("us")),
        pa.array([None], pa.null()),
    ],
    ids=["uint8", "uint64", "duration", "null"],
)
def test_types_spark_maps_differently_keep_inference(spark, tmp_path, arr):
    path = _write_pyarrow(tmp_path, "odd", pa.table({"c": arr}))
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_missing_and_empty_paths_keep_spark_errors(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "absent"))
    (tmp_path / "empty").mkdir()
    (tmp_path / "empty" / "_SUCCESS").touch()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(tmp_path / "empty"))


def test_spark_written_int96_table_loads_as_timestamp(spark, tmp_path):
    """pyarrow reports INT96 as timestamp[ns]; it is not nanos, and Spark
    reads it natively as ``timestamp`` — no ``DIV 1000``."""
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.createDataFrame([(1, TS)], "k int, ts timestamp").write.parquet(
            str(tmp_path / "t96.parquet")
        )
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    df = load_table(spark, str(tmp_path), "t96")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert [r.ts for r in df.collect()] == [TS]
