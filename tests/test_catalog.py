"""Catalog must be self-sufficient on ANY session (the driver's included)
and must surface ONE canonical events.ts type on every runtime.

An externally provided SparkSession need not set
``spark.sql.legacy.parquet.nanosAsLong``, without which a parquet
TIMESTAMP(NANOS) column raises PARQUET_TYPE_ILLEGAL; the catalog sets it
(``test_nanos_parquet_fixture_reads_canonical`` depends on it).  The
testdata's events.ts is TIMESTAMP(MICROS, not UTC-adjusted), which Spark
reads natively as TIMESTAMP_NTZ, and ``unix_micros`` rejects NTZ.  The
catalog canonicalizes every read path — native NTZ, legacy long-of-nanos,
and LTZ — to TIMESTAMP_NTZ, the naive wall-clock DuckDB's oracle sees.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F, types as T

from nlp_to_nosql_spark.sources.catalog import _normalize, load_table, register_tables

SF_DIR = "/root/testdata/sf0.001"

#: One canonical type, on every runtime and data vintage.
CANONICAL_TS = T.TimestampNTZType


def test_register_tables_without_legacy_conf(spark):
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        tables = register_tables(spark, SF_DIR)
        assert "events" in tables
        assert isinstance(tables["events"].schema["ts"].dataType, CANONICAL_TS)
        assert tables["events"].count() > 0
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_load_table_without_legacy_conf(spark):
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        ev = load_table(spark, SF_DIR, "events")
        assert isinstance(ev.schema["ts"].dataType, CANONICAL_TS)
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_nanos_parquet_fixture_reads_canonical(spark, tmp_path):
    """A TIMESTAMP(NANOS) parquet (the original regression trigger) loads
    as canonical NTZ with the stored wall-clock values intact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    wall = datetime.datetime(2024, 6, 1, 12, 34, 56, 789012)
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([wall], pa.timestamp("ns")),
        }
    )
    path = os.path.join(tmp_path, "events.parquet")
    # store_schema=False keeps Spark from short-circuiting through the
    # embedded Arrow schema — it must read the raw parquet NANOS type.
    pq.write_table(table, path, store_schema=False)

    ev = load_table(spark, str(tmp_path), "events")
    assert isinstance(ev.schema["ts"].dataType, CANONICAL_TS)
    assert ev.first()["ts"] == wall


def test_normalize_legacy_long_branch(spark):
    """Under nanosAsLong a TIMESTAMP(NANOS) ts surfaces as a long of nanos;
    _normalize must convert it to the same canonical NTZ wall-clock,
    independent of the session timezone."""
    wall = datetime.datetime(2024, 6, 1, 12, 34, 56, 789012)
    ns = int(wall.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) * 1000
    df = spark.createDataFrame([(1, ns)], "event_id long, ts long")
    out = _normalize(df, "events")
    assert isinstance(out.schema["ts"].dataType, CANONICAL_TS)
    assert out.first()["ts"] == wall


def test_normalize_ltz_branch(spark):
    """An LTZ read path (isAdjustedToUTC-honoring runtime) also lands on
    canonical NTZ."""
    wall = datetime.datetime(2024, 6, 1, 12, 34, 56, 789012)
    df = spark.createDataFrame(
        [(1, wall)],
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]
        ),
    )
    out = _normalize(df, "events")
    assert isinstance(out.schema["ts"].dataType, CANONICAL_TS)
    assert out.first()["ts"] == wall


def test_epoch_us_on_both_timestamp_types(spark):
    """epoch_us (the unix_micros replacement) returns identical integer
    micros for NTZ and LTZ columns holding the same UTC wall-clock."""
    from nlp_to_nosql_spark.functions.time import epoch_us, micros_to_ntz

    wall = datetime.datetime(2024, 6, 1, 12, 34, 56, 789012)
    want = int(wall.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    df = spark.createDataFrame(
        [(wall, wall)],
        T.StructType(
            [
                T.StructField("ntz", T.TimestampNTZType()),
                T.StructField("ltz", T.TimestampType()),
            ]
        ),
    )
    row = df.select(
        epoch_us("ntz").alias("a"),
        epoch_us("ltz").alias("b"),
        micros_to_ntz(epoch_us("ntz")).alias("rt"),
    ).first()
    assert row["a"] == want
    assert row["b"] == want
    assert row["rt"] == wall
